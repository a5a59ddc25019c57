package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inverted index (token → posting list) — the lookup artifact behind
  * corpus attribution, contamination tracing, and "which documents contain
  * this string" queries at training-data scale.
  *
  * Per token: `df` (number of documents containing it) and `postings` (the
  * first `maxPostings` doc ids in ascending order). The cap is what makes
  * the build scale-safe: a stop-word's full posting list is the corpus
  * itself, so an uncapped `collect_list` would hand one aggregation buffer
  * the whole dataset. Here `df` comes from a plain count (map-side
  * combined, constant-size state), and only rows surviving a per-token
  * `row_number ≤ maxPostings` window reach the list aggregation. Catalyst
  * compiles that filtered window to a PARTIAL `WindowGroupLimit` below the
  * exchange (pinned in InvertedIndexSpec): every map task pre-trims to the
  * top `maxPostings` doc ids per token, so even a stop-word ships at most
  * `maxPostings × tasks` rows through the shuffle — the collect_list
  * buffer is bounded by construction.
  */
object InvertedIndex {

  def postings(docs: DataFrame, idCol: String, textCol: String,
               maxPostings: Int): DataFrame = {
    require(maxPostings > 0, "maxPostings must be positive")
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("token"))
    val dfCounts = toks.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    val capped = toks.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPostings)
      .groupBy(col("token"))
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"))
    dfCounts.join(capped, Seq("token"))
  }

  /** Exact-phrase search, scan form: (doc_id, n_matches) for every
    * document containing the token sequence `phrase`, counting every
    * (overlapping) start position. Each document verifies its OWN token
    * array in place — `size(filter(starts, all-terms-align))` — so the
    * plan is a single scan with zero explode, zero shuffle and zero
    * joins: the right phrase plan when no index exists, at any corpus
    * size. The token array is staged once (staged-projection
    * discipline); the oracle replays the same start-position
    * comprehension.
    */
  def phraseMatches(docs: DataFrame, idCol: String, textCol: String,
                    phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val n = phrase.length
    // Cheap pushable prefilter on the RAW text (every phrase term must
    // appear as a substring — necessary, not sufficient), so the exact
    // count below runs on the few candidate docs. Filtering on the
    // n_matches alias inlines its tree into the pushed-down Filter (the
    // round-7 pushdown-inlining lesson): with the prefilter that double
    // evaluation bills only on candidates, not the corpus.
    val pre = phrase.distinct.map(t => col(textCol).contains(t)).reduce(_ && _)
    // Count via arrays_zip of n SHIFTED SLICES, filtered on the struct's
    // own fields: the lambda body never references the token array, so
    // when pushdown inlines this tree into the Filter the tokenizer runs
    // a constant ~2n times per row — a lambda body that indexed the
    // outer array (element_at(__ws, s+j)) re-tokenizes PER ELEMENT once
    // inlined, O(len²) per candidate (seen in the plan audit).
    def nMatches(ws: Column): Column = {
      val starts = greatest(size(ws) - (n - 1), lit(0)) // 0 when doc < phrase
      val zipped = arrays_zip(phrase.indices.map(j =>
        slice(ws, lit(j + 1), starts)): _*)
      size(filter(zipped, p =>
        phrase.zipWithIndex.map { case (t, j) =>
          p.getField(j.toString) === lit(t)
        }.reduce(_ && _)))
    }
    docs.filter(pre)
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("__ws"))
      .select(col("doc_id"), nMatches(col("__ws")).cast("long").as("n_matches"))
      .filter(col("n_matches") >= 1L)
  }

  /** Exact-phrase search, positional-index form: the corpus explodes to
    * (doc, pos, token) occurrences, keeps ONLY the phrase's terms (the
    * pushed-down `isin` makes each side posting-sized, never
    * corpus-sized), and verifies adjacency by equi-joining term i's
    * occurrences to term i+1's on (doc, pos + 1). Agrees with
    * [[phraseMatches]] on every input (spec-pinned, overlapping matches
    * included); the shape to prefer when the occurrence table is already
    * materialized as an index and a corpus re-scan is the thing being
    * avoided.
    */
  def phraseSearchIndexed(docs: DataFrame, idCol: String, textCol: String,
                          phrase: Seq[String]): DataFrame =
    chainAdjacency(positionalOccurrences(docs, idCol, textCol), phrase)

  /** The positional-occurrence frame (doc_id, pos, token) — one row per
    * token occurrence; the storage layout of the materialized phrase
    * index.
    */
  def positionalOccurrences(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("pos", "token")))

  /** Materialize the positional occurrences as a parquet table BUCKETED
    * by doc_id and sorted by (token, pos). The layout choice is the
    * whole point: per-term scans prune row groups on the token sort
    * order, and every query-time operation — the n−1 adjacency
    * self-joins on doc_id AND the final per-doc match count — is
    * co-located by the bucketing, so a stored phrase search plans with
    * ZERO shuffle Exchange (PlanSpec-pinned). Build once per corpus
    * (one tokenize + one bucketed write); at 100 TB the index is the
    * difference between re-tokenizing the corpus per phrase query and
    * an exchange-free probe of the few matching row groups.
    */
  def buildPhraseStore(docs: DataFrame, idCol: String, textCol: String,
                       table: String, buckets: Int,
                       path: Option[String] = None): Unit = {
    // Rebuild contract: a build REPLACES any prior index under this name.
    // Dropping a known MANAGED table removes its data with it, but two
    // stale-location hazards remain: (a) a previous session's warehouse
    // directory surviving without catalog metadata (in-memory catalog +
    // durable warehouse), and (b) an EXTERNAL location (`path`) whose data
    // outlives its DROP by design. overwrite-saveAsTable only replaces
    // tables the catalog knows about and errors LOCATION_ALREADY_EXISTS on
    // a surviving directory, so the stale location is removed through the
    // HADOOP FileSystem API — resolving file:, hdfs://, s3a://, or any
    // other configured scheme alike (the round-9 java.io.File cleanup
    // silently supported file: warehouses only).
    require(!table.contains("."),
      s"buildPhraseStore expects an unqualified table name, got '$table'")
    val spark = docs.sparkSession
    path match {
      case Some(p) =>
        // external location: data outlives DROP by design — always clear it
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
        val loc = new org.apache.hadoop.fs.Path(p)
        val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(loc)) fs.delete(loc, true)
      case None =>
        graft.sources.Sinks.dropTableAndStaleLocation(spark, table)
    }
    val occ = positionalOccurrences(docs, idCol, textCol)
    path match {
      case Some(p) =>
        // external table: catalog holds only metadata (incl. the bucket
        // spec); the index data lives wherever `p` points — the
        // object-store deployment shape
        occ.write.mode("overwrite").format("parquet").option("path", p)
          .bucketBy(buckets, "doc_id").sortBy("token", "pos")
          .saveAsTable(table)
      case None =>
        graft.sources.Sinks.parquetBucketed(occ, table, buckets,
          bucketCols = Seq("doc_id"), sortCols = Seq("token", "pos"))
    }
  }

  /** Create-or-append the positional phrase index: one batch's
    * occurrence rows append under the SAME doc_id bucket spec (Spark
    * enforces the match), so the accumulated store is row-identical to
    * a [[buildPhraseStore]] one-shot over the union — occurrences are
    * PER-DOC facts, so batches compose with no cross-batch state (the
    * [[IncrementalDedup.appendToStore]] pattern for the posting
    * family). Sort order holds per append file, which row-group
    * pruning still exploits; compact on a maintenance cadence
    * ([[graft.sources.Sinks.rewriteStaged]]) to restore one file per
    * bucket.
    */
  def appendToPhraseStore(docs: DataFrame, idCol: String, textCol: String,
                          table: String, buckets: Int): Unit =
    positionalOccurrences(docs, idCol, textCol)
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "doc_id").sortBy("token", "pos")
      .saveAsTable(table)

  /** Exact-phrase search over a [[buildPhraseStore]] table — same
    * semantics as [[phraseMatches]]/[[phraseSearchIndexed]]
    * (spec-pinned), zero Exchange at query time. Occurrences are
    * DEDUPLICATED first: (doc_id, pos, token) is naturally unique in a
    * clean store (pos is per-doc unique), but a streaming ingest's
    * crash window can re-append a batch, and a duplicated occurrence
    * row would MULTIPLY through the adjacency chain (unlike the
    * dedup/KMV/ANN stores, whose downstream derivations are distinct
    * pair sets). The dedup stays exchange-free: the phrase's isin
    * filter pushes below the aggregate, so it runs posting-sized, and
    * the doc_id bucketing satisfies the (doc_id, pos, token) clustering
    * (PlanSpec's q104 zero-Exchange pin covers this plan).
    */
  def phraseSearchStored(spark: org.apache.spark.sql.SparkSession,
                         table: String, phrase: Seq[String]): DataFrame =
    chainAdjacency(
      spark.table(table).dropDuplicates("doc_id", "pos", "token"), phrase)

  /** Unordered proximity search (NEAR/w — the unordered span query):
    * documents where `termA` and `termB` co-occur within `win` token
    * positions, with the occurrence-pair count and the closest gap —
    * the relevance signal phrase search is too rigid for ("merge near
    * join", any order, same clause). Both postings prune on the
    * store's token sort order and the pair join + per-doc aggregate
    * key on doc_id throughout, so [[proximitySearchStored]] plans
    * exchange-free on the doc_id-bucketed phrase store — ONE index
    * serves phrase and proximity queries alike.
    *
    * @return (`doc_id`, `n_near`, `min_gap`) — n_near = occurrence
    *         pairs within the window, min_gap = the closest |posA −
    *         posB|; docs without a qualifying pair are absent
    */
  def proximityMatches(docs: DataFrame, idCol: String, textCol: String,
                       termA: String, termB: String, win: Int): DataFrame =
    proximityCore(positionalOccurrences(docs, idCol, textCol),
      termA, termB, win)

  /** [[proximityMatches]] over a materialized phrase store (the q104
    * layout; the dropDuplicates mirrors [[phraseSearchStored]]'s
    * at-least-once store-row tolerance).
    */
  def proximitySearchStored(spark: org.apache.spark.sql.SparkSession,
                            table: String, termA: String, termB: String,
                            win: Int): DataFrame =
    proximityCore(spark.table(table).dropDuplicates("doc_id", "pos", "token"),
      termA, termB, win)

  private def proximityCore(occ: DataFrame, termA: String, termB: String,
                            win: Int): DataFrame = {
    require(termA != termB,
      "proximity terms must differ (a self-pair has gap 0 by definition)")
    require(win >= 1, "win must be >= 1")
    val a = occ.filter(col("token") === termA)
      .select(col("doc_id"), col("pos").as("__pa"))
    val b = occ.filter(col("token") === termB)
      .select(col("doc_id").as("__d2"), col("pos").as("__pb"))
    a.join(b, a("doc_id") === col("__d2")
        && abs(col("__pa") - col("__pb")) <= win)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near"),
        min(abs(col("__pa") - col("__pb"))).cast("long").as("min_gap"))
  }

  /** Adjacency chain over an occurrence frame: start from the phrase
    * head's positions, join each next term at pos+1, count chains per
    * doc. Join and count key is doc_id throughout, so a doc_id-bucketed
    * source keeps the whole chain exchange-free.
    */
  private def chainAdjacency(occ0: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val occ = occ0.filter(col("token").isin(phrase.distinct: _*))
    val first = occ.filter(col("token") === phrase.head)
      .select(col("doc_id"), col("pos").as("end_pos"))
    val chained = phrase.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (t, _)) =>
        val o = occ.filter(col("token") === t)
          .select(col("doc_id").as("__d2"), col("pos").as("__p2"))
        acc.join(o, acc("doc_id") === col("__d2")
            && col("__p2") === acc("end_pos") + 1)
          .select(col("doc_id"), col("__p2").as("end_pos"))
    }
    chained.groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
  }
}
