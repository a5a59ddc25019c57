package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

/** One maintenance entry point for every incremental-store family.
  *
  * The store families accumulate state through per-batch appends, and
  * each has its own maintenance verb: bucketed-log rewrite
  * (dedup/ANN/phrase/winnow/gram/histogram), partitioned rewrite (IVF),
  * per-group sketch fold (KMV), per-node minimum collapse + edge-log
  * dedup (distance), superseded snapshot eviction (MST), tail reset
  * (skip-gram window, session open interval), and tombstone purge (dedup
  * deletion). Each is one [[graft.sources.Sinks.rewriteStaged]] that
  * differs only in which rows survive. [[maintainStore]] turns that
  * per-family lore into an API: it inspects the table — companion
  * tables, schema, bucket spec, and the family properties the ingests
  * stamp — decides which compactions apply, runs them, and reports what
  * it did.
  *
  * The invariant every branch shares (and StoreMaintenanceSpec pins per
  * family): a maintenance pass NEVER changes what the store serves —
  * every compaction is a physical rewrite of logically-identical state,
  * with the bucket/partition spec preserved so every downstream plan
  * keeps its shape. The only semantic-looking member is the tombstone
  * purge, and its serve-parity was already the mask's contract
  * (purge ≡ mask, spec-pinned in IncrementalDedupSpec).
  *
  * Single-writer contract: run between ingests, never concurrently with
  * one — the same rule every per-family compaction already carries.
  */
object StoreMaintenance {

  /** Tails-table property recording the skip-gram ingest window — stamped
    * by [[StoreIngest.ingestSkipGramStore]] when it creates the tails
    * table, read back here so the tail compaction needs no caller-carried
    * parameter.
    */
  val SkipGramWindowProp = "graft.skipgram.window"

  /** Store-table property recording the KMV sketch size k — stamped by
    * [[StoreIngest.ingestKmvStore]] at store creation. Folding with the
    * wrong k is NOT safe (bottom-k' of the union with k' < k drops minima
    * a true-k read needs), so without the property the dispatcher falls
    * back to the always-safe pure bucketed rewrite instead of guessing.
    */
  val KmvKProp = "graft.kmv.k"

  /** Tails-table property recording the session ingest's gap threshold in
    * microseconds — stamped by [[StoreIngest.ingestSessionStore]] at tails
    * creation. The tail compaction itself needs no parameter (latest
    * committed row per user); the property is the operational record of
    * the family parameter, which the compaction swap re-applies like
    * every `graft.*` property.
    */
  val SessionGapProp = "graft.session.gap_us"

  private def props(spark: SparkSession, table: String): Map[String, String] =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(table)).properties

  /** Run every maintenance action the store's family defines, in the safe
    * order (deletion purge before log rewrites), and return a human-readable
    * line per action taken. Unknown layouts are reported, not guessed at —
    * a store this code can't classify keeps serving correctly un-maintained,
    * which is the right failure mode for an operational pass.
    */
  def maintainStore(spark: SparkSession, table: String): Seq[String] = {
    require(spark.catalog.tableExists(table), s"no such table: '$table'")
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    val cat = spark.sessionState.catalog
    val cols = spark.table(table).columns.toSet
    val ledger = StoreIngest.ledgerTable(table)
    val hasLedger = spark.catalog.tableExists(ledger)
    val tails = StoreIngest.tailsTable(table)
    val edges = StoreIngest.distanceEdgeTable(table)
    val tomb = graft.operators.IncrementalDedup.tombstoneTable(table)
    var mainRewritten = false

    // deletion state first: the purge is itself a spec-preserving rewrite
    // of the main table, so later branches must not rewrite it again
    if (spark.catalog.tableExists(tomb)) {
      val partitioned = cat.getTableMetadata(TableIdentifier(table))
        .partitionColumnNames.nonEmpty
      if (partitioned) {
        // the cell-partitioned IVF store: partition-local purge — only
        // affected cells rewrite, untouched cells' files are left alone
        // (the point of the layout), so skip the generic full rewrite
        // this pass; a later tombstone-free pass compacts if needed
        graft.operators.Similarity.purgeIvfTombstoned(spark, table)
        actions += s"purged tombstoned embeddings of '$table' (affected cells only)"
        mainRewritten = true
      } else {
        graft.operators.IncrementalDedup.purgeTombstoned(spark, table)
        actions += s"purged tombstoned rows of '$table' (bucketed rewrite, tombstone table dropped)"
        mainRewritten = true
      }
    }

    if (spark.catalog.tableExists(edges) && hasLedger) {
      // distance store: collapse the improvements log to the per-node
      // fixpoint and the edge log to its distinct support
      StoreIngest.compactDistanceStore(spark, table)
      StoreIngest.compactDistanceEdgeLog(spark, table)
      actions += s"collapsed distance store '$table' to per-node minima"
      actions += s"deduplicated distance edge log '$edges'"
      mainRewritten = true
    } else if (cols.contains("snap") && hasLedger) {
      // MST store: drop superseded forest snapshots
      StoreIngest.compactMstStore(spark, table)
      actions += s"evicted superseded forest snapshots of '$table'"
      mainRewritten = true
    } else if (spark.catalog.tableExists(tails) && hasLedger &&
               spark.table(tails).columns.contains("__sid")) {
      // session store: reset the tail log to each user's latest open session
      StoreIngest.compactSessionTails(spark, table)
      val gap = props(spark, tails).get(SessionGapProp)
        .map(g => s"gap_us=$g").getOrElse("gap unstamped")
      actions += s"compacted session tails '$tails' to one open session per user ($gap)"
    } else if (spark.catalog.tableExists(tails) && hasLedger) {
      // skip-gram store: reset the tail log to each user's current window
      val w = props(spark, tails).get(SkipGramWindowProp).map(_.toInt)
        .getOrElse(throw new IllegalStateException(
          s"tails table '$tails' carries no '$SkipGramWindowProp' property — " +
            "it predates property stamping; run compactSkipGramTails(window) directly, " +
            "or stamp the property"))
      StoreIngest.compactSkipGramTails(spark, table, w)
      actions += s"compacted skip-gram tails '$tails' to window=$w per user"
      // the pair store itself is an unbucketed tagged log — rows must
      // survive verbatim for the ledger semantics, nothing to rewrite
    } else if (!mainRewritten && props(spark, table).contains(KmvKProp)) {
      // KMV store: fold the sketch log to one row per group with the
      // stamped k (fold with any other k would be lossy — see KmvKProp)
      val k = props(spark, table)(KmvKProp).toInt
      val spec = cat.getTableMetadata(TableIdentifier(table)).bucketSpec
        .getOrElse(throw new IllegalStateException(
          s"KMV store '$table' lost its bucket spec"))
      graft.operators.IncrementalKmv.compactStore(
        spark, table, spec.bucketColumnNames.head, k)
      actions += s"folded KMV store '$table' to one sketch per ${spec.bucketColumnNames.head} (k=$k)"
      mainRewritten = true
    }

    if (!mainRewritten) {
      val meta = cat.getTableMetadata(TableIdentifier(table))
      // the generic append-log families (dedup signatures, ANN buckets,
      // phrase/winnow/gram postings, tagged histogram bins) and the
      // partitioned serving indexes (IVF cells): a pure spec-preserving
      // rewrite — one file per bucket or partition, rows verbatim
      if (meta.bucketSpec.isDefined) {
        graft.sources.Sinks.rewriteStaged(spark, table, spark.table(table))
        actions += s"rewrote bucketed store '$table' to one file per bucket"
      } else if (meta.partitionColumnNames.nonEmpty) {
        graft.sources.Sinks.rewriteStaged(spark, table, spark.table(table))
        actions += s"rewrote partitioned store '$table' to one file per partition"
      } else if (actions.isEmpty) {
        actions += s"no maintenance defined for '$table' (unbucketed, unpartitioned, no family markers) — left as-is"
      }
    }
    actions.toSeq
  }
}
