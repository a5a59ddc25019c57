package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental near-duplicate detection for a corpus that ingests in
  * batches — the 100 TB shape of [[Dedup]]'s MinHash+LSH. Re-running
  * full-corpus LSH per ingest is O(corpus); the scalable contract is:
  *
  *  1. keep a persistent SIGNATURE STORE of banded LSH index entries,
  *     written as a parquet table bucketed by the join key, and
  *  2. for each new batch, signature it (O(batch)), then join against the
  *     store — the store side is read IN PLACE because its bucketing
  *     already satisfies the join's distribution, so the only shuffle is
  *     the (small) batch being exchanged into the store's bucket layout.
  *     IncrementalDedupSpec pins exactly that plan: one Exchange, on the
  *     batch side.
  *
  * This is a north-star extension (no reference analog): it composes
  * [[Dedup.minhashSignatures]]'s banding with [[graft.sources.Sinks]]'
  * bucketed-table layout. The store carries each entry's full signature so
  * candidate pairs can estimate Jaccard without a second corpus pass; that
  * duplicates the signature per band (×bands storage) — an index-only
  * store (doc_id, band, bucket) joined back to a one-row-per-doc signature
  * table trades that space for one more batch-sized join.
  */
object IncrementalDedup {

  /** Banded LSH index entries for one ingest batch:
    * (doc_id, band, bucket, sig).
    */
  def bandedSignatures(docs: DataFrame, idCol: String, textCol: String,
                       shingleK: Int = 3, numHashes: Int = 16,
                       bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    Dedup.minhashSignatures(docs, idCol, textCol, shingleK, numHashes)
      .select(col("doc_id"), col("sig"),
        posexplode(TextFunctions.lshBands(col("sig"), bands, rows))
          .as(Seq("band", "bucket")))
      .select(col("doc_id"), col("band"), col("bucket"), col("sig"))
  }

  /** [[bandedSignatures]] in the SQL-portable 60-bit family
    * ([[graft.functions.PortableHash]]): band buckets are the signature
    * slices themselves, so the DuckDB oracle reproduces the join exactly
    * (same banding as [[Dedup.minhashCandidatesPortable]]).
    */
  def bandedSignaturesPortable(docs: DataFrame, idCol: String, textCol: String,
                               shingleK: Int = 3, numHashes: Int = 16,
                               bands: Int = 4, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    Dedup.minhashSignaturesPortable(docs, idCol, textCol, shingleK, numHashes, seed)
      .select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col("sig"), b * lit(rows) + lit(1), lit(rows))))
          .as(Seq("band", "bucket")))
      .select(col("doc_id"), col("band"), col("bucket"), col("sig"))
  }

  /** Create-or-append the signature store: bucketed by the (band, bucket)
    * join key so every future cross-generation join reads it shuffle-free.
    * Size `buckets` so one bucket ≈ one task at target corpus scale; Spark
    * enforces that appends match the existing table's bucket spec.
    */
  def appendToStore(banded: DataFrame, table: String, buckets: Int): Unit =
    banded.write.mode("append").format("parquet")
      .bucketBy(buckets, "band", "bucket")
      .sortBy("band", "bucket")
      .saveAsTable(table)

  /** Compact the signature store (either layout): per-batch appends
    * accumulate one file per (bucket × task) per ingest, and at the
    * 100 TB steady state the small-file count — not the data — becomes
    * the scan cost. Rewrites to one file per bucket, preserving the
    * bucket spec so every cross-generation join stays store-side
    * shuffle-free (spec-pinned: same plan, bit-identical results).
    * Run it on a maintenance cadence (every N ingests), not per batch.
    * A table without a bucket spec is refused: it is not a store.
    */
  def compactStore(spark: SparkSession, table: String): Unit = {
    require(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).bucketSpec.isDefined,
      s"table '$table' is not bucketed — nothing to preserve, use a plain rewrite")
    graft.sources.Sinks.rewriteStaged(spark, table, spark.table(table))
  }

  /** Candidate pairs between the store (doc_a) and a new batch (doc_b):
    * equi-join on (band, bucket). The store scan's bucketing satisfies the
    * join distribution, so only the batch side is exchanged — the corpus
    * side never shuffles, which is the entire point at 100 TB.
    */
  def crossGenerationCandidates(store: DataFrame, batchBanded: DataFrame): DataFrame = {
    val s = store.select(col("band"), col("bucket"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val n = batchBanded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    s.join(n, Seq("band", "bucket"))
      .filter(col("doc_a") =!= col("doc_b")) // a re-ingested doc is not its own dup
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
  }

  /** Candidate pairs inside the new batch itself (doc_a < doc_b) — both
    * sides are batch-sized, so this self-join's shuffles are cheap.
    */
  def withinBatchCandidates(batchBanded: DataFrame): DataFrame = {
    val a = batchBanded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = batchBanded.select(col("band"), col("bucket"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
  }

  /** Index-only store layout: (doc_id, band, bucket) WITHOUT the per-band
    * signature copy — ×bands less store I/O than [[appendToStore]]'s
    * layout. Signatures live once per document in a companion table
    * ([[appendToSignatureStore]]) and are joined back candidate-sized.
    */
  def appendToIndexStore(banded: DataFrame, table: String, buckets: Int): Unit =
    banded.select(col("doc_id"), col("band"), col("bucket"))
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "band", "bucket")
      .sortBy("band", "bucket")
      .saveAsTable(table)

  /** One-row-per-document signature companion to [[appendToIndexStore]],
    * bucketed by doc_id so the candidate-sized join-back never shuffles
    * the store side either.
    */
  def appendToSignatureStore(banded: DataFrame, table: String, buckets: Int): Unit =
    banded.select(col("doc_id"), col("sig")).distinct()
      .write.mode("append").format("parquet")
      .bucketBy(buckets, "doc_id")
      .sortBy("doc_id")
      .saveAsTable(table)

  /** [[ingestCandidates]] against the index-only layout: the (band,
    * bucket) equi-join carries only ids, band collisions collapse to
    * distinct pairs BEFORE the signature join-back, and the store-side
    * signature fetch is candidate-sized — O(batch), never O(corpus).
    * Returns exactly the pairs (and estimates) of the full-copy layout.
    */
  def ingestCandidatesIndexOnly(indexStore: DataFrame, sigStore: DataFrame,
                                batchBanded: DataFrame, numHashes: Int = 16): DataFrame = {
    val batch = batchBanded.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val crossPairs = indexStore
      .select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
      .join(batch.select(col("band"), col("bucket"),
        col("doc_id").as("doc_b"), col("sig").as("sig_b")), Seq("band", "bucket"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_b"))
      .distinct() // collapse band collisions before fetching signatures
    val cross = crossPairs
      .join(sigStore.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), Seq("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b"))
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x
    ).cast("double") / lit(numHashes)
    cross.unionByName(withinBatchCandidates(batch))
      .distinct()
      .select(col("doc_a"), col("doc_b"), round(est, 4).as("est_jaccard"))
  }

  /** One ingest step: all candidate pairs the new batch introduces —
    * against every prior generation (via the store) and within itself —
    * deduplicated across band collisions, with the minhash Jaccard
    * estimate. The caller then verifies survivors (n-gram Jaccard /
    * exact) and appends the batch via [[appendToStore]].
    *
    * The store side reads through [[liveStore]]: between a
    * [[deleteFromStore]] and the eventual [[purgeTombstoned]] a new
    * batch must NOT pair arriving documents against logically-deleted
    * signatures — that is `liveStore`'s contract ("a deleted document
    * can neither emit pairs nor appear in them"), and the anti-join is
    * deletion-sized (broadcast), so the bucketed scan's exchange-free
    * self-join property survives the mask.
    */
  def ingestCandidates(spark: SparkSession, storeTable: String,
                       batchBanded: DataFrame, numHashes: Int = 16): DataFrame =
    ingestCandidates(liveStore(spark, storeTable), batchBanded, numHashes)

  /** Frame-backed variant (store from any source, e.g. for the oracle-able
    * gate query — the bucketed-table no-shuffle property is pinned by
    * IncrementalDedupSpec on the table-backed path). The batch side feeds
    * three joins (cross two-sided once, self-join twice), so it is
    * persisted DISK_ONLY under the same lifetime contract as
    * [[Dedup.minhashCandidates]]: the caller that runs the action releases
    * it via [[graft.Storage.releaseAll]].
    */
  def ingestCandidates(store: DataFrame, batchBanded: DataFrame,
                       numHashes: Int): DataFrame = {
    val batch = batchBanded.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x
    ).cast("double") / lit(numHashes)
    crossGenerationCandidates(store, batch)
      .unionByName(withinBatchCandidates(batch))
      .distinct() // a pair colliding in k bands must surface once
      .select(col("doc_a"), col("doc_b"), round(est, 4).as("est_jaccard"))
  }

  /** All candidate pairs WITHIN a store (doc_a < doc_b), band collisions
    * collapsed, with the minhash Jaccard estimate — the full-corpus view
    * of an accumulated store: over the union of every ingested
    * generation it returns exactly what a from-scratch full-corpus LSH
    * run ([[Dedup.minhashCandidatesPortable]]) returns, because the
    * store rows ARE that run's banded index. The q180 gate streams the
    * corpus into the store and checks the result against q22's oracle
    * verbatim. Both join sides are the same bucketed table, so the
    * self-join is bucket-aligned — neither side exchanges.
    */
  def storeCandidates(store: DataFrame, numHashes: Int = 16): DataFrame = {
    val est = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x
    ).cast("double") / lit(numHashes)
    withinBatchCandidates(store)
      .distinct()
      .select(col("doc_a"), col("doc_b"), round(est, 4).as("est_jaccard"))
  }

  // ---- deletion (the right-to-be-forgotten path) ----

  /** The tombstone table paired with a dedup store. */
  def tombstoneTable(table: String): String = table + "_tombstones"

  /** Record deletions: append the ids' DISTINCT set to the tombstone
    * table. Tombstones are set-semantics state (re-deleting an id is a
    * no-op on every read), so the append is idempotent by value — no
    * ledger needed, the same argument as the set-union store family.
    */
  def deleteFromStore(spark: SparkSession, table: String, ids: DataFrame): Unit = {
    require(ids.columns.length == 1,
      s"deleteFromStore expects a single-column id frame; got ${ids.columns.mkString("(", ", ", ")")} — " +
        "select the doc-id column explicitly so the wrong column can't be tombstoned silently")
    val t = tombstoneTable(table)
    ids.select(col(ids.columns.head).as("doc_id")).distinct()
      .write.mode("append").format("parquet").saveAsTable(t)
    spark.catalog.refreshTable(t)
  }

  /** The store with tombstoned documents MASKED: one anti-join on doc_id
    * before anything else touches the rows, so a deleted document can
    * neither emit pairs nor appear in them. The tombstone set is
    * deletion-sized (AQE broadcasts it), so the bucketed scan's
    * (band, bucket) distribution survives and [[storeCandidates]] over
    * the live view keeps its exchange-free self-join. The mask is the
    * LOGICAL delete — bytes remain on disk until [[purgeTombstoned]].
    */
  def liveStore(spark: SparkSession, table: String): DataFrame = {
    val t = tombstoneTable(table)
    val s = spark.table(table)
    if (spark.catalog.tableExists(t))
      s.join(spark.table(t).select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    else s
  }

  /** The PHYSICAL delete: rewrite the store without the tombstoned rows
    * ([[graft.sources.Sinks.rewriteStaged]], bucket spec preserved so
    * every downstream join keeps its plan), then drop the
    * tombstone table — after this, the deleted documents' signatures no
    * longer exist on disk, which is what a retention obligation actually
    * requires. Run between ingests; the single-writer contract covers
    * maintenance. Serves are unchanged by construction
    * (purge ≡ mask, spec-pinned).
    */
  def purgeTombstoned(spark: SparkSession, table: String): Unit = {
    val t = tombstoneTable(table)
    if (!spark.catalog.tableExists(t)) return
    graft.sources.Sinks.rewriteStaged(spark, table, liveStore(spark, table))
    graft.sources.Sinks.dropTableAndStaleLocation(spark, t)
  }
}
