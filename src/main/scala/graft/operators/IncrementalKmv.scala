package graft.operators

import graft.functions.{KmvAgg, PortableHash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental KMV / theta sketch store — distinct and intersection
  * estimates that update in O(batch) for a corpus ingesting in batches
  * (the [[IncrementalDedup]] / [[IncrementalAnn]] contract applied to
  * the [[KmvSketch]] family). Re-sketching the full corpus per ingest is
  * O(corpus); the log-structured alternative:
  *
  *  1. each ingest sketches ITS OWN batch (one [[KmvAgg]] pass, exchange
  *     ≤ k longs per map task) and APPENDS the per-group sketch rows to
  *     a parquet table bucketed by group — the store grows by
  *     O(groups·k) per ingest, and ingest never reads the store;
  *  2. reads merge at query time: explode the ≤ (ingests × groups)
  *     sketch rows and re-take the bottom-k per group — correct because
  *     bottom-k(bottom-k(A) ∪ bottom-k(B)) = bottom-k(A ∪ B), the theta
  *     family's defining composition law. The store's bucketing
  *     satisfies the merge groupBy's distribution, so the read plans
  *     with ZERO Exchange (IncrementalKmvSpec pins it);
  *  3. [[compactStore]] folds the log on a maintenance cadence: merges
  *     to one row per group and rewrites under the SAME bucket spec, so
  *     reads stay exchange-free and estimates are bit-identical across
  *     compaction.
  *
  * Because the k minima are a pure function of the value SET, any
  * append/compact history yields the same merged sketch as a one-shot
  * build over the union — estimates replay exactly in an external
  * oracle that never heard of the incremental mechanics (q129/q130 use
  * the one-shot rank-window SQL unchanged).
  */
object IncrementalKmv {

  /** Per-group bottom-k sketch of ONE batch: (groupCol, mins). */
  def sketchBatch(df: DataFrame, groupCol: String, valueCol: String,
                  k: Int): DataFrame =
    df.groupBy(col(groupCol))
      .agg(KmvAgg.minima(PortableHash.hash60(col(valueCol)), k).as("mins"))

  /** Create-or-append sketch rows, bucketed by group so every read-time
    * merge (and the sketch cross join's build side) scans shuffle-free.
    */
  def appendToStore(batchSketch: DataFrame, table: String, groupCol: String,
                    buckets: Int): Unit =
    batchSketch.write.mode("append").format("parquet")
      .bucketBy(buckets, groupCol)
      .sortBy(groupCol)
      .saveAsTable(table)

  /** The merged one-row-per-group sketch view of the store. */
  def mergedSketches(spark: SparkSession, table: String, groupCol: String,
                     k: Int): DataFrame =
    spark.table(table)
      .select(col(groupCol), explode(col("mins")).as("__h"))
      .groupBy(col(groupCol))
      .agg(KmvAgg.minima(col("__h"), k).as("mins"))

  /** Per-group distinct estimates from the store: (groupCol, n_est). */
  def distinctFromStore(spark: SparkSession, table: String, groupCol: String,
                        k: Int): DataFrame =
    mergedSketches(spark, table, groupCol, k)
      .select(col(groupCol), KmvSketch.estimateCol(col("mins"), k).as("n_est"))

  /** Pairwise intersection estimates from the store (group_a < group_b,
    * min-theta rule) — the set-algebra query HLL registers cannot serve.
    */
  def intersectionFromStore(spark: SparkSession, table: String,
                            groupCol: String, k: Int): DataFrame =
    KmvSketch.intersectionFromSketches(
      mergedSketches(spark, table, groupCol, k), groupCol, k)

  /** Fold the sketch log to one row per group, preserving the bucket
    * spec so post-compaction reads keep planning exchange-free — the
    * [[graft.sources.Sinks.rewriteStaged]] swap with the bottom-k merge
    * as the surviving rows. Estimates are bit-identical before and after
    * (spec-pinned): the merge is the same pure set function the read
    * path applies.
    */
  def compactStore(spark: SparkSession, table: String, groupCol: String,
                   k: Int): Unit =
    graft.sources.Sinks.rewriteStaged(spark, table,
      mergedSketches(spark, table, groupCol, k))

  /** Drop the store AND any stale warehouse directory a previous session
    * orphaned (the [[IvfPq.buildStore]] rebuild discipline) — call
    * before re-initializing a store under a reused name.
    */
  def dropStore(spark: SparkSession, table: String): Unit = {
    graft.sources.Sinks.dropTableAndStaleLocation(spark, table)
  }
}
