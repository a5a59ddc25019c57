package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of an additive aggregate view — the IVM
  * (incremental view maintenance) discipline for the commonest view
  * shape: GROUP BY keys with SUM/COUNT measures. Recomputing a
  * corpus-wide rollup per ingest is O(corpus); the log-structured
  * alternative (the [[IncrementalKmv]] pattern applied to plain
  * aggregates):
  *
  *  1. each ingest aggregates ITS OWN batch (one map-side-combined
  *     pass) and APPENDS the per-group partial rows to a
  *     group-bucketed table — O(batch), the store is never read;
  *  2. reads merge by summing the ≤ (ingests × groups) partial rows
  *     per group — exact because SUM/COUNT are commutative monoids
  *     (the same property that makes Spark's own partial aggregation
  *     correct); the bucketing satisfies the merge's distribution, so
  *     reads plan with ZERO Exchange (spec-pinned);
  *  3. [[compactStore]] folds the log to one row per group under the
  *     same bucket spec.
  *
  * Because integer sums commute exactly, any append/compact history
  * equals the one-shot aggregate — the q155 oracle is the plain GROUP
  * BY over the full corpus, batches invisible. (Non-additive measures
  * — medians, distincts — belong to the sketch stores: [[IncrementalKmv]]
  * for distincts, mergeable sketches otherwise.)
  */
object IncrementalAgg {

  /** One batch's partial rows: groupCols plus each measure summed.
    * Measures must be LONG-additive expressions (counts, integer sums).
    */
  def partials(batch: DataFrame, groupCols: Seq[String],
               measures: Seq[(String, Column)]): DataFrame = {
    require(groupCols.nonEmpty && measures.nonEmpty,
      "need group columns and measures")
    val aggs = measures.map { case (name, c) => sum(c).cast("long").as(name) }
    batch.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Create-or-append partial rows, bucketed by the group key. */
  def appendToStore(partialRows: DataFrame, table: String,
                    groupCols: Seq[String], buckets: Int): Unit =
    partialRows.write.mode("append").format("parquet")
      .bucketBy(buckets, groupCols.head, groupCols.tail: _*)
      .sortBy(groupCols.head, groupCols.tail: _*)
      .saveAsTable(table)

  /** The merged view: one row per group, measures summed across the
    * log. Plans exchange-free on the bucketed store.
    */
  def merged(spark: SparkSession, table: String, groupCols: Seq[String],
             measureCols: Seq[String]): DataFrame = {
    val aggs = measureCols.map(m => sum(col(m)).cast("long").as(m))
    spark.table(table).groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Fold the partial log to one row per group, preserving the bucket
    * spec — the [[IncrementalKmv.compactStore]] discipline.
    */
  def compactStore(spark: SparkSession, table: String,
                   groupCols: Seq[String], measureCols: Seq[String]): Unit =
    graft.sources.Sinks.rewriteStaged(spark, table,
      merged(spark, table, groupCols, measureCols))
}
