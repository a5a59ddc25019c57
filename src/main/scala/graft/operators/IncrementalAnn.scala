package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental embedding near-duplicate detection — the vector-space twin
  * of [[IncrementalDedup]], for a corpus whose embeddings ingest in
  * batches. Same contract:
  *
  *  1. a persistent store of hyperplane-LSH-bucketed embeddings, written
  *     as a parquet table bucketed by the (tbl, bucket) join key, and
  *  2. each new batch buckets itself (O(batch)) and equi-joins the store —
  *     the store side is read IN PLACE (its bucketing satisfies the join's
  *     distribution), so only the batch is exchanged. Candidates are
  *     verified with the exact cosine before surfacing.
  *
  * Blocking geometry is [[Dedup.embeddingNearDupsLsh]]'s: nPlanes sign
  * bits per table (buckets must GROW with corpus size), recall bought back
  * with nTables OR-amplified plane sets — a pair surfaces if ANY table
  * buckets it together, deduplicated across tables. North-star extension
  * (no reference analog).
  */
object IncrementalAnn {

  /** LSH index entries for one ingest batch: one row per (vector, table) —
    * (id, tbl, bucket, v, nsq). Carrying v/nsq lets candidates verify the
    * exact cosine without a second corpus pass (×nTables storage; an
    * index-only store joined back to the vectors is the space-lean
    * variant).
    */
  def bucketedEmbeddings(emb: DataFrame, idCol: String, vecCol: String,
                         nPlanes: Int = 12, nTables: Int = 2,
                         dim: Int = 64, seed: Long = 42L): DataFrame = {
    require(nTables >= 1, "nTables must be >= 1")
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFunctions.normSq(col(vecCol)).as("nsq"))
    (0 until nTables).map { t =>
      val planes = VectorFunctions.seededPlanes(nPlanes, dim, seed + t)
      base.select(col("id"), lit(t).as("tbl"),
        VectorFunctions.hyperplaneBucket(col("v"), planes).as("bucket"),
        col("v"), col("nsq"))
    }.reduce(_ unionByName _)
  }

  /** Create-or-append the embedding store, bucketed by the (tbl, bucket)
    * join key so cross-generation joins never shuffle the store side.
    */
  def appendToStore(bucketed: DataFrame, table: String, buckets: Int): Unit =
    bucketed.write.mode("append").format("parquet")
      .bucketBy(buckets, "tbl", "bucket")
      .sortBy("tbl", "bucket")
      .saveAsTable(table)

  /** Compact the embedding store — same maintenance contract as
    * [[IncrementalDedup.compactStore]]: one file per bucket, bucket spec
    * (and the store-side shuffle-free ingest plan) preserved verbatim.
    */
  def compactStore(spark: SparkSession, table: String): Unit =
    IncrementalDedup.compactStore(spark, table)

  private def verified(pairs: DataFrame, minCosine: Double): DataFrame =
    pairs
      .withColumn("cos_sim", round(VectorFunctions.cosineFromNormSq(
        VectorFunctions.dot(col("va"), col("vb")), col("na"), col("nb")), 6))
      .filter(col("cos_sim") >= minCosine)
      .select(col("id_a"), col("id_b"), col("cos_sim"))

  /** Store (id_a) × new batch (id_b) candidates, cosine-verified. Only the
    * batch side shuffles into the store's bucket layout.
    */
  def crossGenerationPairs(store: DataFrame, batchBucketed: DataFrame,
                           minCosine: Double): DataFrame = {
    val s = store.select(col("tbl"), col("bucket"),
      col("id").as("id_a"), col("v").as("va"), col("nsq").as("na"))
    val n = batchBucketed.select(col("tbl"), col("bucket"),
      col("id").as("id_b"), col("v").as("vb"), col("nsq").as("nb"))
    verified(s.join(n, Seq("tbl", "bucket")).filter(col("id_a") =!= col("id_b")),
      minCosine)
  }

  /** Candidates inside the new batch itself (id_a < id_b). */
  def withinBatchPairs(batchBucketed: DataFrame, minCosine: Double): DataFrame = {
    val a = batchBucketed.select(col("tbl"), col("bucket"),
      col("id").as("id_a"), col("v").as("va"), col("nsq").as("na"))
    val b = batchBucketed.select(col("tbl"), col("bucket"),
      col("id").as("id_b"), col("v").as("vb"), col("nsq").as("nb"))
    verified(a.join(b, Seq("tbl", "bucket")).filter(col("id_a") < col("id_b")),
      minCosine)
  }

  /** One ingest step: every near-dup pair the new batch introduces —
    * against all prior generations and within itself, deduplicated across
    * the OR-amplified tables. The batch feeds three joins, so it is
    * persisted DISK_ONLY under the caller-releases contract
    * ([[graft.Storage.releaseAll]]).
    */
  def ingestNearDups(store: DataFrame, batchBucketed: DataFrame,
                     minCosine: Double): DataFrame = {
    val batch = batchBucketed.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    crossGenerationPairs(store, batch, minCosine)
      .unionByName(withinBatchPairs(batch, minCosine))
      .distinct()
  }

  /** Table-backed convenience: candidates against the named store table. */
  def ingestNearDups(spark: SparkSession, storeTable: String,
                     batchBucketed: DataFrame, minCosine: Double): DataFrame =
    ingestNearDups(spark.table(storeTable), batchBucketed, minCosine)

  /** All near-dup pairs WITHIN a store (id_a < id_b, deduped across the
    * OR-amplified tables) — the full-corpus view of an accumulated
    * store: over the union of every ingested generation it returns
    * exactly what the one-shot [[Dedup.embeddingNearDupsLsh]] run
    * returns, because the store rows ARE that run's per-table index.
    * Both join sides are the same bucketed table — neither exchanges
    * (the storeCandidates discipline). The q193 gate streams the corpus
    * in and checks against q30's oracle verbatim.
    */
  def storePairs(store: DataFrame, minCosine: Double): DataFrame =
    withinBatchPairs(store, minCosine).distinct()
}
