package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted IVF serving store (q217's scale path): build once,
  * serve every batch from the cell-partitioned table. Pins the two
  * properties the design claims — answers bit-identical to the inline
  * [[Similarity.ivfTopK]] (same centroid draw, exact cosine over stored
  * vectors), and a partition-PRUNED per-batch scan (the IvfPqSpec
  * discipline: serving cost must be nprobe cells, never the corpus).
  */
class IvfStoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val dim = 8
  private def corpus = {
    val rnd = new scala.util.Random(7)
    (0L until 300L).map(i => (i, Seq.fill(dim)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
  }

  test("stored serve is bit-identical to the inline ivfTopK") {
    val c = corpus.cache()
    val q = c.filter(col("vec_id") % 10 === 3)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val inline = key(Similarity.ivfTopK(c, q, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4))
    Similarity.buildIvfStore(c, "vec_id", "embedding", "graft_ivfstore_spec",
      nlist = 16)
    val cents = Similarity.loadIvfCentroids(spark, "graft_ivfstore_spec")
    val stored = key(Similarity.ivfTopKStored(spark, "graft_ivfstore_spec",
      cents, q, "vec_id", "embedding", k = 5, nprobe = 4))
    assert(stored == inline)
    assert(stored.nonEmpty)
    graft.sources.Sinks.dropTableAndStaleLocation(spark, "graft_ivfstore_spec")
    graft.sources.Sinks.dropTableAndStaleLocation(spark,
      Similarity.centroidsTable("graft_ivfstore_spec"))
    graft.Storage.releaseAll(spark)
  }

  test("incremental appends build the one-shot store; a double-append cannot perturb answers") {
    val c = corpus.cache()
    val q = c.filter(col("vec_id") % 10 === 7)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val inline = key(Similarity.ivfTopK(c, q, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 4))
    // centroids train once; the corpus arrives in three disjoint slices
    val cents = Similarity.initIvfStore(c, "vec_id", "embedding",
      "graft_ivfinc_spec", nlist = 16)
    for (slice <- 0 until 3)
      Similarity.appendToIvfStore(c.filter(col("vec_id") % 3 === slice),
        "vec_id", "embedding", "graft_ivfinc_spec", cents)
    val served = key(Similarity.ivfTopKStored(spark, "graft_ivfinc_spec",
      cents, q, "vec_id", "embedding", k = 5, nprobe = 4))
    assert(served == inline)
    // crash-window shape: one slice lands twice — exact duplicate rows,
    // which the read-side candidate dedup must collapse
    Similarity.appendToIvfStore(c.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", "graft_ivfinc_spec", cents)
    val afterDup = key(Similarity.ivfTopKStored(spark, "graft_ivfinc_spec",
      cents, q, "vec_id", "embedding", k = 5, nprobe = 4))
    assert(afterDup == inline)
    // maintenance: compaction rewrites to one file per cell, keeps the
    // partition spec (pruning intact), and cannot change answers —
    // including the duplicate rows it faithfully carries
    graft.sources.Sinks.rewriteStaged(spark, "graft_ivfinc_spec",
      spark.table("graft_ivfinc_spec"))
    val loc = new java.io.File(new java.net.URI(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("graft_ivfinc_spec"))
        .location.toString))
    val cellDirs = loc.listFiles().filter(f =>
      f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    cellDirs.foreach { dir =>
      val files = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1,
        s"${dir.getName}: ${files.length} files after compaction")
    }
    val afterCompact = key(Similarity.ivfTopKStored(spark, "graft_ivfinc_spec",
      cents, q, "vec_id", "embedding", k = 5, nprobe = 4))
    assert(afterCompact == inline)
    graft.sources.Sinks.dropTableAndStaleLocation(spark, "graft_ivfinc_spec")
    graft.sources.Sinks.dropTableAndStaleLocation(spark,
      Similarity.centroidsTable("graft_ivfinc_spec"))
    graft.Storage.releaseAll(spark)
  }

  test("the per-batch scan is partition-pruned to the probed cells") {
    val c = corpus
    Similarity.buildIvfStore(c, "vec_id", "embedding", "graft_ivfprune_spec",
      nlist = 16)
    val cents = Similarity.loadIvfCentroids(spark, "graft_ivfprune_spec")
    // one query probes nprobe = 2 cells: the store read must carry a
    // partition filter, and the pruned scan must read at most 2 of the
    // 16 cell directories
    val q = c.filter(col("vec_id") === 3L)
    val served = Similarity.ivfTopKStored(spark, "graft_ivfprune_spec",
      cents, q, "vec_id", "embedding", k = 5, nprobe = 2)
    served.collect() // force execution so the executed plan is final
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("cell"), p.take(1500))
    // recurse through AQE wrappers: AdaptiveSparkPlanExec and
    // QueryStageExec hold their physical subtrees out-of-line, so a
    // plain collect never reaches the scans
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansOf(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scansOf)
    }
    val scans = scansOf(served.queryExecution.executedPlan)
    val storeScan = scans.find(_.tableIdentifier.exists(
      _.table == "graft_ivfprune_spec"))
    assert(storeScan.isDefined, "no FileSourceScanExec over the store")
    assert(storeScan.get.selectedPartitions.partitionCount <= 2,
      s"scan read ${storeScan.get.selectedPartitions.partitionCount} partitions, " +
        "expected <= nprobe = 2")
    graft.sources.Sinks.dropTableAndStaleLocation(spark, "graft_ivfprune_spec")
    graft.sources.Sinks.dropTableAndStaleLocation(spark,
      Similarity.centroidsTable("graft_ivfprune_spec"))
    graft.Storage.releaseAll(spark)
  }

  test("tombstone delete: mask = purge = rebuild, purge touches only affected cells, pruning survives the mask") {
    val t = "graft_ivfdel_spec"
    val t2 = t + "_rebuilt"
    def dropAll(): Unit = Seq(t, t2).foreach { x =>
      graft.sources.Sinks.dropTableAndStaleLocation(spark, x)
      graft.sources.Sinks.dropTableAndStaleLocation(spark, Similarity.centroidsTable(x))
      graft.sources.Sinks.dropTableAndStaleLocation(spark, Similarity.ivfTombstoneTable(x))
    }
    dropAll()
    try {
      val c = corpus.cache()
      val q = c.filter(col("vec_id") % 10 === 3)
      def key(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      Similarity.buildIvfStore(c, "vec_id", "embedding", t, nlist = 16)
      val cents = Similarity.loadIvfCentroids(spark, t)
      def serve(table: String, cs: Similarity.IvfCentroids) = key(
        Similarity.ivfTopKStored(spark, table, cs, q, "vec_id", "embedding",
          k = 5, nprobe = 4))
      val before = serve(t, cents)
      assert(before.exists(_._2 % 7 == 0), "fixture must rank a to-be-deleted candidate")

      // delete vec_id % 7 == 0 twice (idempotent); the MASK drops every
      // deleted candidate from serves before any byte moves
      val del = c.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      Similarity.deleteFromIvfStore(spark, t, del)
      Similarity.deleteFromIvfStore(spark, t, del)
      val masked = serve(t, cents)
      assert(!masked.exists(_._2 % 7 == 0), "a deleted embedding must not be served")
      assert(masked != before)

      // partition pruning survives the mask: the cell filter pushes
      // through the anti-join to the store scan
      val oneQ = c.filter(col("vec_id") === 3L)
      val servedDf = Similarity.ivfTopKStored(spark, t, cents, oneQ,
        "vec_id", "embedding", k = 5, nprobe = 2)
      servedDf.collect()
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(qs.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scansOf)
      }
      val storeScan = scansOf(servedDf.queryExecution.executedPlan)
        .find(_.tableIdentifier.exists(_.table == t))
      assert(storeScan.isDefined, "no FileSourceScanExec over the store")
      assert(storeScan.get.selectedPartitions.partitionCount <= 2,
        s"mask broke pruning: ${storeScan.get.selectedPartitions.partitionCount} partitions read")

      // record the affected cells and every cell's file listing, purge,
      // and require the UNTOUCHED cells' files to be byte-for-byte the
      // same files (same names — a rewrite mints new part file names)
      val affected = spark.table(t)
        .join(del.withColumnRenamed("vec_id", "cand_id"), Seq("cand_id"), "left_semi")
        .select(col("cell")).distinct().collect().map(_.getInt(0)).toSet
      assert(affected.nonEmpty && affected.size < 16,
        s"fixture must leave some cells untouched, affected=$affected")
      val loc = new java.io.File(new java.net.URI(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString))
      def listing(): Map[String, Set[String]] = loc.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filterNot(_.startsWith(".")).toSet).toMap
      val preFiles = listing()
      Similarity.purgeIvfTombstoned(spark, t)
      val postFiles = listing()
      for ((cellDir, files) <- preFiles
           if !affected.contains(cellDir.stripPrefix("cell=").toInt))
        assert(postFiles.get(cellDir).contains(files),
          s"untouched $cellDir was rewritten by the purge")
      assert(!spark.catalog.tableExists(Similarity.ivfTombstoneTable(t)))
      assert(serve(t, cents) == masked, "purge must not change serves")
      assert(spark.table(t).filter(col("cand_id") % 7 === 0).count() == 0L,
        "purged embeddings must not exist on disk")

      // rebuild parity: same quantizer (trained on the FULL corpus — the
      // engine never retrains on delete), survivors only
      val cents2 = Similarity.initIvfStore(c, "vec_id", "embedding", t2, nlist = 16)
      Similarity.appendToIvfStore(c.filter(col("vec_id") % 7 =!= 0),
        "vec_id", "embedding", t2, cents2)
      assert(serve(t2, cents2) == masked,
        "delete+purge must equal rebuilding without the deleted vectors")

      // deleting EVERY remaining vector empties each cell — dynamic
      // overwrite writes nothing there, so the purge must DROP the
      // partitions explicitly and the store ends physically empty
      Similarity.deleteFromIvfStore(spark, t,
        spark.table(t).select(col("cand_id")))
      Similarity.purgeIvfTombstoned(spark, t)
      assert(spark.table(t).count() == 0L, "a fully-deleted store must end empty")
      graft.Storage.releaseAll(spark)
    } finally {
      dropAll()
      graft.Storage.releaseAll(spark)
    }
  }
}
