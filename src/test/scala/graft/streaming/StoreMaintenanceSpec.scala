package graft.streaming

import graft.SparkSpec
import graft.operators.{IncrementalAnn, IncrementalDedup, IncrementalKmv}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The unified maintenance contract: [[StoreMaintenance.maintainStore]]
  * classifies a store from its companion tables / schema / stamped
  * properties, runs the family's compactions, and the store SERVES
  * BIT-IDENTICALLY before and after — every branch is a physical rewrite
  * of logically-identical state. Each test pins one dispatch branch plus
  * that parity.
  */
class StoreMaintenanceSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete()
  }

  private val base = "the quick brown fox jumps over the lazy dog near the river bank today"

  /** Stamp a `graft.*` property on `table`, as the ingests stamp their
    * family parameters, and read it back — every rewrite must keep it.
    */
  private def stamp(table: String): Unit =
    spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES ('graft.spec.stamp'='kept')")
  private def stamped(table: String): Option[String] =
    spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).properties.get("graft.spec.stamp")

  test("dedup store: tombstones route to purge; without them, the generic bucketed rewrite") {
    val t = "graft_maint_dedup"
    Seq(t, IncrementalDedup.tombstoneTable(t)).foreach(dropTable)
    try {
      val docs = Seq(1L -> base, 2L -> (base + " or so"), 3L -> (base + " again"),
        4L -> "unrelated words entirely").toDF("doc_id", "text")
      IncrementalDedup.appendToStore(
        IncrementalDedup.bandedSignatures(docs, "doc_id", "text"), t, buckets = 4)
      stamp(t)
      IncrementalDedup.deleteFromStore(spark, t,
        Seq(2L).toDF("doc_id"))
      def serve() = IncrementalDedup.storeCandidates(IncrementalDedup.liveStore(spark, t))
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val before = serve()

      val acts = StoreMaintenance.maintainStore(spark, t)
      assert(acts.exists(_.contains("purged")), s"expected the purge branch, got $acts")
      assert(!spark.catalog.tableExists(IncrementalDedup.tombstoneTable(t)))
      assert(serve() == before, "a maintenance pass must not change serves")
      assert(stamped(t).contains("kept"), "the purge's swap must keep graft.* properties")

      // no tombstones now: the same call routes to the generic rewrite
      val acts2 = StoreMaintenance.maintainStore(spark, t)
      assert(acts2.exists(_.contains("bucketed store")), s"expected the bucketed branch, got $acts2")
      assert(serve() == before)
      assert(stamped(t).contains("kept"), "the bucketed rewrite must keep graft.* properties")
      // spec preserved: the self-join still plans with only the
      // pair-distinct exchange
      withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
        val plan = IncrementalDedup.storeCandidates(spark.table(t))
          .queryExecution.executedPlan.toString
        assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1)
      }
      graft.Storage.releaseAll(spark)
    } finally {
      Seq(t, IncrementalDedup.tombstoneTable(t)).foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("KMV streamed store: maintain folds with the stamped k; estimates identical; k survives the swap") {
    val t = "graft_maint_kmv"
    Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_maint_kmv").toFile
    try {
      val in = new java.io.File(root, "in")
      val rows = (0 until 90).map(i => (s"src_${i % 3}", s"tok_${i % 37}"))
      rows.grouped(45).foreach(g =>
        g.toDF("source", "tok").coalesce(1)
          .write.mode("append").parquet(in.getAbsolutePath))
      StoreIngest.ingestKmvStore(
        spark.readStream.schema("source STRING, tok STRING")
          .option("maxFilesPerTrigger", "1").parquet(in.getAbsolutePath),
        "source", "tok", t, k = 8, buckets = 2,
        checkpointDir = new java.io.File(root, "cp").getAbsolutePath)
        .awaitTermination()
      def est() = IncrementalKmv.distinctFromStore(spark, t, "source", k = 8)
        .as[(String, Double)].collect().toMap
      val before = est()
      assert(spark.table(t).count() > 3L, "fixture must have a multi-row sketch log to fold")

      val acts = StoreMaintenance.maintainStore(spark, t)
      assert(acts.exists(_.contains("folded KMV")), s"expected the KMV fold branch, got $acts")
      assert(est() == before, "folded estimates must be bit-identical")
      assert(spark.table(t).count() == 3L, "fold must leave one sketch row per group")

      // the stamped k survives the tmp+rename swap: a SECOND pass still
      // classifies as KMV instead of falling back to the generic rewrite
      val acts2 = StoreMaintenance.maintainStore(spark, t)
      assert(acts2.exists(_.contains("folded KMV")), s"k property lost in the swap: $acts2")
      assert(est() == before)
      graft.Storage.releaseAll(spark)
    } finally {
      rmTree(root)
      Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("distance store: maintain collapses the improvements log and dedups the edge log; serve parity") {
    val t = "graft_maint_dist"
    val all = Seq(t, StoreIngest.ledgerTable(t), StoreIngest.distanceEdgeTable(t))
    all.foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_maint_dist").toFile
    try {
      val in = new java.io.File(root, "in")
      val gen1 = Seq(("s", "a"), ("a", "b"), ("b", "c"))
        .flatMap { case (u, v) => Seq((u, v), (v, u)) }
      val gen2 = Seq(("s", "c"), ("c", "d"))
        .flatMap { case (u, v) => Seq((u, v), (v, u)) }
      Seq(gen1, gen2).foreach(g =>
        g.toDF("src", "dst").coalesce(1)
          .write.mode("append").parquet(in.getAbsolutePath))
      StoreIngest.ingestDistanceStore(
        spark.readStream.schema("src STRING, dst STRING")
          .option("maxFilesPerTrigger", "1").parquet(in.getAbsolutePath),
        "src", "dst", Seq("s").toDF("node"), t,
        checkpointDir = new java.io.File(root, "cp").getAbsolutePath,
        buckets = 2).awaitTermination()
      def serve() = {
        val m = graft.operators.Bfs.distancesFromStore(spark, t)
          .as[(String, Long)].collect().toMap
        graft.Storage.releaseAll(spark)
        m
      }
      val before = serve()
      assert(spark.table(t).count() > before.size.toLong,
        "fixture must carry an improved node (multi-row log) to collapse")

      val acts = StoreMaintenance.maintainStore(spark, t)
      assert(acts.exists(_.contains("per-node minima")), s"expected the distance branch, got $acts")
      assert(acts.exists(_.contains("edge log")), s"expected the edge-log dedup, got $acts")
      assert(serve() == before)
      assert(spark.table(t).count() == before.size.toLong,
        "the collapsed log is one row per node")
      val el = spark.table(StoreIngest.distanceEdgeTable(t))
      assert(el.count() == el.distinct().count(), "the edge log must be its distinct support")
      graft.Storage.releaseAll(spark)
    } finally {
      rmTree(root)
      all.foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("MST store: maintain evicts superseded snapshots; serve parity") {
    val t = "graft_maint_mst"
    val all = Seq(t, StoreIngest.ledgerTable(t))
    all.foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_maint_mst").toFile
    try {
      val in = new java.io.File(root, "in")
      Seq(Seq((1L, 2L, 5L), (2L, 3L, 6L)), Seq((1L, 3L, 2L), (4L, 5L, 9L)))
        .foreach(g => g.toDF("src", "dst", "w").coalesce(1)
          .write.mode("append").parquet(in.getAbsolutePath))
      StoreIngest.ingestMstStore(
        spark.readStream.schema("src LONG, dst LONG, w LONG")
          .option("maxFilesPerTrigger", "1").parquet(in.getAbsolutePath),
        "src", "dst", "w", t,
        checkpointDir = new java.io.File(root, "cp").getAbsolutePath)
        .awaitTermination()
      def serve() = {
        val f = StoreIngest.mstForestFromStore(spark, t)
          .as[(Long, Long, Long)].collect().toSet
        graft.Storage.releaseAll(spark)
        f
      }
      val before = serve()
      assert(spark.table(t).select("snap").distinct().count() > 1L,
        "fixture must hold a superseded snapshot to evict")

      val acts = StoreMaintenance.maintainStore(spark, t)
      assert(acts.exists(_.contains("snapshots")), s"expected the MST branch, got $acts")
      assert(serve() == before)
      assert(spark.table(t).select("snap").distinct().count() == 1L)
      graft.Storage.releaseAll(spark)
    } finally {
      rmTree(root)
      all.foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("skip-gram store: maintain compacts tails via the stamped window; serve parity; window survives the swap") {
    val t = "graft_maint_sg"
    val all = Seq(t, StoreIngest.ledgerTable(t), StoreIngest.tailsTable(t))
    all.foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_maint_sg").toFile
    try {
      val in = new java.io.File(root, "in")
      val u1 = Seq("A", "B", "A", "C", "B", "A", "C").zipWithIndex
        .map { case (e, i) => (1L, e, i + 1L, 100L + i) }
      val stamped = scala.collection.mutable.Set[java.nio.file.Path]()
      Seq(u1.take(4), u1.drop(4)).zipWithIndex.foreach { case (g, i) =>
        g.toDF("user", "etype", "ord", "eid").coalesce(1)
          .write.mode("append").parquet(in.getAbsolutePath)
        val ft = java.nio.file.attribute.FileTime.fromMillis(1000L * (i + 1))
        val it = java.nio.file.Files.list(in.toPath)
        try it.iterator().forEachRemaining { p =>
          if (!stamped.contains(p)) {
            java.nio.file.Files.setLastModifiedTime(p, ft); stamped += p
          }
        } finally it.close()
      }
      StoreIngest.ingestSkipGramStore(
        spark.readStream.schema("user LONG, etype STRING, ord LONG, eid LONG")
          .option("maxFilesPerTrigger", "1").parquet(in.getAbsolutePath),
        "user", "etype", col("ord"), col("eid"), window = 3, t,
        new java.io.File(root, "cp").getAbsolutePath).awaitTermination()
      def serve() = {
        val m = StoreIngest.skipGramFromStore(spark, t)
          .as[(String, String, Long, Long)].collect().toSet
        graft.Storage.releaseAll(spark)
        m
      }
      val before = serve()

      val acts = StoreMaintenance.maintainStore(spark, t)
      assert(acts.exists(_.contains("window=3")), s"expected the tails branch, got $acts")
      assert(serve() == before)
      assert(spark.table(StoreIngest.tailsTable(t)).count() <= 3L,
        "tails must shrink to window rows per user")

      // the stamped window survives the compaction's tmp+rename swap
      val acts2 = StoreMaintenance.maintainStore(spark, t)
      assert(acts2.exists(_.contains("window=3")), s"window property lost in the swap: $acts2")
      assert(serve() == before)
      graft.Storage.releaseAll(spark)
    } finally {
      rmTree(root)
      all.foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("session store: maintain compacts tails to one open session per user; serve parity; gap property survives the swap") {
    val t = "graft_maint_session"
    val all = Seq(t, StoreIngest.ledgerTable(t), StoreIngest.tailsTable(t))
    all.foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_maint_sess").toFile
    try {
      val in = new java.io.File(root, "in")
      val rows = Seq((1L, 1L, 10L), (1L, 2L, 11L), (1L, 50L, 12L),
        (2L, 5L, 20L), (2L, 6L, 21L))
      val stamped = scala.collection.mutable.Set[java.nio.file.Path]()
      rows.grouped(3).zipWithIndex.foreach { case (g, i) =>
        g.toDF("user", "ord", "eid").coalesce(1)
          .write.mode("append").parquet(in.getAbsolutePath)
        val ft = java.nio.file.attribute.FileTime.fromMillis(1000L * (i + 1))
        val it = java.nio.file.Files.list(in.toPath)
        try it.iterator().forEachRemaining { p =>
          if (!stamped.contains(p)) {
            java.nio.file.Files.setLastModifiedTime(p, ft); stamped += p
          }
        } finally it.close()
      }
      StoreIngest.ingestSessionStore(
        spark.readStream.schema("user LONG, ord LONG, eid LONG")
          .option("maxFilesPerTrigger", "1").parquet(in.getAbsolutePath),
        "user", col("ord"), col("eid"), gapUs = 10L, t,
        new java.io.File(root, "cp").getAbsolutePath).awaitTermination()
      def serve() = {
        val m = StoreIngest.sessionsFromStore(spark, t)
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        graft.Storage.releaseAll(spark)
        m
      }
      val before = serve()

      val acts = StoreMaintenance.maintainStore(spark, t)
      assert(acts.exists(_.contains("open session per user")),
        s"expected the session-tails branch, got $acts")
      assert(serve() == before)
      assert(spark.table(StoreIngest.tailsTable(t)).count() == 2L,
        "tails must shrink to one open session per user")

      // the stamped gap survives the compaction's staged swap
      val acts2 = StoreMaintenance.maintainStore(spark, t)
      assert(acts2.exists(_.contains("gap_us=10")), s"gap property lost in the swap: $acts2")
      assert(serve() == before)
      graft.Storage.releaseAll(spark)
    } finally {
      rmTree(root)
      all.foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("IVF store: tombstones route to the partition-local purge; serves unchanged; next pass is the generic partitioned branch") {
    val t = "graft_maint_ivf"
    val all = Seq(t, graft.operators.Similarity.centroidsTable(t),
      graft.operators.Similarity.ivfTombstoneTable(t))
    all.foreach(dropTable)
    try {
      val rnd = new scala.util.Random(11)
      val c = (0L until 200L)
        .map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2f - 1f)))
        .toDF("vec_id", "embedding").cache()
      graft.operators.Similarity.buildIvfStore(c, "vec_id", "embedding", t, nlist = 8)
      stamp(t)
      val cents = graft.operators.Similarity.loadIvfCentroids(spark, t)
      val q = c.filter(col("vec_id") % 10 === 3)
      def serve() = graft.operators.Similarity
        .ivfTopKStored(spark, t, cents, q, "vec_id", "embedding", k = 5, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .toSet
      graft.operators.Similarity.deleteFromIvfStore(spark, t,
        c.filter(col("vec_id") % 9 === 0).select(col("vec_id")))
      val masked = serve()

      val acts = StoreMaintenance.maintainStore(spark, t)
      assert(acts.exists(_.contains("affected cells only")),
        s"expected the partition-local purge branch, got $acts")
      assert(!spark.catalog.tableExists(graft.operators.Similarity.ivfTombstoneTable(t)))
      assert(serve() == masked, "a maintenance pass must not change serves")
      assert(spark.table(t).filter(col("cand_id") % 9 === 0).count() == 0L)
      assert(stamped(t).contains("kept"), "the cell purge must keep graft.* properties")

      // tombstones gone: the same call routes to the generic partitioned rewrite
      val acts2 = StoreMaintenance.maintainStore(spark, t)
      assert(acts2.exists(_.contains("partitioned store")), s"got $acts2")
      assert(serve() == masked)
      assert(stamped(t).contains("kept"), "the partitioned rewrite must keep graft.* properties")
      graft.Storage.releaseAll(spark)
    } finally {
      all.foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("ANN store routes to the bucketed rewrite; partitioned and unknown layouts route correctly") {
    val t = "graft_maint_ann"
    val tp = "graft_maint_part"
    val tu = "graft_maint_plain"
    Seq(t, tp, tu).foreach(dropTable)
    try {
      val vecs = (0 until 20).map(i =>
        (i.toLong, Array.fill(8)(((i * 7 + 3) % 11).toFloat / 11f)))
        .toDF("id", "v")
      IncrementalAnn.appendToStore(
        IncrementalAnn.bucketedEmbeddings(vecs, "id", "v",
          nPlanes = 4, nTables = 2, dim = 8, seed = 42L), t, buckets = 2)
      IncrementalAnn.appendToStore(
        IncrementalAnn.bucketedEmbeddings(vecs, "id", "v",
          nPlanes = 4, nTables = 2, dim = 8, seed = 42L), t, buckets = 2)
      def rows(table: String) = spark.table(table).collect()
        .map(_.toString).sorted.toSeq
      val before = rows(t)
      val acts = StoreMaintenance.maintainStore(spark, t)
      assert(acts.exists(_.contains("bucketed store")), s"expected the bucketed branch, got $acts")
      assert(rows(t) == before, "the rewrite is row-verbatim")

      // partitioned layout → compactPartitioned
      Seq((1L, "x"), (2L, "y"), (3L, "x")).toDF("id", "cell")
        .write.format("parquet").partitionBy("cell").saveAsTable(tp)
      val beforeP = rows(tp)
      val actsP = StoreMaintenance.maintainStore(spark, tp)
      assert(actsP.exists(_.contains("partitioned store")), s"got $actsP")
      assert(rows(tp) == beforeP)

      // unknown layout → reported, untouched
      Seq((1L, "a")).toDF("k", "v").write.format("parquet").saveAsTable(tu)
      val actsU = StoreMaintenance.maintainStore(spark, tu)
      assert(actsU.exists(_.contains("no maintenance defined")), s"got $actsU")
      assert(rows(tu) == Seq("[1,a]"))
      graft.Storage.releaseAll(spark)
    } finally {
      Seq(t, tp, tu).foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }
}
