package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The incremental-dedup contract: batch-vs-store candidates match what a
  * full-corpus LSH run finds, and the store side of the cross-generation
  * join plans WITHOUT an Exchange (only the new batch shuffles into the
  * store's bucket layout) — the property that keeps per-ingest cost
  * O(batch) instead of O(corpus).
  */
class IncrementalDedupSpec extends AnyFunSuite with SparkSpec {

  private val storeTable = "graft_tst_sig_store"

  private def docsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val base = "the quick brown fox jumps over the lazy dog near the river bank today"

  test("cross-generation candidates find near-dups across batches; union matches full-corpus LSH") {
    dropTable(storeTable)
    // batch 1: two distinct docs; batch 2: a near-dup of doc 1 + an unrelated doc
    val batch1 = docsDf(Seq(
      1L -> base,
      2L -> "completely different text about spark catalyst optimizer rules and physical plans here",
    ))
    val batch2 = docsDf(Seq(
      10L -> (base + " extra"),
      11L -> "unrelated third subject entirely with nothing shared among any other document text",
    ))

    val b1 = IncrementalDedup.bandedSignatures(batch1, "doc_id", "text")
    IncrementalDedup.appendToStore(b1, storeTable, buckets = 4)
    val b2 = IncrementalDedup.bandedSignatures(batch2, "doc_id", "text")
    val cands = IncrementalDedup.ingestCandidates(spark, storeTable, b2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

    assert(cands.exists { case (a, b, j) => a == 1L && b == 10L && j > 0.5 },
      s"near-dup pair (1,10) must surface with high estimated jaccard, got ${cands.toSeq}")
    assert(!cands.exists { case (a, b, _) => Set(a, b) == Set(2L, 11L) },
      "unrelated docs must not pair")

    // parity: the same pairs a full-corpus run finds (batch ids are higher
    // than store ids here, so orientations align)
    val full = Dedup.minhashCandidates(batch1.unionByName(batch2), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val incr = cands.map(p => (p._1, p._2)).toSet
    val storeOnlyPairs = Set((1L, 2L)) // batch-1-internal pairs belong to batch 1's own ingest
    assert(full -- storeOnlyPairs == incr,
      s"incremental must find exactly the full-corpus pairs involving batch 2: full=$full incr=$incr")
    graft.Storage.releaseAll(spark)
  }

  test("the store side of the cross-generation join plans with NO Exchange (batch side only)") {
    dropTable(storeTable)
    val batch1 = docsDf(Seq(1L -> base, 2L -> (base + " or so")))
    IncrementalDedup.appendToStore(
      IncrementalDedup.bandedSignatures(batch1, "doc_id", "text"), storeTable, buckets = 4)

    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val b2 = IncrementalDedup.bandedSignatures(
        docsDf(Seq(20L -> (base + " indeed"))), "doc_id", "text")
      val joined = IncrementalDedup.crossGenerationCandidates(spark.table(storeTable), b2)
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"exactly ONE Exchange (the batch side); the bucketed store must not shuffle:\n${plan.take(2000)}")
      assert(joined.collect().nonEmpty, "the near-dup batch doc must hit the store")
    }
    graft.Storage.releaseAll(spark)
  }

  test("storeCandidates self-join is bucket-aligned: neither scan side exchanges") {
    dropTable(storeTable)
    IncrementalDedup.appendToStore(
      IncrementalDedup.bandedSignatures(
        docsDf(Seq(1L -> base, 2L -> (base + " or so"), 3L -> "unrelated words here")),
        "doc_id", "text"), storeTable, buckets = 4)
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val cands = IncrementalDedup.storeCandidates(spark.table(storeTable))
      val plan = cands.queryExecution.executedPlan.toString
      // the ONLY hash exchange is the pair-distinct aggregate — both join
      // sides read the store's bucketing in place (at 100 TB this is the
      // difference between one corpus shuffle and none)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"expected 1 exchange (the distinct), got $exchanges:\n${plan.take(2000)}")
      assert(cands.collect().exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L),
        "the near-dup pair must surface from the store")
    }
    graft.Storage.releaseAll(spark)
  }

  test("index-only store yields the same candidates with ×bands less store I/O") {
    dropTable(storeTable)
    dropTable(storeTable + "_idx")
    dropTable(storeTable + "_sig")
    val batch1 = docsDf(Seq(
      1L -> base,
      2L -> "completely different text about spark catalyst optimizer rules and physical plans here",
    ))
    val batch2 = docsDf(Seq(
      10L -> (base + " extra"),
      11L -> "unrelated third subject entirely with nothing shared among any other document text",
    ))
    val b1 = IncrementalDedup.bandedSignatures(batch1, "doc_id", "text")
    IncrementalDedup.appendToStore(b1, storeTable, buckets = 4)
    IncrementalDedup.appendToIndexStore(b1, storeTable + "_idx", buckets = 4)
    IncrementalDedup.appendToSignatureStore(b1, storeTable + "_sig", buckets = 4)

    // the index store really is narrower: no sig column
    assert(spark.table(storeTable + "_idx").columns.toSeq == Seq("doc_id", "band", "bucket"))
    // and the signature store is one row per document, not per band entry
    assert(spark.table(storeTable + "_sig").count() == 2)
    assert(spark.table(storeTable).count() == 8) // 2 docs × 4 bands

    val b2 = IncrementalDedup.bandedSignatures(batch2, "doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = canon(IncrementalDedup.ingestCandidates(spark, storeTable, b2))
    val indexOnly = canon(IncrementalDedup.ingestCandidatesIndexOnly(
      spark.table(storeTable + "_idx"), spark.table(storeTable + "_sig"), b2))
    assert(indexOnly == full,
      s"index-only layout must reproduce the full-copy candidates: full=$full idx=$indexOnly")
    graft.Storage.releaseAll(spark)
  }

  test("index-only cross-generation join: bucketed index side plans with NO Exchange") {
    dropTable(storeTable + "_idx")
    dropTable(storeTable + "_sig")
    val b1 = IncrementalDedup.bandedSignatures(
      docsDf(Seq(1L -> base, 2L -> (base + " or so"))), "doc_id", "text")
    IncrementalDedup.appendToIndexStore(b1, storeTable + "_idx", buckets = 4)
    IncrementalDedup.appendToSignatureStore(b1, storeTable + "_sig", buckets = 4)

    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val b2 = IncrementalDedup.bandedSignatures(
        docsDf(Seq(20L -> (base + " indeed"))), "doc_id", "text")
      val idx = spark.table(storeTable + "_idx")
      val joined = idx.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
        .join(b2.select(col("band"), col("bucket"), col("doc_id").as("doc_b")),
          Seq("band", "bucket"))
        .filter(col("doc_a") =!= col("doc_b"))
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1,
        s"exactly ONE Exchange (the batch side); the bucketed index must not shuffle:\n${plan.take(2000)}")
      assert(joined.collect().nonEmpty)
    }
    graft.Storage.releaseAll(spark)
  }

  test("compaction: one file per bucket, bit-identical candidates, store side still exchange-free") {
    dropTable(storeTable)
    dropTable(storeTable + "__compacting")
    // three ingest generations → ≥ 3 file sets accumulated in the store
    Seq(1L -> base, 2L -> (base + " again"), 3L -> (base + " more")).foreach {
      case (id, text) =>
        IncrementalDedup.appendToStore(IncrementalDedup.bandedSignatures(
          docsDf(Seq(id -> text)), "doc_id", "text"), storeTable, buckets = 4)
    }
    def parquetFiles(): Int = {
      val loc = new java.net.URI(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(storeTable)).location.toString)
      Option(new java.io.File(loc.getPath).listFiles()).get
        .count(_.getName.endsWith(".parquet"))
    }
    val filesBefore = parquetFiles()
    assert(filesBefore > 4, s"three appends should exceed one file per bucket, got $filesBefore")
    val b4 = IncrementalDedup.bandedSignatures(
      docsDf(Seq(40L -> (base + " extra"))), "doc_id", "text")
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    def canon() = IncrementalDedup.ingestCandidates(spark, storeTable, b4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = canon()

    IncrementalDedup.compactStore(spark, storeTable)

    val filesAfter = parquetFiles()
    assert(filesAfter <= 4 && filesAfter < filesBefore,
      s"compaction must leave ≤ one file per bucket: $filesBefore -> $filesAfter")
    assert(canon() == before, "candidates must be bit-identical across compaction")
    // the compacted store still reads in place: batch side only exchanges
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val joined = IncrementalDedup.crossGenerationCandidates(spark.table(storeTable), b4)
      val exchanges = "Exchange hashpartitioning".r
        .findAllIn(joined.queryExecution.executedPlan.toString).length
      assert(exchanges == 1, "bucket spec must survive compaction")
    }
    // further appends still land in the same spec
    IncrementalDedup.appendToStore(b4, storeTable, buckets = 4)
    assert(spark.table(storeTable).select(col("doc_id")).distinct().count() == 4)
    graft.Storage.releaseAll(spark)
  }

  test("compaction refuses a non-bucketed table") {
    import spark.implicits._
    dropTable("graft_tst_plain")
    Seq((1L, "x")).toDF("a", "b").write.saveAsTable("graft_tst_plain")
    intercept[IllegalArgumentException] {
      IncrementalDedup.compactStore(spark, "graft_tst_plain")
    }
    dropTable("graft_tst_plain")
  }

  test("appends accumulate generations: a third batch sees both prior ones") {
    dropTable(storeTable)
    IncrementalDedup.appendToStore(IncrementalDedup.bandedSignatures(
      docsDf(Seq(1L -> base)), "doc_id", "text"), storeTable, buckets = 4)
    IncrementalDedup.appendToStore(IncrementalDedup.bandedSignatures(
      docsDf(Seq(2L -> (base + " again"))), "doc_id", "text"), storeTable, buckets = 4)
    val b3 = IncrementalDedup.bandedSignatures(
      docsDf(Seq(30L -> (base + " extra"))), "doc_id", "text")
    val partners = IncrementalDedup.ingestCandidates(spark, storeTable, b3)
      .filter(col("doc_b") === 30L).select(col("doc_a"))
      .collect().map(_.getLong(0)).toSet
    assert(partners == Set(1L, 2L),
      s"batch 3 must pair with BOTH prior generations, got $partners")
    graft.Storage.releaseAll(spark)
  }

  test("tombstone delete: mask = purge = from-scratch rebuild; re-delete idempotent; bytes leave disk") {
    val t = "graft_tst_tombstone_store"
    Seq(t, IncrementalDedup.tombstoneTable(t), t + "_rebuilt").foreach(dropTable)
    try {
      val all = Seq(1L -> base, 2L -> (base + " or so"), 3L -> (base + " again"),
        4L -> "unrelated words entirely", 5L -> (base + " or so indeed"))
      IncrementalDedup.appendToStore(IncrementalDedup.bandedSignatures(
        docsDf(all), "doc_id", "text"), t, buckets = 4)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        IncrementalDedup.storeCandidates(df)
          .select("doc_a", "doc_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val before = pairs(spark.table(t))
      assert(before.exists(p => p._1 == 2L || p._2 == 2L),
        "fixture must pair doc 2 before deletion")

      // delete doc 2 twice (idempotent), mask view drops every pair of 2
      val del = docsDf(all.filter(_._1 == 2L)).select(col("doc_id"))
      IncrementalDedup.deleteFromStore(spark, t, del)
      IncrementalDedup.deleteFromStore(spark, t, del)
      val masked = pairs(IncrementalDedup.liveStore(spark, t))
      assert(!masked.exists(p => p._1 == 2L || p._2 == 2L))

      // purge: same serves, tombstone table gone, rows physically absent
      IncrementalDedup.purgeTombstoned(spark, t)
      assert(pairs(spark.table(t)) == masked, "purge must not change serves")
      assert(!spark.catalog.tableExists(IncrementalDedup.tombstoneTable(t)))
      assert(spark.table(t).filter(col("doc_id") === 2L).count() == 0L,
        "purged signatures must not exist on disk")
      // liveStore over a purged table (no tombstones) is the table itself
      assert(pairs(IncrementalDedup.liveStore(spark, t)) == masked)

      // and the whole thing equals a from-scratch rebuild on the survivors
      IncrementalDedup.appendToStore(IncrementalDedup.bandedSignatures(
        docsDf(all.filterNot(_._1 == 2L)), "doc_id", "text"),
        t + "_rebuilt", buckets = 4)
      assert(pairs(spark.table(t + "_rebuilt")) == masked,
        "delete+purge must equal rebuilding without the deleted doc")

      // the purged store keeps its bucket spec: the self-join's only hash
      // exchange is the pair-distinct aggregate (the bucket-aligned pin
      // above), both scan sides still read the bucketing in place
      withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
        val plan = IncrementalDedup.storeCandidates(spark.table(t))
          .queryExecution.executedPlan.toString
        val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(exchanges == 1,
          s"expected 1 exchange (the distinct), got $exchanges:\n${plan.take(2000)}")
      }
      graft.Storage.releaseAll(spark)
    } finally {
      Seq(t, IncrementalDedup.tombstoneTable(t), t + "_rebuilt").foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("ingest in the delete-before-purge window reads the LIVE store: no pair touches a tombstoned id") {
    val t = "graft_tst_tombstone_ingest"
    Seq(t, IncrementalDedup.tombstoneTable(t)).foreach(dropTable)
    try {
      // store: doc 1 and its near-dup doc 2; delete doc 2 but DON'T purge
      IncrementalDedup.appendToStore(IncrementalDedup.bandedSignatures(
        docsDf(Seq(1L -> base, 2L -> (base + " or so"))), "doc_id", "text"), t, buckets = 4)
      IncrementalDedup.deleteFromStore(spark, t,
        docsDf(Seq(2L -> "")).select(col("doc_id")))

      // a new batch near-dup of BOTH must pair with 1 only: the logically
      // deleted signature sits on disk but liveStore masks it from ingest
      val b = IncrementalDedup.bandedSignatures(
        docsDf(Seq(30L -> (base + " extra"))), "doc_id", "text")
      val partners = IncrementalDedup.ingestCandidates(spark, t, b)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(partners.contains((1L, 30L)),
        s"the live store doc must still pair, got $partners")
      assert(!partners.exists(p => p._1 == 2L || p._2 == 2L),
        s"a pre-purge ingest must not pair against a tombstoned signature, got $partners")

      // single-column contract: a multi-column id frame is rejected loudly
      intercept[IllegalArgumentException] {
        IncrementalDedup.deleteFromStore(spark, t, docsDf(Seq(1L -> "x")))
      }
      graft.Storage.releaseAll(spark)
    } finally {
      Seq(t, IncrementalDedup.tombstoneTable(t)).foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }
}
