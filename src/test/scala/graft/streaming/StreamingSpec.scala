package graft.streaming

import graft.SparkSpec
import graft.operators.IncrementalDedup
import graft.streaming.EventStreams.{EventRow, SessionAgg}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  test("hourlyAggregates over a stream equals the same aggregation in batch") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventRow]
    val rows = Seq(
      EventRow(1, ts(5), 10, "click", 1.0),
      EventRow(2, ts(20), 10, "click", 2.0),
      EventRow(3, ts(65), 11, "view", 3.0),
      EventRow(4, ts(70), 10, "click", 4.0),
    )
    ms.addData(rows)
    val q = EventStreams.hourlyAggregates(ms.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("t_hourly").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t_hourly")
      .select(col("window.start").as("h"), col("event_type"), col("n_events"), col("total_value"))
    val batch = rows.toDF()
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("total_value"))
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
  }

  test("sessionize emits sessions closed by gap and by event-time timeout") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventRow]
    val q = EventStreams.sessionize(ms.toDS(), gapSeconds = 600, watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("t_sessions").start()

    // session 1: two events 5 min apart; session 2 starts 40 min later
    ms.addData(Seq(
      EventRow(1, ts(0), 1, "click", 1.0),
      EventRow(2, ts(5), 1, "click", 2.0),
      EventRow(3, ts(45), 1, "view", 3.0)))
    q.processAllAvailable()
    // advance the watermark far past session 2's timeout so it flushes
    ms.addData(Seq(EventRow(9, ts(600), 2, "click", 0.5)))
    q.processAllAvailable()
    ms.addData(Seq(EventRow(10, ts(1200), 2, "click", 0.5)))
    q.processAllAvailable()
    q.stop()

    val sessions = spark.table("t_sessions").as[SessionAgg].collect()
      .filter(_.user_id == 1).sortBy(_.session_start.getTime)
    assert(sessions.length == 2, s"expected 2 closed sessions, got ${sessions.toSeq}")
    assert(sessions(0).n_events == 2 && sessions(0).total_value == 3.0)
    assert(sessions(1).n_events == 1 && sessions(1).total_value == 3.0)
  }

  test("funnelReach: strict-order progression, out-of-order arrival, open users stay in state") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventRow]
    val stages = Seq("signup", "click", "purchase")
    val q = EventStreams.funnelReach(ms.toDS(), stages,
        gapSeconds = 600, watermark = "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("t_funnel").start()

    ms.addData(Seq(
      // user 1 completes all three in order
      EventRow(1, ts(0), 1, "signup", 0), EventRow(2, ts(5), 1, "click", 0),
      EventRow(3, ts(10), 1, "purchase", 0),
      // user 2: purchase BEFORE click in event time — stops at signup+click?
      // no: purchase(2) < click(4) means no purchase after click → 2 stages
      EventRow(4, ts(0), 2, "signup", 0), EventRow(5, ts(2), 2, "purchase", 0),
      EventRow(6, ts(4), 2, "click", 0),
      // user 3: click only (never signed up) → 0 stages
      EventRow(7, ts(3), 3, "click", 0)))
    q.processAllAvailable()
    // advance the watermark far past users 1-4's timeouts; user 5's own
    // event holds the final watermark short of its timeout, so user 5
    // stays in state awaiting more data
    ms.addData(Seq(EventRow(8, ts(2000), 4, "signup", 0)))
    q.processAllAvailable()
    ms.addData(Seq(EventRow(9, ts(4000), 5, "click", 0)))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("t_funnel").as[EventStreams.FunnelReach].collect()
      .map(r => r.user_id -> r.stages_completed).toMap
    assert(got == Map(1L -> 3, 2L -> 2, 3L -> 0, 4L -> 1),
      s"user 5 must still be open; got $got")
  }

  test("funnelReach buffers across micro-batches: a later-batch earlier-time event still counts") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventRow]
    val q = EventStreams.funnelReach(ms.toDS(), Seq("signup", "click"),
        gapSeconds = 600, watermark = "60 minutes")
      .writeStream.outputMode("append").format("memory").queryName("t_funnel2").start()
    // batch 1: the LATER stage arrives first (in arrival order)
    ms.addData(Seq(EventRow(1, ts(30), 1, "click", 0)))
    q.processAllAvailable()
    // batch 2: the signup, EARLIER in event time, within the watermark
    ms.addData(Seq(EventRow(2, ts(10), 1, "signup", 0)))
    q.processAllAvailable()
    // flush
    ms.addData(Seq(EventRow(3, ts(5000), 9, "click", 0)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_funnel2").as[EventStreams.FunnelReach].collect()
      .map(r => r.user_id -> r.stages_completed).toMap
    assert(got == Map(1L -> 2),
      s"a multiset recurrence must not depend on arrival order; got $got")
  }

  test("sessionWindowAgg: tie at exactly the gap MERGES; batch and stream agree") {
    // the probed built-in rule: [first, last + gap] windows, ≤-gap merge —
    // an event exactly 30 min after the previous one stays in the session.
    val rows = Seq(
      EventRow(1, ts(0), 1, "click", 1.0),
      EventRow(2, ts(30), 1, "click", 2.0),    // exactly the 30-min gap → merges
      EventRow(3, ts(61), 1, "click", 4.0),    // 31 min later → new session
      EventRow(4, ts(10), 2, "view", 8.0))
    val batch = EventStreams.sessionWindowAgg(rows.toDF())
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
      .collect().toSet
    assert(batch == Set(
      (1L, ts(0), ts(60), 2L, 3.0),
      (1L, ts(61), ts(91), 1L, 4.0),
      (2L, ts(10), ts(40), 1L, 8.0)))
    // identical logic through the streaming path (watermarked, append)
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventRow]
    ms.addData(rows)
    val q = EventStreams.sessionWindowAgg(ms.toDF(), watermark = Some("2 hours"))
      .writeStream.outputMode("complete").format("memory").queryName("t_sw").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t_sw")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
      .collect().toSet
    assert(streamed == batch)
    spark.catalog.dropTempView("t_sw")
  }

  test("stream-static enrichment equals the batch dim join + aggregate") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((10L, "SEG_A"), (11L, "SEG_B"), (12L, "SEG_A")).toDF("ck", "seg")
    val rows = Seq(
      EventRow(1, ts(5), 10, "click", 1.0),
      EventRow(2, ts(20), 11, "click", 2.0),
      EventRow(3, ts(65), 12, "view", 3.0),
      EventRow(4, ts(70), 10, "click", 4.0),
      EventRow(5, ts(75), 99, "view", 8.0))   // no dim row → dropped (inner)
    val ms = MemoryStream[EventRow]
    ms.addData(rows)
    val q = EventStreams.enrichedHourlyAggregates(ms.toDF(), dim, "user_id", "ck", "seg")
      .writeStream.outputMode("complete").format("memory").queryName("t_enrich").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("t_enrich")
      .select(col("window.start").as("h"), col("seg"), col("n_events"), col("total_value"))
    val batch = rows.toDF().join(dim, col("user_id") === col("ck"))
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("seg"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("total_value"))
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
    assert(streamed.count() == 3)  // user 99 never appears
    spark.catalog.dropTempView("t_enrich")
  }

  // ---- checkpoint/restart recovery: the operational contract at scale.
  // A streaming pipeline over 100 TB will be killed and resumed; the
  // checkpoint must carry BOTH source offsets (exactly-once: no batch
  // replays into the sink) and operator state (watermark + open windows /
  // sessions: aggregates spanning the interruption must still be
  // complete). A file source + file sink is the fault-tolerant pairing —
  // restarts reconcile through the offset log and the sink's commit log.

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  private def writeBatch(dir: java.io.File, rows: Seq[EventRow]): Unit =
    rows.toDF().coalesce(1).write.mode("append")
      .parquet(dir.getAbsolutePath)

  /** Run one availableNow pass of `plan` over the parquet dir, appending
    * finalized rows to the parquet sink at `out` with checkpoint `cp`.
    */
  private def runPass(in: java.io.File, out: java.io.File, cp: java.io.File,
                      plan: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val schema = Seq.empty[EventRow].toDF().schema
    val src = spark.readStream.schema(schema).parquet(in.getAbsolutePath)
    val q = plan(src)
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", out.getAbsolutePath)
      .start()
    q.awaitTermination()
  }

  test("checkpoint restart: interrupted hourly aggregation resumes exactly-once, state intact") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    try {
      val dirs = Seq("in", "out", "cp", "in2", "out2", "cp2")
        .map(n => n -> new java.io.File(root, n)).toMap
      // batch 1 leaves windows w0 and w1 OPEN (watermark 2h behind);
      // batch 2 adds to w1 ACROSS the restart and pushes the watermark
      // past both, so emission happens entirely in the resumed run —
      // counts are only right if the checkpoint recovered the state.
      val batch1 = Seq(
        EventRow(1, ts(5), 10, "click", 1.0),
        EventRow(2, ts(20), 10, "click", 2.0),
        EventRow(3, ts(70), 11, "view", 3.0))
      val batch2 = Seq(
        EventRow(4, ts(90), 10, "view", 4.0),
        EventRow(5, ts(300), 10, "click", 0.5)) // watermark driver; own window stays open
      val agg = (df: org.apache.spark.sql.DataFrame) =>
        EventStreams.hourlyAggregates(df)
          .select(col("window.start").as("h"), col("event_type"),
            col("n_events"), col("total_value"))

      // interrupted: process batch 1, STOP, add batch 2, resume from cp
      writeBatch(dirs("in"), batch1)
      runPass(dirs("in"), dirs("out"), dirs("cp"), agg)
      writeBatch(dirs("in"), batch2)
      runPass(dirs("in"), dirs("out"), dirs("cp"), agg)
      // uninterrupted reference: same data, one run
      writeBatch(dirs("in2"), batch1)
      writeBatch(dirs("in2"), batch2)
      runPass(dirs("in2"), dirs("out2"), dirs("cp2"), agg)

      def read(d: java.io.File) = spark.read.parquet(d.getAbsolutePath)
        .as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
      val resumed = read(dirs("out"))
      assert(resumed == read(dirs("out2")),
        "resumed run must equal the uninterrupted run")
      // window w0 aggregates ONLY pre-restart events; w1 spans the restart
      assert(resumed == Set(
        (ts(0), "click", 2L, 3.0),
        (ts(60), "view", 2L, 7.0)), resumed.toString)

      // exactly-once: an idle restart (no new data) must add nothing
      runPass(dirs("in"), dirs("out"), dirs("cp"), agg)
      assert(read(dirs("out")) == resumed, "idle restart must not re-emit")
    } finally rmTree(root)
  }

  test("checkpoint restart: a session OPEN across the interruption merges correctly (q105 shape)") {
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt_sw").toFile
    try {
      val in = new java.io.File(root, "in")
      val out = new java.io.File(root, "out")
      val cp = new java.io.File(root, "cp")
      val sw = (df: org.apache.spark.sql.DataFrame) =>
        EventStreams.sessionWindowAgg(df, gap = "30 minutes",
          watermark = Some("2 hours"))
      // session opens before the restart, EXTENDS after it
      writeBatch(in, Seq(
        EventRow(1, ts(0), 1, "click", 1.0),
        EventRow(2, ts(10), 1, "click", 2.0)))
      runPass(in, out, cp, sw)
      writeBatch(in, Seq(
        EventRow(3, ts(15), 1, "view", 4.0),     // merges into the open session
        EventRow(4, ts(600), 2, "click", 0.5)))  // watermark driver
      runPass(in, out, cp, sw)
      val got = spark.read.parquet(out.getAbsolutePath)
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
        .collect().toSet
      // one session [00:00, 00:45], THREE events — two before the restart,
      // one after: only recovered session state can produce this row
      assert(got == Set((1L, ts(0), ts(45), 3L, 7.0)), got.toString)
    } finally rmTree(root)
  }

  test("sliding windows assign events to overlapping windows") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventRow]
    ms.addData(Seq(EventRow(1, ts(30), 1, "click", 1.0)))
    val q = EventStreams.slidingCounts(ms.toDF())
      .writeStream.outputMode("complete").format("memory").queryName("t_sliding").start()
    q.processAllAvailable(); q.stop()
    // a 1h window sliding by 15m puts one event into 4 windows
    assert(spark.table("t_sliding").count() == 4)
  }
  test("streaming KMV across micro-batches equals the one-shot batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[EventRow]
    val rows = (0 until 120).map(i =>
      EventRow(i.toLong, ts(i % 300), (i % 37).toLong,
        Seq("click", "view", "error")(i % 3), 1.0))
    val k = 8 // < 37 distinct users per type: the estimator regime
    def kmvAgg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type"))
      .agg(graft.functions.KmvAgg.minima(
        graft.functions.PortableHash.hash60(col("user_id")), k).as("mins"))
    // three separate micro-batches — state must merge across them
    val q = kmvAgg(ms.toDF())
      .writeStream.outputMode("complete").format("memory")
      .queryName("t_kmv").start()
    rows.grouped(40).foreach { g => ms.addData(g); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("t_kmv")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val batch = kmvAgg(rows.toDF())
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(streamed == batch) // bit-identical minima, micro-batches invisible
  }

  test("streaming store ingest equals the batch-built store; a ledger replay is a no-op") {
    val streamTable = "graft_stream_store_spec"
    val batchTable = "graft_batch_store_spec"
    Seq(streamTable, StoreIngest.ledgerTable(streamTable), batchTable)
      .foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_ingest").toFile
    try {
      val in = new java.io.File(root, "in")
      val base = "the quick brown fox jumps over the lazy dog near the river bank today"
      val gen1 = Seq(1L -> base,
        2L -> "completely different text about spark catalyst optimizer rules and plans")
      val gen2 = Seq(10L -> (base + " extra"),
        11L -> "unrelated third subject entirely with nothing shared among documents")
      // two separate writes → two files → maxFilesPerTrigger=1 slices the
      // stream into (at least) two micro-batches
      gen1.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      gen2.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)

      def stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(in.getAbsolutePath)
      def storeRows(t: String) = spark.table(t).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2), r.getSeq[Long](3)))
        .toSeq.sorted(Ordering.by((x: (Long, Int, Seq[Long], Seq[Long])) => (x._1, x._2)))

      StoreIngest.ingestDedupStore(stream, "doc_id", "text", streamTable,
        buckets = 4, checkpointDir = new java.io.File(root, "cp1").getAbsolutePath)
        .awaitTermination()
      assert(spark.table(StoreIngest.ledgerTable(streamTable)).count() >= 2,
        "the slicing must actually produce multiple committed micro-batches")

      // batch reference: ONE one-shot append over the whole corpus
      IncrementalDedup.appendToStore(
        IncrementalDedup.bandedSignaturesPortable(
          (gen1 ++ gen2).toDF("doc_id", "text"), "doc_id", "text"),
        batchTable, buckets = 4)
      assert(storeRows(streamTable) == storeRows(batchTable),
        "stream-ingested store must equal the batch-built store bit-identically")

      // replay: a FRESH checkpoint re-delivers the same batch ids over the
      // same source — the ledger must make every one a no-op
      StoreIngest.ingestDedupStore(stream, "doc_id", "text", streamTable,
        buckets = 4, checkpointDir = new java.io.File(root, "cp2").getAbsolutePath)
        .awaitTermination()
      assert(storeRows(streamTable) == storeRows(batchTable),
        "a replayed ingest must not change the store")
    } finally {
      rmTree(root)
      Seq(streamTable, StoreIngest.ledgerTable(streamTable), batchTable)
        .foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("streaming distance-store ingest: a later batch's shortcut improves stored distances; replay is a no-op") {
    val table = "graft_stream_dist_spec"
    val tables = Seq(table, StoreIngest.distanceEdgeTable(table),
      StoreIngest.ledgerTable(table))
    tables.foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_dist_ingest").toFile
    try {
      val in = new java.io.File(root, "in")
      // batch 1: a chain s-a-b-c (symmetrized) → c sits at distance 3
      val gen1 = Seq(("s", "a"), ("a", "b"), ("b", "c"))
        .flatMap { case (u, v) => Seq((u, v), (v, u)) }
      // batch 2: a DIRECT s-c shortcut plus a new node d off c —
      // c must improve 3 → 1 and d must enter at 2
      val gen2 = Seq(("s", "c"), ("c", "d"))
        .flatMap { case (u, v) => Seq((u, v), (v, u)) }
      gen1.toDF("src", "dst").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      gen2.toDF("src", "dst").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)

      def stream = spark.readStream
        .schema("src STRING, dst STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(in.getAbsolutePath)
      val seeds = Seq("s").toDF("node")
      def served: Map[String, Long] = {
        val m = graft.operators.Bfs.distancesFromStore(spark, table)
          .as[(String, Long)].collect().toMap
        graft.Storage.releaseAll(spark)
        m
      }

      StoreIngest.ingestDistanceStore(stream, "src", "dst", seeds, table,
        checkpointDir = new java.io.File(root, "cp1").getAbsolutePath,
        buckets = 2).awaitTermination()
      assert(spark.table(StoreIngest.ledgerTable(table)).count() >= 2,
        "the slicing must actually produce multiple committed micro-batches")

      val expected = Map("s" -> 0L, "a" -> 1L, "b" -> 2L, "c" -> 1L, "d" -> 2L)
      assert(served == expected)
      // the improvements log really carries c twice: once at the chain
      // distance, once improved through the shortcut
      val cRows = spark.table(table).filter(col("node") === "c")
        .select(col("dist")).as[Long].collect().sorted.toSeq
      assert(cRows == Seq(1L, 3L), "c must append at 3 then improve to 1")

      // the served table equals the one-shot fixpoint on the union graph
      val oneShot = graft.operators.Bfs.hopDistancesToFixpoint(
          (gen1 ++ gen2).toDF("src", "dst"), "src", "dst", seeds)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      assert(oneShot == expected)

      // replay on a fresh checkpoint: the ledger makes every batch a
      // no-op — same served answer, no new improvement rows
      val logRows = spark.table(table).count()
      StoreIngest.ingestDistanceStore(stream, "src", "dst", seeds, table,
        checkpointDir = new java.io.File(root, "cp2").getAbsolutePath,
        buckets = 2).awaitTermination()
      assert(served == expected)
      assert(spark.table(table).count() == logRows,
        "a replayed ingest must append nothing")

      // crash-window double-append: duplicating an improvement row by
      // hand leaves the served min unchanged (idempotent by value)
      spark.table(table).filter(col("node") === "d")
        .write.mode("append").format("parquet")
        .bucketBy(2, "node").sortBy("node").saveAsTable(table)
      assert(served == expected)

      // collapsing compaction: the log shrinks to one row per node, the
      // served answer and the bucket spec are unchanged, and a later
      // ingest over a grown source still improves through the compacted
      // state
      StoreIngest.compactDistanceStore(spark, table)
      assert(spark.table(table).count() == expected.size.toLong)
      assert(served == expected)
      val spec = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table)).bucketSpec
      assert(spec.exists(s => s.numBuckets == 2 &&
        s.bucketColumnNames == Seq("node")))
      // edge-log dedup compaction: duplicate edge rows arise in the
      // crash window between the edge-log append and the ledger commit
      // (the replayed batch re-appends its edges) — simulate one by
      // hand, then the compaction must collapse the log back to its
      // support (duplicates are harmless to min-relaxation but pure
      // waste at re-relax time), preserve the bucket spec, and leave
      // served reads and future ingests unchanged
      val edgeLog = StoreIngest.distanceEdgeTable(table)
      val edgeSupport = spark.table(edgeLog).distinct().count()
      spark.table(edgeLog).limit(3)
        .write.mode("append").format("parquet")
        .bucketBy(2, "src").sortBy("src").saveAsTable(edgeLog)
      assert(spark.table(edgeLog).count() > edgeSupport,
        "the crash-window append must have actually duplicated edge rows")
      StoreIngest.compactDistanceEdgeLog(spark, table)
      assert(spark.table(edgeLog).count() == edgeSupport)
      assert(served == expected)
      val edgeSpec = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(edgeLog)).bucketSpec
      assert(edgeSpec.exists(s => s.numBuckets == 2 &&
        s.bucketColumnNames == Seq("src")))

      val gen3 = Seq(("s", "b"), ("b", "s")) // shortcut: b improves 2 → 1
      gen3.toDF("src", "dst").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      StoreIngest.ingestDistanceStore(stream, "src", "dst", seeds, table,
        checkpointDir = new java.io.File(root, "cp3").getAbsolutePath,
        buckets = 2).awaitTermination()
      assert(served == expected + ("b" -> 1L))
    } finally {
      rmTree(root)
      tables.foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("streaming k-NN serving equals the one-shot probe however the stream slices") {
    import graft.operators.Similarity
    val t = "graft_stream_knn_spec"
    Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_knn_serve").toFile
    try {
      val rnd = new scala.util.Random(7)
      val corpus = (0L until 40L).map(i =>
        (i, Array.fill(8)(rnd.nextDouble() - 0.5))).toDF("vec_id", "embedding")
      corpus.cache(); corpus.count()
      val qids = Seq(3L, 13L, 23L, 33L)
      val in = new java.io.File(root, "in")
      // two files → two micro-batches under maxFilesPerTrigger = 1
      qids.grouped(2).foreach { g =>
        corpus.filter(col("vec_id").isin(g: _*)).coalesce(1)
          .write.mode("append").parquet(in.getAbsolutePath)
      }
      def stream = spark.readStream
        .schema(corpus.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in.getAbsolutePath)
      StoreIngest.ingestKnnResults(stream, corpus, "vec_id", "embedding", t,
        checkpointDir = new java.io.File(root, "cp1").getAbsolutePath,
        k = 3, nlist = 4, nprobe = 2)
        .awaitTermination()
      assert(spark.table(StoreIngest.ledgerTable(t)).count() >= 2,
        "the slicing must actually produce multiple committed micro-batches")
      def served = spark.table(t).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      val oneShot = Similarity.ivfTopK(corpus,
          corpus.filter(col("vec_id").isin(qids: _*)), "vec_id", "embedding",
          k = 3, nlist = 4, nprobe = 2, lloydRounds = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(served == oneShot,
        "served answers must equal the one-shot probe bit for bit")
      // fresh checkpoint over the same source: ledger fingerprints make
      // every re-delivered batch a no-op
      StoreIngest.ingestKnnResults(stream, corpus, "vec_id", "embedding", t,
        checkpointDir = new java.io.File(root, "cp2").getAbsolutePath,
        k = 3, nlist = 4, nprobe = 2)
        .awaitTermination()
      assert(served == oneShot, "replayed stream must not change the answers")
      corpus.unpersist()
    } finally {
      rmTree(root)
      Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("streaming histogram-store ingest: exactly-once where a replay would double-count") {
    import graft.operators.HistogramSketch
    val t = "graft_stream_hist_spec"
    Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_hist_ingest").toFile
    try {
      val in = new java.io.File(root, "in")
      val gen1 = (0L until 40L).map(i => ("a", i * 10))
      val gen2 = (0L until 25L).map(i => ("b", i * 7 + 3))
      gen1.toDF("grp", "v").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      gen2.toDF("grp", "v").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      def stream = spark.readStream.schema("grp STRING, v LONG")
        .option("maxFilesPerTrigger", "1")
        .parquet(in.getAbsolutePath)
      val qs = Seq((1, 2), (19, 20))
      def served: Set[(String, Int, Int, Long, Long)] =
        HistogramSketch.quantilesFromTaggedStore(spark, t, Seq("grp"),
            binWidth = 25L, quantiles = qs)
          .as[(String, Int, Int, Long, Long)].collect().toSet
      StoreIngest.ingestHistStore(stream, Seq("grp"), "v", binWidth = 25L,
        table = t, checkpointDir = new java.io.File(root, "cp1").getAbsolutePath)
        .awaitTermination()
      assert(spark.table(StoreIngest.ledgerTable(t)).count() >= 2,
        "the slicing must actually produce multiple committed micro-batches")
      val batch = HistogramSketch.quantileSketch(
          (gen1 ++ gen2).toDF("grp", "v"), Seq("grp"), "v",
          binWidth = 25L, quantiles = qs)
        .as[(String, Int, Int, Long, Long)].collect().toSet
      val afterIngest = served
      assert(afterIngest == batch,
        "streamed tagged store must serve the one-shot sketch verbatim")
      // REPLAY BITES HERE: re-running the same source under the same
      // checkpoint re-delivers nothing; under a FRESH checkpoint the
      // ledger fingerprint skips both batches. Counts (unlike every
      // set-union store) would double if either guard failed.
      StoreIngest.ingestHistStore(stream, Seq("grp"), "v", binWidth = 25L,
        table = t, checkpointDir = new java.io.File(root, "cp2").getAbsolutePath)
        .awaitTermination()
      assert(served == batch, "a replayed stream must not shift any quantile")
      // crash-window double-append: same rows under the SAME (batch, fp)
      // tag — the read-side exact-duplicate collapse must neutralize it
      HistogramSketch.appendToStoreTagged(gen1.toDF("grp", "v"), Seq("grp"),
        "v", binWidth = 25L, table = t, batchId = 0L, fp = 12345L)
      HistogramSketch.appendToStoreTagged(gen1.toDF("grp", "v"), Seq("grp"),
        "v", binWidth = 25L, table = t, batchId = 0L, fp = 12345L)
      val once = HistogramSketch.quantileSketch(
          (gen1 ++ gen1 ++ gen2).toDF("grp", "v"), Seq("grp"), "v",
          binWidth = 25L, quantiles = qs)
        .as[(String, Int, Int, Long, Long)].collect().toSet
      assert(served == once,
        "a crash-window double-append must count ONCE; an intentional " +
        "re-ingest under a new batch id counts (gen1 now counted twice)")
    } finally {
      rmTree(root)
      Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("streaming phrase-store ingest serves the batch-built answer; a crash-window double-append is neutralized") {
    import graft.operators.InvertedIndex
    val t = "graft_stream_phrase_spec"
    val bt = t + "_batch"
    Seq(t, StoreIngest.ledgerTable(t), bt).foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_phrase_ingest").toFile
    try {
      val in = new java.io.File(root, "in")
      val gen1 = Seq(1L -> "alpha merge stream beta merge stream gamma",
        2L -> "no phrase here just merge alone then stream apart")
      val gen2 = Seq(10L -> "merge stream at the start",
        11L -> "entirely unrelated words")
      gen1.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      gen2.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      def stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(in.getAbsolutePath)
      StoreIngest.ingestPhraseStore(stream, "doc_id", "text", t, buckets = 2,
        checkpointDir = new java.io.File(root, "cp1").getAbsolutePath)
        .awaitTermination()
      assert(spark.table(StoreIngest.ledgerTable(t)).count() >= 2,
        "the slicing must actually produce multiple committed micro-batches")
      // batch reference store over the whole corpus
      InvertedIndex.buildPhraseStore((gen1 ++ gen2).toDF("doc_id", "text"),
        "doc_id", "text", bt, buckets = 2)
      def matches(tbl: String) = InvertedIndex
        .phraseSearchStored(spark, tbl, Seq("merge", "stream"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val expect = Map(1L -> 2L, 10L -> 1L)
      assert(matches(bt) == expect, "batch store sanity")
      assert(matches(t) == expect, "stream-ingested store must serve the same answer")
      // the crash window re-appends one batch (raw duplicate occurrence
      // rows) — the stored search's occurrence dedup must keep counts
      // exact (a raw chain would MULTIPLY matches)
      InvertedIndex.appendToPhraseStore(gen1.toDF("doc_id", "text"),
        "doc_id", "text", t, buckets = 2)
      assert(matches(t) == expect,
        "a double-appended batch must not change phrase counts")
    } finally {
      rmTree(root)
      Seq(t, StoreIngest.ledgerTable(t), bt).foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("streaming winnow-store ingest serves the batch-built answer; a crash-window double-append is neutralized") {
    import graft.operators.Winnowing
    val t = "graft_stream_winnow_spec"
    val bt = t + "_batch"
    Seq(t, StoreIngest.ledgerTable(t), bt).foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_winnow_ingest").toFile
    try {
      val in = new java.io.File(root, "in")
      val shared = "the quick brown fox jumps over the lazy dog tonight"
      val gen1 = Seq(1L -> s"intro text $shared and a tail",
        2L -> "completely different words with no overlap at all here")
      val gen2 = Seq(10L -> s"other preamble then $shared closing remarks",
        11L -> "more unrelated filler content nothing shared anywhere")
      gen1.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      gen2.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      def stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(in.getAbsolutePath)
      StoreIngest.ingestWinnowStore(stream, "doc_id", "text", t, buckets = 2,
        checkpointDir = new java.io.File(root, "cp1").getAbsolutePath)
        .awaitTermination()
      assert(spark.table(StoreIngest.ledgerTable(t)).count() >= 2,
        "the slicing must actually produce multiple committed micro-batches")
      Winnowing.buildStore((gen1 ++ gen2).toDF("doc_id", "text"),
        "doc_id", "text", bt, buckets = 2)
      def matches(tbl: String) = Winnowing.matchesStored(spark, tbl)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val expect = matches(bt)
      assert(expect.contains((1L, 10L)),
        "the shared sentence must pair docs 1 and 10 in the batch store")
      assert(matches(t) == expect,
        "stream-ingested store must serve the same answer")
      // crash window: re-append one generation's raw fingerprint rows —
      // the stored match's (doc_id, fp) dedup must keep counts exact
      Winnowing.appendToStore(Winnowing.fingerprintsChars(
        gen1.toDF("doc_id", "text"), "doc_id", "text"), "doc_id", t, buckets = 2)
      assert(matches(t) == expect,
        "a double-appended batch must not change shared-fp counts")
    } finally {
      rmTree(root)
      Seq(t, StoreIngest.ledgerTable(t), bt).foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("streaming gram-store ingest serves the batch decontamination answer; double-append is invariant") {
    import graft.operators.Decontaminate
    val t = "graft_stream_gram_spec"
    Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_gram_ingest").toFile
    try {
      val in = new java.io.File(root, "in")
      val bench1 = Seq(1L -> "alpha beta gamma delta epsilon zeta")
      val bench2 = Seq(2L -> "one two three four five six seven")
      bench1.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      bench2.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      def stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(in.getAbsolutePath)
      StoreIngest.ingestGramStore(stream, "text", k = 4, t, buckets = 2,
        checkpointDir = new java.io.File(root, "cp1").getAbsolutePath)
        .awaitTermination()
      assert(spark.table(StoreIngest.ledgerTable(t)).count() >= 2)
      val train = Seq(
        10L -> "prefix alpha beta gamma delta suffix words",       // hits bench1
        11L -> "three four five six inside a longer sentence",     // hits bench2
        12L -> "no overlap with anything at all in this row"
      ).toDF("doc_id", "text")
      def served = Decontaminate.overlapsFromStore(spark, t, train,
          "doc_id", "text", k = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val oneShot = Decontaminate.overlaps(train,
          (bench1 ++ bench2).toDF("doc_id", "text"), "doc_id", "text", k = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(oneShot.keySet == Set(10L, 11L), s"fixture sanity: $oneShot")
      assert(served == oneShot, "stream-ingested store must serve the batch answer")
      // crash window: re-append one batch's keys — reads dedup, counts exact
      Decontaminate.appendToGramStore(bench1.toDF("doc_id", "text"),
        "text", k = 4, t, buckets = 2)
      assert(served == oneShot, "a double-appended batch must not change counts")
    } finally {
      rmTree(root)
      Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("a colliding batch id with DIFFERENT data re-ingests — no silent loss on a fresh checkpoint over a grown source") {
    val t = "graft_stream_collide_spec"
    Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_collide").toFile
    try {
      val in = new java.io.File(root, "in")
      val d1 = Seq(1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
      val d2 = Seq(2L -> "totally different words about catalyst plans and shuffles here")
      d1.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      // run 1: one file → committed batch 0 covers ONLY doc 1
      StoreIngest.ingestDedupStore(
        spark.readStream.schema("doc_id LONG, text STRING")
          .parquet(in.getAbsolutePath),
        "doc_id", "text", t, buckets = 2,
        checkpointDir = new java.io.File(root, "cp1").getAbsolutePath)
        .awaitTermination()
      // the source GROWS, and a FRESH checkpoint re-delivers batch id 0 —
      // now carrying doc 1 AND doc 2. An id-only ledger would skip it and
      // silently lose doc 2; the content fingerprint must make it run.
      d2.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      StoreIngest.ingestDedupStore(
        spark.readStream.schema("doc_id LONG, text STRING")
          .parquet(in.getAbsolutePath),
        "doc_id", "text", t, buckets = 2,
        checkpointDir = new java.io.File(root, "cp2").getAbsolutePath)
        .awaitTermination()
      val docsInStore = spark.table(t).select("doc_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(docsInStore == Set(1L, 2L),
        s"the grown batch under a colliding id must re-ingest: $docsInStore")
      // the doc-1 rows double-appended (at-least-once) — the DISTINCT row
      // set still equals a one-shot batch build over the grown corpus
      val batchT = t + "_batch"
      dropTable(batchT)
      IncrementalDedup.appendToStore(
        IncrementalDedup.bandedSignaturesPortable(
          (d1 ++ d2).toDF("doc_id", "text"), "doc_id", "text"),
        batchT, buckets = 2)
      def distinctRows(tbl: String) = spark.table(tbl).distinct().collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Long](2), r.getSeq[Long](3)))
        .toSet
      assert(distinctRows(t) == distinctRows(batchT),
        "distinct store rows must equal the one-shot batch build")
      dropTable(batchT)
    } finally {
      rmTree(root)
      Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("a legacy (batch_id)-only ledger migrates on first contact instead of crashing") {
    val t = "graft_stream_legacy_spec"
    Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_legacy").toFile
    try {
      val in = new java.io.File(root, "in")
      Seq(1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      StoreIngest.ingestDedupStore(
        spark.readStream.schema("doc_id LONG, text STRING")
          .parquet(in.getAbsolutePath),
        "doc_id", "text", t, buckets = 2,
        checkpointDir = new java.io.File(root, "cp1").getAbsolutePath)
        .awaitTermination()
      val storeRows = spark.table(t).count()
      // rewrite the ledger in the PRE-fingerprint format (batch_id only) —
      // a retained store+ledger written by the old code
      val legacyIds = spark.table(StoreIngest.ledgerTable(t))
        .select("batch_id").collect().map(_.getLong(0))
      dropTable(StoreIngest.ledgerTable(t))
      legacyIds.toSeq.toDF("batch_id").write.mode("append")
        .format("parquet").saveAsTable(StoreIngest.ledgerTable(t))
      // fresh checkpoint over the same source: the first micro-batch must
      // NOT crash on the missing n_rows/fp columns; the legacy id keeps
      // its id-only commit semantics, so the replayed batch is a no-op
      StoreIngest.ingestDedupStore(
        spark.readStream.schema("doc_id LONG, text STRING")
          .parquet(in.getAbsolutePath),
        "doc_id", "text", t, buckets = 2,
        checkpointDir = new java.io.File(root, "cp2").getAbsolutePath)
        .awaitTermination()
      assert(spark.table(t).count() == storeRows,
        "a batch committed under the legacy ledger must stay committed")
      // and the ledger is now in the new schema (sentinel rows), so later
      // commits append without a schema mismatch
      val cols = spark.table(StoreIngest.ledgerTable(t)).columns.toSet
      assert(cols == Set("batch_id", "n_rows", "fp"),
        s"legacy ledger must migrate to the fingerprint schema: $cols")
    } finally {
      rmTree(root)
      Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("a crash inside the ledger migration's swap window cannot lose commit history") {
    // the round-14 advisory: the old migration dropped the legacy ledger
    // BEFORE rewriting it, so a crash in between erased every committed
    // batch. The protocol now stages the new-schema history in a sidecar
    // table first; this test materializes the worst crash state — ledger
    // GONE, stage present — and proves a restart restores the history
    // (the replayed batch stays a no-op) instead of re-admitting it.
    val t = "graft_stream_migcrash_spec"
    val ledger = StoreIngest.ledgerTable(t)
    val stage = ledger + "__migrate"
    Seq(t, ledger, stage).foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_migcrash").toFile
    try {
      val in = new java.io.File(root, "in")
      Seq(1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa")
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      def ingest(cp: String): Unit =
        StoreIngest.ingestDedupStore(
          spark.readStream.schema("doc_id LONG, text STRING")
            .parquet(in.getAbsolutePath),
          "doc_id", "text", t, buckets = 2,
          checkpointDir = new java.io.File(root, cp).getAbsolutePath)
          .awaitTermination()
      ingest("cp1")
      val storeRows = spark.table(t).count()
      // crash state: the committed history sits ONLY in the stage table
      spark.table(ledger).write.mode("append").format("parquet")
        .saveAsTable(stage)
      dropTable(ledger)
      ingest("cp2")
      assert(spark.table(t).count() == storeRows,
        "history staged by an interrupted migration must stay committed")
      assert(spark.catalog.tableExists(ledger) &&
        !spark.catalog.tableExists(stage),
        "recovery must restore the ledger and clear the stage")
      // orphan stage next to an intact ledger (crash after the restore,
      // before the stage drop): the ledger wins, the orphan is cleared,
      // and the batch is still a no-op
      spark.table(ledger).write.mode("append").format("parquet")
        .saveAsTable(stage)
      ingest("cp3")
      assert(spark.table(t).count() == storeRows,
        "an orphan stage must not perturb commit state")
      assert(!spark.catalog.tableExists(stage),
        "the orphan stage must be cleared on first contact")
    } finally {
      rmTree(root)
      Seq(t, ledger, stage).foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("streaming KMV-store ingest serves the batch estimates; double-append is harmless") {
    import graft.operators.IncrementalKmv
    val t = "graft_stream_kmv_spec"
    Seq(t, StoreIngest.ledgerTable(t), t + "_batch").foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_kmv_ingest").toFile
    try {
      val in = new java.io.File(root, "in")
      val rows = (0 until 90).map(i => (s"src_${i % 3}", s"tok_${i % 37}"))
      rows.grouped(45).foreach(g =>
        g.toDF("source", "tok").coalesce(1)
          .write.mode("append").parquet(in.getAbsolutePath))
      val stream = spark.readStream.schema("source STRING, tok STRING")
        .option("maxFilesPerTrigger", "1").parquet(in.getAbsolutePath)
      StoreIngest.ingestKmvStore(stream, "source", "tok", t, k = 8, buckets = 2,
        checkpointDir = new java.io.File(root, "cp").getAbsolutePath)
        .awaitTermination()
      assert(spark.table(StoreIngest.ledgerTable(t)).count() >= 2)

      def est(table: String) = IncrementalKmv
        .distinctFromStore(spark, table, "source", k = 8)
        .as[(String, Double)].collect().toMap

      IncrementalKmv.appendToStore(
        IncrementalKmv.sketchBatch(rows.toDF("source", "tok"), "source", "tok", 8),
        t + "_batch", "source", buckets = 2)
      val streamed = est(t)
      assert(streamed == est(t + "_batch"),
        "streamed store must serve the one-shot batch estimates")

      // KMV's stronger replay guarantee: even a raw double-append (the
      // ledger's crash window) cannot perturb any estimate
      IncrementalKmv.appendToStore(
        IncrementalKmv.sketchBatch(rows.take(45).toDF("source", "tok"),
          "source", "tok", 8), t, "source", buckets = 2)
      assert(est(t) == streamed, "a duplicated batch must not move estimates")
    } finally {
      rmTree(root)
      Seq(t, StoreIngest.ledgerTable(t), t + "_batch").foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("streaming ANN-store ingest accumulates the one-shot bucketed index") {
    import graft.operators.IncrementalAnn
    val t = "graft_stream_ann_spec"
    Seq(t, StoreIngest.ledgerTable(t), t + "_batch").foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_ingest").toFile
    try {
      val in = new java.io.File(root, "in")
      val rnd = new scala.util.Random(11)
      val vecs = (0L until 40L).map(i =>
        (i, Seq.fill(64)(rnd.nextFloat() * 2f - 1f)))
      vecs.grouped(20).foreach(g =>
        g.toDF("vec_id", "embedding").coalesce(1)
          .write.mode("append").parquet(in.getAbsolutePath))
      val stream = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1").parquet(in.getAbsolutePath)
      StoreIngest.ingestAnnStore(stream, "vec_id", "embedding", t,
        buckets = 4, checkpointDir = new java.io.File(root, "cp").getAbsolutePath)
        .awaitTermination()
      assert(spark.table(StoreIngest.ledgerTable(t)).count() >= 2)
      IncrementalAnn.appendToStore(
        IncrementalAnn.bucketedEmbeddings(
          vecs.toDF("vec_id", "embedding"), "vec_id", "embedding"),
        t + "_batch", buckets = 4)
      def pairs(table: String) = IncrementalAnn
        .storePairs(spark.table(table), minCosine = 0.2)
        .as[(Long, Long, Double)].collect().toSet
      assert(pairs(t) == pairs(t + "_batch"),
        "streamed ANN store must serve the one-shot batch pairs bit-identically")
    } finally {
      rmTree(root)
      Seq(t, StoreIngest.ledgerTable(t), t + "_batch").foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("streaming MST-store ingest: later batches EVICT forest edges; served = one-shot; replay no-op; compaction") {
    import graft.operators.Mst
    val t = "graft_stream_mst_spec"
    Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_mst_ingest").toFile
    try {
      val in = new java.io.File(root, "in")
      // batch 1: path 1-2-3 (weights 5, 6) → both edges in the forest.
      // batch 2: the light edge (1,3,2) closes a cycle in which (2,3,6)
      // is now the total-order maximum → it must be EVICTED (the
      // property no append-only log family has).
      val gen1 = Seq((1L, 2L, 5L), (2L, 3L, 6L))
      val gen2 = Seq((1L, 3L, 2L), (4L, 5L, 9L))
      Seq(gen1, gen2).foreach(g =>
        g.toDF("src", "dst", "w").coalesce(1)
          .write.mode("append").parquet(in.getAbsolutePath))
      def stream = spark.readStream
        .schema("src LONG, dst LONG, w LONG")
        .option("maxFilesPerTrigger", "1").parquet(in.getAbsolutePath)
      def served: Set[(Long, Long, Long)] = {
        val f = StoreIngest.mstForestFromStore(spark, t)
          .as[(Long, Long, Long)].collect().toSet
        graft.Storage.releaseAll(spark)
        f
      }

      StoreIngest.ingestMstStore(stream, "src", "dst", "w", t,
        checkpointDir = new java.io.File(root, "cp1").getAbsolutePath)
        .awaitTermination()
      assert(spark.table(StoreIngest.ledgerTable(t)).count() >= 2,
        "the slicing must actually produce multiple committed micro-batches")
      val oneShot = Mst.boruvkaFixpoint(
          (gen1 ++ gen2).toDF("src", "dst", "w"), "src", "dst", "w")
        .as[(Long, Long, Long)].collect().toSet
      graft.Storage.releaseAll(spark)
      assert(oneShot == Set((1L, 2L, 5L), (1L, 3L, 2L), (4L, 5L, 9L)))
      assert(served == oneShot,
        "served forest must equal the one-shot MSF over everything ingested")
      // the superseded snapshot still CARRIES the evicted edge — the
      // versioning, not folding, is what makes eviction expressible
      val snap0 = spark.table(t).filter(col("snap") === 0L)
        .select(col("u"), col("v"), col("w"))
        .as[(Long, Long, Long)].collect().toSet
      assert(snap0.contains((2L, 3L, 6L)), "snapshot 0 must retain the later-evicted edge")

      // fresh-checkpoint replay: ledger makes every batch a no-op
      val rowsBefore = spark.table(t).count()
      StoreIngest.ingestMstStore(stream, "src", "dst", "w", t,
        checkpointDir = new java.io.File(root, "cp2").getAbsolutePath)
        .awaitTermination()
      assert(served == oneShot && spark.table(t).count() == rowsBefore,
        "a replayed ingest must change nothing")

      // crash-window double-append: re-appending the latest snapshot's
      // rows by hand leaves the served read unchanged (DISTINCT)
      val lastSnap = spark.table(StoreIngest.ledgerTable(t))
        .agg(max(col("batch_id"))).head().getLong(0)
      spark.table(t).filter(col("snap") === lastSnap)
        .write.mode("append").format("parquet").saveAsTable(t)
      assert(served == oneShot)

      // compaction: superseded snapshots drop, state = one forest
      StoreIngest.compactMstStore(spark, t)
      assert(spark.table(t).count() == oneShot.size.toLong)
      assert(served == oneShot)

      // post-compaction ingest still folds (and can still evict):
      // (2,3,1) re-enters 2-3 cheaply, evicting (1,2,5) from the cycle
      Seq((2L, 3L, 1L)).toDF("src", "dst", "w").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      StoreIngest.ingestMstStore(stream, "src", "dst", "w", t,
        checkpointDir = new java.io.File(root, "cp3").getAbsolutePath)
        .awaitTermination()
      assert(served == Set((1L, 3L, 2L), (2L, 3L, 1L), (4L, 5L, 9L)),
        "post-compaction ingest must fold and evict through the compacted state")
    } finally {
      rmTree(root)
      Seq(t, StoreIngest.ledgerTable(t)).foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  /** Write slices as sequential parquet appends with STRICTLY INCREASING
    * explicit mtimes: FileStreamSource orders files by modification time,
    * and a coarse-mtime filesystem can tie two sequential writes — an
    * ordering race the skip-gram ingest's order-contiguity guard now
    * rejects loudly instead of silently mis-ranking.
    */
  private def writeSgSlices(dir: java.io.File,
                            slices: Seq[Seq[(Long, String, Long, Long)]]): Unit = {
    val stamped = scala.collection.mutable.Set[java.nio.file.Path]()
    slices.zipWithIndex.foreach { case (g, i) =>
      g.toDF("user", "etype", "ord", "eid").coalesce(1)
        .write.mode("append").parquet(dir.getAbsolutePath)
      val ft = java.nio.file.attribute.FileTime.fromMillis(1000L * (i + 1))
      val it = java.nio.file.Files.list(dir.toPath)
      try it.iterator().forEachRemaining { p =>
        if (!stamped.contains(p)) {
          java.nio.file.Files.setLastModifiedTime(p, ft); stamped += p
        }
      } finally it.close()
    }
  }

  test("streaming skip-gram store: cross-batch pairs, served = one-shot, replay no-op, crash rows invisible, compaction") {
    import graft.ops.Sequences
    val t = "graft_stream_skipgram_spec"
    val t2 = t + "_alt"
    val allTables = Seq(t, t2).flatMap(x =>
      Seq(x, StoreIngest.ledgerTable(x), StoreIngest.tailsTable(x)))
    allTables.foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_sg_ingest").toFile
    try {
      // (user, etype, ord, eid): user 1's A-B-A-C-B-A-C spans all three
      // slices, so most of its windows straddle a batch boundary
      val u1 = Seq("A", "B", "A", "C", "B", "A", "C").zipWithIndex
        .map { case (e, i) => (1L, e, i + 1L, 100L + i) }
      val u2 = Seq("B", "B", "A").zipWithIndex
        .map { case (e, i) => (2L, e, i + 1L, 200L + i) }
      val all = u1 ++ u2
      // per-user order-contiguous slices (the ingest contract)
      val gen1 = u1.take(3) ++ u2.take(1)
      val gen2 = u1.slice(3, 5) ++ u2.drop(1)
      val gen3 = u1.drop(5)
      val in = new java.io.File(root, "in")
      writeSgSlices(in, Seq(gen1, gen2, gen3))
      def stream = spark.readStream
        .schema("user LONG, etype STRING, ord LONG, eid LONG")
        .option("maxFilesPerTrigger", "1").parquet(in.getAbsolutePath)
      def served(table: String): Set[(String, String, Long, Long)] = {
        val m = StoreIngest.skipGramFromStore(spark, table)
          .as[(String, String, Long, Long)].collect().toSet
        graft.Storage.releaseAll(spark)
        m
      }
      def ingest(table: String, cp: String) =
        StoreIngest.ingestSkipGramStore(stream, "user", "etype",
          col("ord"), col("eid"), window = 3, table,
          new java.io.File(root, cp).getAbsolutePath).awaitTermination()

      ingest(t, "cp1")
      assert(spark.table(StoreIngest.ledgerTable(t)).count() >= 3,
        "the slicing must actually produce multiple committed micro-batches")
      val oneShot = Sequences.skipGramPairs(
          all.toDF("user", "etype", "ord", "eid"),
          "user", "etype", col("ord"), col("eid"), window = 3)
        .as[(String, String, Long, Long)].collect().toSet
      graft.Storage.releaseAll(spark)
      assert(oneShot.exists(_._3 == 3L), "fixture must produce gap-3 pairs")
      assert(served(t) == oneShot,
        "streamed store must serve the one-shot skip-gram counts")

      // replay on a fresh checkpoint: ledger makes every batch a no-op
      val logRows = spark.table(t).count()
      ingest(t, "cp2")
      assert(spark.table(t).count() == logRows,
        "a replayed ingest must append nothing")
      assert(served(t) == oneShot)

      // crash-window residue: an UNCOMMITTED pair append (tag not in the
      // ledger) and an exact duplicate of a committed row are both
      // invisible to the served read
      spark.table(t).limit(1).withColumn("__batch", lit(9999L))
        .withColumn("__fp", lit(424242L))
        .write.mode("append").format("parquet").saveAsTable(t)
      spark.table(t).filter(col("__batch") =!= 9999L).limit(1)
        .write.mode("append").format("parquet").saveAsTable(t)
      assert(served(t) == oneShot,
        "uncommitted and duplicate appends must not change the serve")

      // tail compaction: state shrinks to <= window rows per user and a
      // FOLLOW-UP ingest over new events still serves the one-shot total
      StoreIngest.compactSkipGramTails(spark, t, window = 3)
      val tailRows = spark.table(StoreIngest.tailsTable(t)).count()
      assert(tailRows <= 2 * 3, s"compacted tails must be window-bounded, got $tailRows")
      val u1b = Seq("B", "C").zipWithIndex.map { case (e, i) => (1L, e, 8L + i, 300L + i) }
      u1b.toDF("user", "etype", "ord", "eid").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      ingest(t, "cp3")
      val oneShot2 = Sequences.skipGramPairs(
          (all ++ u1b).toDF("user", "etype", "ord", "eid"),
          "user", "etype", col("ord"), col("eid"), window = 3)
        .as[(String, String, Long, Long)].collect().toSet
      graft.Storage.releaseAll(spark)
      assert(served(t) == oneShot2,
        "post-compaction ingest must continue from the compacted tails")

      // a DIFFERENT per-user order-contiguous slicing serves the same
      // counts (slicing-invariance of the incremental ranks)
      val in2 = new java.io.File(root, "in2")
      writeSgSlices(in2, Seq(u1.take(5) ++ u2, u1.drop(5) ++ u1b))
      StoreIngest.ingestSkipGramStore(
        spark.readStream.schema("user LONG, etype STRING, ord LONG, eid LONG")
          .option("maxFilesPerTrigger", "1").parquet(in2.getAbsolutePath),
        "user", "etype", col("ord"), col("eid"), window = 3, t2,
        new java.io.File(root, "cp4").getAbsolutePath).awaitTermination()
      assert(served(t2) == oneShot2,
        "a different order-contiguous slicing must serve identical counts")
    } finally {
      rmTree(root)
      allTables.foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("streaming session store: cross-batch sessions, served = one-shot, break-at-boundary closes the tail, replay/crash/compaction") {
    import graft.ops.TimeSeries
    val t = "graft_stream_session_spec"
    val t2 = t + "_alt"
    val allTables = Seq(t, t2).flatMap(x =>
      Seq(x, StoreIngest.ledgerTable(x), StoreIngest.tailsTable(x)))
    allTables.foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_sess_ingest").toFile
    try {
      // (user, etype, ord, eid) with gapUs = 10:
      //  u1: [1,2,3] | [20,21] | [50] — every boundary BREAKS, so the
      //      tail-closed-by-break path fires twice;
      //  u2: [1,2] | [3,4] | [5] — one session continuing across all three;
      //  u3: [100] in slice 1 only — open forever, served from the tail;
      //  u4: [1, 30] in ONE slice — a within-batch break (closed + open).
      val u1 = Seq(1L, 2L, 3L, 20L, 21L, 50L).zipWithIndex
        .map { case (o, i) => (1L, "e", o, 100L + i) }
      val u2 = Seq(1L, 2L, 3L, 4L, 5L).zipWithIndex
        .map { case (o, i) => (2L, "e", o, 200L + i) }
      val u3 = Seq((3L, "e", 100L, 300L))
      val u4 = Seq((4L, "e", 1L, 400L), (4L, "e", 30L, 401L))
      val all = u1 ++ u2 ++ u3 ++ u4
      val gen1 = u1.take(3) ++ u2.take(2) ++ u3 ++ u4
      val gen2 = u1.slice(3, 5) ++ u2.slice(2, 4)
      val gen3 = u1.drop(5) ++ u2.drop(4)
      val in = new java.io.File(root, "in")
      writeSgSlices(in, Seq(gen1, gen2, gen3))
      def served(table: String): Set[(Long, Long, Long, Long, Long)] = {
        val m = StoreIngest.sessionsFromStore(spark, table)
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        graft.Storage.releaseAll(spark)
        m
      }
      def oneShotOf(rows: Seq[(Long, String, Long, Long)]) = {
        val m = TimeSeries.sessionTable(rows.toDF("user", "etype", "ord", "eid"),
            "user", col("ord"), col("eid"), gapUs = 10L)
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        graft.Storage.releaseAll(spark)
        m
      }
      def ingest(dir: java.io.File, table: String, cp: String) =
        StoreIngest.ingestSessionStore(
          spark.readStream.schema("user LONG, etype STRING, ord LONG, eid LONG")
            .option("maxFilesPerTrigger", "1").parquet(dir.getAbsolutePath),
          "user", col("ord"), col("eid"), gapUs = 10L, table,
          new java.io.File(root, cp).getAbsolutePath).awaitTermination()

      ingest(in, t, "cp1")
      assert(spark.table(StoreIngest.ledgerTable(t)).count() >= 3,
        "the slicing must actually produce multiple committed micro-batches")
      val oneShot = oneShotOf(all)
      assert(oneShot.exists(_._1 == 1L) && oneShot.count(_._1 == 1L) == 3,
        "fixture must give u1 three sessions")
      assert(served(t) == oneShot,
        "streamed store must serve the one-shot session table")

      // replay on a fresh checkpoint: ledger makes every batch a no-op
      val logRows = spark.table(t).count()
      ingest(in, t, "cp2")
      assert(spark.table(t).count() == logRows,
        "a replayed ingest must append nothing")
      assert(served(t) == oneShot)

      // crash-window residue on BOTH logs is invisible to the serve
      spark.table(t).limit(1).withColumn("__batch", lit(9999L))
        .withColumn("__fp", lit(424242L))
        .write.mode("append").format("parquet").saveAsTable(t)
      spark.table(StoreIngest.tailsTable(t)).limit(1)
        .withColumn("__batch", lit(9999L)).withColumn("__fp", lit(424242L))
        .withColumn("__sid", col("__sid") + 100L)
        .write.mode("append").format("parquet").saveAsTable(StoreIngest.tailsTable(t))
      assert(served(t) == oneShot,
        "uncommitted appends must not change the serve")

      // tail compaction: one row per user; a FOLLOW-UP ingest that both
      // CONTINUES u3's open session and BREAKS u1's serves the new total
      StoreIngest.compactSessionTails(spark, t)
      val tailRows = spark.table(StoreIngest.tailsTable(t)).count()
      assert(tailRows == 4L, s"compacted tails must hold one open session per user, got $tailRows")
      val more = Seq((1L, "e", 80L, 900L), (3L, "e", 105L, 901L))
      // the new slice lands in the SAME input dir; its real current mtime
      // is strictly later than the stamped epoch-seconds of the first three
      more.toDF("user", "etype", "ord", "eid").coalesce(1)
        .write.mode("append").parquet(in.getAbsolutePath)
      ingest(in, t, "cp3")
      val oneShot2 = oneShotOf(all ++ more)
      assert(served(t) == oneShot2,
        "post-compaction ingest must continue from the compacted tails")

      // a DIFFERENT per-user order-contiguous slicing serves the same table
      val in2 = new java.io.File(root, "in2")
      writeSgSlices(in2, Seq(u1.take(4) ++ u2 ++ u4,
        u1.drop(4) ++ u3 ++ more))
      ingest(in2, t2, "cp4")
      assert(served(t2) == oneShot2,
        "a different order-contiguous slicing must serve an identical session table")
    } finally {
      rmTree(root)
      allTables.foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("session ingest enforcement: out-of-order batch rejected BEFORE append; missing-tails crash state fails loudly") {
    import graft.ops.TimeSeries
    val t = "graft_stream_session_guard"
    val tables = Seq(t, StoreIngest.ledgerTable(t), StoreIngest.tailsTable(t))
    tables.foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_sess_guard").toFile
    def causeChain(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    try {
      val u1 = Seq(1L, 2L, 3L, 20L, 21L, 50L).zipWithIndex
        .map { case (o, i) => (1L, "e", o, 100L + i) }
      def ingest(dir: java.io.File, cp: String) =
        StoreIngest.ingestSessionStore(
          spark.readStream.schema("user LONG, etype STRING, ord LONG, eid LONG")
            .option("maxFilesPerTrigger", "1").parquet(dir.getAbsolutePath),
          "user", col("ord"), col("eid"), gapUs = 10L, t,
          new java.io.File(root, cp).getAbsolutePath)

      // batch 2 repeats an event at-or-before the committed tail's last —
      // the gap to the tail is part of the answer, so the guard must
      // raise and append nothing
      val in = new java.io.File(root, "in")
      writeSgSlices(in, Seq(u1.take(4), u1.slice(2, 5)))
      val ex = intercept[Exception] { ingest(in, "cp1").awaitTermination() }
      assert(causeChain(ex).exists(c =>
        c.getMessage != null && c.getMessage.contains("order-contiguous")),
        s"expected the order-contiguity guard, got: $ex")
      assert(spark.table(StoreIngest.ledgerTable(t)).count() == 1L)
      val oneShot1 = TimeSeries.sessionTable(
          u1.take(4).toDF("user", "etype", "ord", "eid"),
          "user", col("ord"), col("eid"), gapUs = 10L)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val got = StoreIngest.sessionsFromStore(spark, t)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      graft.Storage.releaseAll(spark)
      assert(got == oneShot1, "the rejected batch must not have changed the store")

      // committed ledger + missing tails = crashed compaction window
      dropTable(StoreIngest.tailsTable(t))
      val in2 = new java.io.File(root, "in2")
      writeSgSlices(in2, Seq(u1.slice(4, 6)))
      val ex2 = intercept[Exception] { ingest(in2, "cp2").awaitTermination() }
      assert(causeChain(ex2).exists(c =>
        c.getMessage != null && c.getMessage.contains("tails table")),
        s"expected the missing-tails guard, got: $ex2")
    } finally {
      rmTree(root)
      tables.foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  test("skip-gram ingest enforcement: out-of-order batch rejected BEFORE append; missing-tails crash state fails loudly") {
    import graft.ops.Sequences
    val t = "graft_stream_skipgram_guard"
    val tables = Seq(t, StoreIngest.ledgerTable(t), StoreIngest.tailsTable(t))
    tables.foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_sg_guard").toFile
    def causeChain(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toSeq
    try {
      val u1 = Seq("A", "B", "A", "C", "B", "A", "C").zipWithIndex
        .map { case (e, i) => (1L, e, i + 1L, 100L + i) }
      def ingest(dir: java.io.File, cp: String) =
        StoreIngest.ingestSkipGramStore(
          spark.readStream.schema("user LONG, etype STRING, ord LONG, eid LONG")
            .option("maxFilesPerTrigger", "1").parquet(dir.getAbsolutePath),
          "user", "etype", col("ord"), col("eid"), window = 3, t,
          new java.io.File(root, cp).getAbsolutePath)

      // batch 2 REPEATS events already in batch 1's committed tail — the
      // out-of-order slicing whose ranks would silently diverge from the
      // one-shot row_number; the guard must raise and append nothing
      val in = new java.io.File(root, "in")
      writeSgSlices(in, Seq(u1.take(4), u1.slice(1, 3)))
      val ex = intercept[Exception] { ingest(in, "cp1").awaitTermination() }
      assert(causeChain(ex).exists(c =>
        c.getMessage != null && c.getMessage.contains("order-contiguous")),
        s"expected the order-contiguity guard, got: $ex")
      // state unchanged by the rejected batch: exactly batch 1 committed,
      // and the serve equals the one-shot over batch 1 alone
      assert(spark.table(StoreIngest.ledgerTable(t)).count() == 1L)
      val oneShot1 = Sequences.skipGramPairs(
          u1.take(4).toDF("user", "etype", "ord", "eid"),
          "user", "etype", col("ord"), col("eid"), window = 3)
        .as[(String, String, Long, Long)].collect().toSet
      val got = StoreIngest.skipGramFromStore(spark, t)
        .as[(String, String, Long, Long)].collect().toSet
      graft.Storage.releaseAll(spark)
      assert(got == oneShot1, "the rejected batch must not have changed the store")

      // crash-window state: committed ledger + missing tails table (the
      // drop-to-rename window of a crashed compaction) must fail loudly,
      // not silently rebase ranks at 0
      dropTable(StoreIngest.tailsTable(t))
      val in2 = new java.io.File(root, "in2")
      writeSgSlices(in2, Seq(u1.slice(4, 6)))
      val ex2 = intercept[Exception] { ingest(in2, "cp2").awaitTermination() }
      assert(causeChain(ex2).exists(c =>
        c.getMessage != null && c.getMessage.contains("tails table")),
        s"expected the missing-tails guard, got: $ex2")
    } finally {
      rmTree(root)
      tables.foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }

  // Spark jobs per committed micro-batch of each tailed store, measured
  // on this fixture with two micro-batches per store (local[4]); the
  // count repeats exactly run to run.
  private val SkipGramJobsPerBatch = 18.5
  private val SessionJobsPerBatch = 15.0

  test("tailed stores: Spark jobs per committed micro-batch stay at the measured count") {
    val sg = "graft_stream_jobs_skipgram"
    val ss = "graft_stream_jobs_session"
    val tables = Seq(sg, ss).flatMap(x =>
      Seq(x, StoreIngest.ledgerTable(x), StoreIngest.tailsTable(x)))
    tables.foreach(dropTable)
    val root = java.nio.file.Files.createTempDirectory("graft_tail_jobs").toFile
    // every job of the ingest, stream threads included
    def jobCount(ingest: => Unit): Int = jobsOf(ingest)._2.size
    try {
      // three users, each order-contiguous across the two slices, so the
      // second batch reads committed tails and runs the offender check
      val events = for (u <- 1L to 3L; i <- 0L until 6L)
        yield (u, if (i % 2 == 0) "A" else "B", 10L * i + u, 100L * u + i)
      val (first, second) = events.partition(_._3 < 30L)
      val in = new java.io.File(root, "in")
      writeSgSlices(in, Seq(first, second))
      def stream = spark.readStream
        .schema("user LONG, etype STRING, ord LONG, eid LONG")
        .option("maxFilesPerTrigger", "1").parquet(in.getAbsolutePath)
      val sgJobs = jobCount(StoreIngest.ingestSkipGramStore(stream, "user", "etype",
        col("ord"), col("eid"), window = 2, sg,
        new java.io.File(root, "cp_sg").getAbsolutePath).awaitTermination())
      val ssJobs = jobCount(StoreIngest.ingestSessionStore(stream, "user",
        col("ord"), col("eid"), gapUs = 15L, ss,
        new java.io.File(root, "cp_ss").getAbsolutePath).awaitTermination())
      assert(spark.table(StoreIngest.ledgerTable(sg)).count() == 2L &&
        spark.table(StoreIngest.ledgerTable(ss)).count() == 2L,
        "the fixture must commit exactly two micro-batches per store")
      info(s"jobs per committed batch: skip-gram ${sgJobs / 2.0}, session ${ssJobs / 2.0}")
      assert(sgJobs / 2.0 <= SkipGramJobsPerBatch,
        s"skip-gram ingest: ${sgJobs / 2.0} jobs per batch, measured $SkipGramJobsPerBatch")
      assert(ssJobs / 2.0 <= SessionJobsPerBatch,
        s"session ingest: ${ssJobs / 2.0} jobs per batch, measured $SessionJobsPerBatch")
    } finally {
      rmTree(root)
      tables.foreach(dropTable)
      graft.Storage.releaseAll(spark)
    }
  }
}
