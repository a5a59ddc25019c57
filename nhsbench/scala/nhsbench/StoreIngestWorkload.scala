package nhsbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.util.Random
import graft.ops.{Sequences, TimeSeries}
import graft.operators.Bfs
import graft.sources.Sinks
import graft.streaming.StoreIngest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** `store_ingest`: three incremental store families — skip-gram pairs,
  * sessions and hop distances — fed the same seeded event log one
  * micro-batch file per trigger, with a serve read of every store between
  * batches. The log is sliced by global (ts, event_id) rank at seeded
  * boundaries, so every slice is per-user order-contiguous as the stores
  * require. Each iteration starts from empty stores, ledgers and tails in
  * fresh checkpoint directories; the queries run on a processing-time
  * trigger and each batch is awaited before the serve reads (one client,
  * closed loop).
  *
  * After the last batch the iteration reconciles: it runs the one-shot
  * operators over the whole log (skip-gram pairs and the session table
  * from `ops`, fixpoint hop distances from `operators`), and each store's
  * served answer must equal its one-shot counterpart. The reconciliation
  * is timed, so the batch paths the stores replace are measured too.
  */
final class StoreIngestWorkload extends Workload {
  val name = "store_ingest"

  private val nUsers = 300
  private val nBatches = 2
  private val window = 3
  private val gapUs = 1800000000L
  private val stores = Seq("skipgram", "session", "distance")
  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("ts", TimestampType), StructField("event_id", LongType),
    StructField("item_id", LongType)))

  private var slices: Seq[Path] = Nil
  private var nEvents = 0L
  private var all: DataFrame = _
  private var lastOneShot: Map[String, Set[Row]] = Map.empty
  private var lastServed: Map[String, Set[Row]] = Map.empty
  private var storeBytes = 0L

  private def table(store: String) = s"bench_${store}_store"
  private def tables(store: String): Seq[String] = {
    val t = table(store)
    Seq(t, StoreIngest.ledgerTable(t), StoreIngest.tailsTable(t), StoreIngest.distanceEdgeTable(t))
  }

  def generate(ctx: Ctx): Unit = {
    val rnd = new Random(ctx.seed)
    val types = (0 until 12).map(i => s"e$i")
    var id = 0L
    val events = (0 until nUsers).flatMap { u =>
      var t = 1700000000000L + rnd.nextInt(3600000)
      (0 until 60).map { _ =>
        // mostly minutes apart, sometimes hours: several sessions per user
        t += (if (rnd.nextInt(10) == 0) 3600000L * (1 + rnd.nextInt(5)) else 1000L * rnd.nextInt(900))
        id += 1
        Row(u.toLong, types(rnd.nextInt(types.size)), new java.sql.Timestamp(t), id,
          rnd.nextInt(2000).toLong)
      }
    }
    nEvents = events.size
    val spark = ctx.spark
    val ordered = events.sortBy(r => (r.getTimestamp(2).getTime, r.getLong(3)))
    // seeded slice boundaries over the global arrival order, each within
    // 5% of the even split so every run does comparable work
    val even = nEvents.toInt / nBatches
    val cuts = (0 +: (1 until nBatches).map(k => k * even - even / 20 + rnd.nextInt(even / 10)) :+
      nEvents.toInt).sliding(2).toSeq
    val dir = ctx.freshDir("events")
    slices = cuts.zipWithIndex.map { case (Seq(a, b), i) =>
      val out = dir.resolve(f"slice-$i%03d")
      spark.createDataFrame(java.util.Arrays.asList(ordered.slice(a, b): _*), schema)
        .coalesce(1).write.parquet(out.toString)
      Files.list(out).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
    all = spark.read.schema(schema).parquet(slices.map(_.toString): _*)
  }

  private def edges(ev: DataFrame): DataFrame = {
    val e = ev.select(concat(lit("u"), col("user_id").cast("string")).as("src"),
      concat(lit("i"), col("item_id").cast("string")).as("dst"))
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  private def seeds(ctx: Ctx): DataFrame = {
    import ctx.spark.implicits._
    Seq("u0", "u1", "u2").toDF("node")
  }

  private def serve(ctx: Ctx, store: String): DataFrame = store match {
    case "skipgram" => StoreIngest.skipGramFromStore(ctx.spark, table(store))
    case "session" => StoreIngest.sessionsFromStore(ctx.spark, table(store))
    case "distance" => Bfs.distancesFromStore(ctx.spark, table(store))
  }

  def iterate(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    stores.flatMap(tables).foreach(Sinks.dropTableAndStaleLocation(spark, _))
    val inputs = stores.map(s => s -> ctx.freshDir(s"in-$s")).toMap
    val trigger = Trigger.ProcessingTime("25 milliseconds")
    val queries: Map[String, StreamingQuery] = ctx.call("streaming.start") {
      stores.map { s =>
        val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(inputs(s).toString)
        val ckpt = ctx.freshDir(s"ckpt-$s").toString
        val q = s match {
          case "skipgram" => StoreIngest.ingestSkipGramStore(stream, "user_id", "event_type",
            col("ts"), col("event_id"), window, table(s), ckpt, trigger)
          case "session" => StoreIngest.ingestSessionStore(stream, "user_id",
            unix_micros(col("ts")), col("event_id"), gapUs, table(s), ckpt, trigger)
          case "distance" => StoreIngest.ingestDistanceStore(edges(stream), "src", "dst",
            seeds(ctx), table(s), ckpt, trigger = trigger)
        }
        s -> q
      }.toMap
    }
    val serveMs = Seq.newBuilder[Double]
    var served: Map[String, Set[Row]] = Map.empty
    val failures = Seq.newBuilder[String]
    try {
      slices.zipWithIndex.foreach { case (slice, b) =>
        stores.foreach { s =>
          ctx.call("streaming.ingest") {
            ctx.tracer.bindRun(queries(s).runId)
            // a new file arrives; the query picks it up on its next trigger.
            // It is copied under a name the file index skips, then renamed,
            // so no trigger lists a partly written file
            val staged = inputs(s).resolve(f"_part-$b%03d.parquet.tmp")
            Files.copy(slice, staged, StandardCopyOption.COPY_ATTRIBUTES)
            Files.move(staged, inputs(s).resolve(f"part-$b%03d.parquet"),
              StandardCopyOption.ATOMIC_MOVE)
            queries(s).processAllAvailable()
          }
        }
        stores.foreach { s =>
          val t = System.nanoTime()
          // the distance store is served by the operators module
          val span = if (s == "distance") "operators.bfs" else "streaming.serve"
          val rows = ctx.call(span)(serve(ctx, s).collect())
          serveMs += (System.nanoTime() - t) / 1e6
          served += s -> rows.toSet
        }
      }
    } finally queries.values.foreach(_.stop())
    // reconciliation: the one-shot operators over the whole log, which each
    // store's served answer must equal
    val oneShot = Map(
      "skipgram" -> ctx.call("ops.skipgram")(Sequences.skipGramPairs(all, "user_id",
        "event_type", col("ts"), col("event_id"), window).collect().toSet),
      "session" -> ctx.call("ops.sessions")(TimeSeries.sessionTable(all, "user_id",
        unix_micros(col("ts")), col("event_id"), gapUs).collect().toSet),
      "distance" -> ctx.call("operators.bfs")(Bfs.hopDistancesToFixpoint(edges(all), "src",
        "dst", seeds(ctx)).collect().toSet))
    ctx.untimed {
      lastServed = served
      lastOneShot = oneShot
      failures ++= check(served, oneShot)
      storeBytes = stores.flatMap(tables).map { t =>
        val p = ctx.workDir.resolve("warehouse").resolve(t)
        if (Files.exists(p)) Files.walk(p).filter(Files.isRegularFile(_)).mapToLong(Files.size).sum
        else 0L
      }.sum
    }
    val sm = serveMs.result()
    Outcome(served.values.map(_.size.toLong).sum, slices.size * stores.size + sm.size + 3,
      failures.result(), sm)
  }

  private def check(served: Map[String, Set[Row]],
                    expected: Map[String, Set[Row]]): Seq[String] =
    stores.flatMap { s =>
      val got = served.getOrElse(s, Set.empty)
      if (got == expected(s)) None
      else Some(s"$s store: ${got.size} served rows, one-shot recompute has " +
        s"${expected(s).size}; ${got.diff(expected(s)).size} unexpected")
    }

  def checkerCatchesAlteredOutput(ctx: Ctx): Boolean = {
    val s = lastServed("session")
    check(lastServed.updated("session", s - s.head), lastOneShot).nonEmpty
  }

  def inputSizes: Seq[(String, Double)] = Seq(
    "rows" -> nEvents.toDouble, "batches" -> nBatches.toDouble, "workbooks" -> 0.0,
    "mb" -> slices.map(Files.size).sum / 1048576.0)

  // rows per batch come from the slices: a query's reported input rows
  // count every scan of the batch its body makes
  override def layerMetrics(ctx: Ctx): Seq[(String, Double)] = Seq(
    "streaming.store_mb" -> storeBytes / 1048576.0,
    "streaming.rows_per_batch" -> nEvents.toDouble / nBatches)
}
