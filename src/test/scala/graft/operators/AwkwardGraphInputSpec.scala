package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, DoubleType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every gated graph entry run on both sides of its driver gate over one
  * awkward graph, each pinned to ONE answer. The graph has a duplicate
  * edge, a self-loop and an edge into a null node; an edge with a null
  * endpoint is dropped on both sides (ConnectedComponents, which rejects
  * it, runs on the graph without that edge and is checked to reject it on
  * both sides).
  *
  * Node-gated operators run on string ids at the default gate and with
  * `broadcastMaxNodes = 0`. Label propagation has no gate parameter: its
  * driver path takes long ids only, so it runs on a long-keyed copy
  * (a..e → 1..5, same order) against the string-keyed distributed loop.
  *
  * Edge-gated entries run at `DriverCsr.MaxEdges` and with `maxEdges = 0`,
  * over string ids and over copies keyed by Double, Date and strings whose
  * UTF-8 order differs from their UTF-16 order. Each copy maps a..e to
  * keys in the same Spark order, so its answer is the string answer with
  * the ids mapped.
  */
class AwkwardGraphInputSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val edgeRows = Seq(
    ("a", "b", 2L), ("b", "c", 1L), ("c", "a", 3L), ("a", "b", 2L), ("c", "d", 1L),
    ("d", "d", 5L), ("d", "e", 2L), ("e", null, 1L), ("b", "e", 4L))
  private lazy val edges = edgeRows.toDF("src", "dst", "w")
  private lazy val seeds = Seq("a").toDF("node")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.mkString("|")).sorted

  /** Label propagation: long-keyed copy when `m` > 0, else string keys. */
  private def lpa(m: Long)(run: DataFrame => DataFrame): DataFrame = {
    val toLong = udf((s: String) => Option(s).map(_.head - 'a' + 1L))
    val toStr = udf((l: Long) => ('a' + l - 1).toChar.toString)
    if (m == 0) run(edges)
    else run(edges.select(toLong(col("src")).as("src"), toLong(col("dst")).as("dst")))
      .select(toStr(col("node")).as("node"), toStr(col("label")).as("label"))
  }

  // (operator, run at a node gate, rows on both sides)
  private val nodeGated: Seq[(String, Long => DataFrame, Seq[String])] = Seq(
    ("PageRank.ranks",
      m => PageRank.ranks(edges, iterations = 3, broadcastMaxNodes = m),
      Seq("a|78875000000", "b|97043750000", "c|84293750000", "d|148521875000",
        "e|153940625000")),
    ("PageRank.resumeRanks",
      m => PageRank.resumeRanks(edges, PageRank.ranks(edges, iterations = 2),
        iterations = 2, broadcastMaxNodes = m),
      Seq("a|65824843750", "b|97043750000", "c|71243593750", "d|128946640625",
        "e|134365390625")),
    ("PageRank.personalizedRanks",
      m => PageRank.personalizedRanks(edges, seeds, iterations = 3, broadcastMaxNodes = m),
      Seq("a|303531250000", "b|127500000000", "c|54187500000", "d|153531250000",
        "e|54187500000")),
    ("PageRank.weightedRanks",
      m => PageRank.weightedRanks(edges, "src", "dst", "w", iterations = 3,
        broadcastMaxNodes = m),
      Seq("a|70800000000", "b|90180000000", "c|57858750000", "d|141557853497",
        "e|180618141398")),
    ("PageRank.weightedPersonalizedRanks",
      m => PageRank.weightedPersonalizedRanks(edges, "src", "dst", "w", seeds,
        iterations = 3, broadcastMaxNodes = m),
      Seq("a|242118750000", "b|127500000000", "c|21675000000", "d|30706250000",
        "e|86700000000")),
    ("Hits.hubsAuthorities",
      m => Hits.hubsAuthorities(edges, "src", "dst", rounds = 3, broadcastMaxNodes = m),
      Seq("a|20833|416666", "b|708333|41666", "c|708333|416666", "d|1000000|1000000",
        "e|0|1000000")),
    ("Hits.resumeHubsAuthorities",
      m => Hits.resumeHubsAuthorities(edges, "src", "dst",
        Hits.hubsAuthorities(edges, "src", "dst", rounds = 1), rounds = 2,
        broadcastMaxNodes = m),
      Seq("a|20833|416666", "b|708333|41666", "c|708333|416666", "d|1000000|1000000",
        "e|0|1000000")),
    ("LabelPropagation.propagate",
      m => lpa(m)(LabelPropagation.propagate(_, "src", "dst", rounds = 1)),
      Seq("a|b", "b|a", "c|a", "d|c", "e|b")),
    ("LabelPropagation.resumePropagate",
      m => lpa(m)(e => LabelPropagation.resumePropagate(e, "src", "dst",
        LabelPropagation.propagate(e, "src", "dst", rounds = 1), rounds = 1)),
      Seq("a|a", "b|b", "c|a", "d|a", "e|a")),
    ("Bfs.hopDistances",
      m => Bfs.hopDistances(edges, "src", "dst", seeds, rounds = 4, broadcastMaxNodes = m),
      Seq("a|0", "b|1", "c|2", "d|3", "e|2")),
    ("Bfs.resumeDistances",
      m => Bfs.resumeDistances(edges, "src", "dst",
        Bfs.hopDistances(edges, "src", "dst", seeds, rounds = 1), rounds = 3,
        broadcastMaxNodes = m),
      Seq("a|0", "b|1", "c|2", "d|3", "e|2")),
    ("Bfs.weightedDistances",
      m => Bfs.weightedDistances(edges, "src", "dst", "w", seeds, rounds = 4,
        broadcastMaxNodes = m),
      Seq("a|0", "b|2", "c|3", "d|4", "e|6")),
    ("Bfs.resumeWeightedDistances",
      m => Bfs.resumeWeightedDistances(edges, "src", "dst", "w",
        Bfs.weightedDistances(edges, "src", "dst", "w", seeds, rounds = 1), rounds = 3,
        broadcastMaxNodes = m),
      Seq("a|0", "b|2", "c|3", "d|4", "e|6")),
    ("Bfs.landmarkDistances",
      m => Bfs.landmarkDistances(edges, "src", "dst", Seq("a", "d").toDF("node"),
        rounds = 4, broadcastMaxNodes = m),
      Seq("a|a|0", "b|a|1", "c|a|2", "d|a|3", "d|d|0", "e|a|2", "e|d|1")))

  nodeGated.foreach { case (name, run, want) =>
    test(s"$name: driver path and distributed loop on string ids, duplicates, a self-loop, a null") {
      try {
        assert(rows(run(DriverCsr.MaxNodes)) == want, s"$name driver path")
        assert(rows(run(0L)) == want, s"$name distributed loop")
      } finally graft.Storage.releaseAll(spark)
    }
  }

  // (entry, run over an edge frame at an edge gate, rows on both sides)
  private val edgeGated: Seq[(String, (DataFrame, Long) => DataFrame, Seq[String])] = Seq(
    ("KCore.peel",
      (e, m) => KCore.peel(e, "src", "dst", k = 2, rounds = 2, maxEdges = m),
      Seq("a|2", "b|3", "c|3", "d|2", "e|2")),
    ("KCore.core",
      (e, m) => KCore.core(e, "src", "dst", k = 2, maxEdges = m),
      Seq("a|2", "b|3", "c|3", "d|2", "e|2")),
    ("KCore.corenessCapped",
      (e, m) => KCore.corenessCapped(e, "src", "dst", kMax = 3, roundsPerK = 3, maxEdges = m),
      Seq("a|2", "b|2", "c|2", "d|2", "e|2")),
    ("KTruss.peel",
      (e, m) => KTruss.peel(e, "src", "dst", k = 3, rounds = 2, maxEdges = m),
      Seq("a|b|1", "a|c|1", "b|c|1")),
    ("KTruss.truss",
      (e, m) => KTruss.truss(e, "src", "dst", k = 3, maxEdges = m),
      Seq("a|b|1", "a|c|1", "b|c|1")),
    ("ConnectedComponents.components",
      (e, m) => ConnectedComponents.components(e.filter(col("dst").isNotNull)
        .select(col("src").as("u"), col("dst").as("v")), maxEdges = m),
      Seq("a|a", "b|a", "c|a", "d|a", "e|a")),
    ("Mst.boruvka",
      (e, m) => Mst.boruvka(e, "src", "dst", "w", rounds = 1, maxEdges = m),
      Seq("a|b|2", "b|c|1", "c|d|1", "d|e|2")),
    ("Mst.boruvkaFixpoint",
      (e, m) => Mst.boruvkaFixpoint(e, "src", "dst", "w", maxEdges = m),
      Seq("a|b|2", "b|c|1", "c|d|1", "d|e|2")),
    ("Coverage.greedyMaxCoverage",
      (e, m) => Coverage.greedyMaxCoverage(
        e.groupBy(col("src").as("id")).agg(collect_list(col("dst").cast("string")).as("toks")),
        "id", col("toks"), k = 4, maxEdges = m),
      Seq("1|b|2", "2|c|2", "3|a|1")))

  private val date = java.sql.Date.valueOf(_: String)
  // (keying, key type, a..e in Spark's ascending order)
  private val keyings: Seq[(String, DataType, Seq[Any])] = Seq(
    ("string ids", StringType, Seq("a", "b", "c", "d", "e")),
    ("Double ids", DoubleType, Seq(-1.5, 0.25, 2.0, 10.0, 100.5)),
    ("Date ids", DateType, Seq("2024-03-01", "2024-03-02", "2024-03-09", "2024-04-01",
      "2025-01-01").map(date)),
    // fullwidth "ｚ" U+FF5A (UTF-8 EF BD 9A) sorts below every "𝒜"-block
    // key (F0 9D ...) in Spark's UTF-8 order; UTF-16 order puts it last
    ("UTF-8 vs UTF-16 ids", StringType,
      Seq("\uFF5A", "\uD835\uDC9C", "\uD835\uDC9D", "\uD835\uDC9E", "\uD835\uDC9F")))

  for ((keying, keyType, keys) <- keyings; (name, run, want) <- edgeGated) {
    val key = Seq("a", "b", "c", "d", "e").zip(keys).toMap
    test(s"$name on $keying: one answer on both sides of the edge gate") {
      val e = spark.createDataFrame(edgeRows.map { case (s, d, w) =>
        Row(key(s), Option(d).map(key).orNull, w) }.asJava, StructType(Seq(
        StructField("src", keyType), StructField("dst", keyType), StructField("w", LongType))))
      val mapped = want.map(_.split('|').map(t => key.get(t).fold(t)(String.valueOf))
        .mkString("|")).sorted
      try {
        assert(rows(run(e, DriverCsr.MaxEdges)) == mapped, s"$name driver path")
        assert(rows(run(e, 0L)) == mapped, s"$name distributed loop")
      } finally graft.Storage.releaseAll(spark)
    }
  }

  test("ConnectedComponents.components rejects a null endpoint on both sides of the edge gate") {
    val e = edges.select(col("src").as("u"), col("dst").as("v"))
    try Seq(DriverCsr.MaxEdges, 0L).foreach { m =>
      val err = intercept[IllegalArgumentException](
        ConnectedComponents.components(e, maxEdges = m).collect())
      assert(err.getMessage.contains("null edge endpoints"), s"maxEdges = $m")
    } finally graft.Storage.releaseAll(spark)
  }
}
