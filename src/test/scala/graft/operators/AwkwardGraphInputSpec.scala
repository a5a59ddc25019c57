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
  * Every entry runs at `DriverCsr.MaxEdges` and with `maxEdges = 0`,
  * which forces the distributed loop. The PageRank, HITS, label
  * propagation and BFS entries run on string ids, and again over an edge
  * frame whose every edge has a null endpoint; the PageRank and BFS
  * entries also run over seeded random multigraphs (long and string ids,
  * duplicate edges with differing weights, self-loops), where both sides
  * must agree. The other entries run over
  * string ids and over copies keyed by Double, Date and strings whose
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

  /** The seed node a in the key type of `e`: long-keyed inputs name it 1. */
  private def seeds(e: DataFrame): DataFrame =
    if (e.schema("src").dataType == LongType) Seq(1L).toDF("node") else Seq("a").toDF("node")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.mkString("|")).sorted

  /** Nodes a and d in the key type of `e` (1 and 4 when long-keyed). */
  private def landmarks(e: DataFrame): DataFrame =
    if (e.schema("src").dataType == LongType) Seq(1L, 4L).toDF("node")
    else Seq("a", "d").toDF("node")

  /** The (node, dist) rows `Bfs.refreshDistances` hands its consumer. */
  private def refreshed(e: DataFrame, prior: DataFrame, m: Long): DataFrame = {
    var out: Seq[Row] = Nil
    var schema: StructType = null
    Bfs.refreshDistances(e, "src", "dst", e, seeds(e), prior, maxEdges = m) { df =>
      out = df.collect().toSeq; schema = df.schema
    }
    spark.createDataFrame(out.asJava, schema)
  }

  // (operator, run over an edge frame at a gate, rows on both sides)
  private val nodeGated: Seq[(String, (DataFrame, Long) => DataFrame, Seq[String])] = Seq(
    ("PageRank.ranks",
      (e, m) => PageRank.ranks(e, iterations = 3, maxEdges = m),
      Seq("a|78875000000", "b|97043750000", "c|84293750000", "d|148521875000",
        "e|153940625000")),
    ("PageRank.resumeRanks",
      (e, m) => PageRank.resumeRanks(e, PageRank.ranks(e, iterations = 2),
        iterations = 2, maxEdges = m),
      Seq("a|65824843750", "b|97043750000", "c|71243593750", "d|128946640625",
        "e|134365390625")),
    ("PageRank.personalizedRanks",
      (e, m) => PageRank.personalizedRanks(e, seeds(e), iterations = 3, maxEdges = m),
      Seq("a|303531250000", "b|127500000000", "c|54187500000", "d|153531250000",
        "e|54187500000")),
    ("PageRank.weightedRanks",
      (e, m) => PageRank.weightedRanks(e, "src", "dst", "w", iterations = 3,
        maxEdges = m),
      Seq("a|70800000000", "b|90180000000", "c|57858750000", "d|141557853497",
        "e|180618141398")),
    ("PageRank.weightedPersonalizedRanks",
      (e, m) => PageRank.weightedPersonalizedRanks(e, "src", "dst", "w", seeds(e),
        iterations = 3, maxEdges = m),
      Seq("a|242118750000", "b|127500000000", "c|21675000000", "d|30706250000",
        "e|86700000000")),
    ("Hits.hubsAuthorities",
      (e, m) => Hits.hubsAuthorities(e, "src", "dst", rounds = 3, maxEdges = m),
      Seq("a|20833|416666", "b|708333|41666", "c|708333|416666", "d|1000000|1000000",
        "e|0|1000000")),
    ("Hits.resumeHubsAuthorities",
      (e, m) => Hits.resumeHubsAuthorities(e, "src", "dst",
        Hits.hubsAuthorities(e, "src", "dst", rounds = 1), rounds = 2,
        maxEdges = m),
      Seq("a|20833|416666", "b|708333|41666", "c|708333|416666", "d|1000000|1000000",
        "e|0|1000000")),
    ("LabelPropagation.propagate",
      (e, m) => LabelPropagation.propagate(e, "src", "dst", rounds = 1, maxEdges = m),
      Seq("a|b", "b|a", "c|a", "d|c", "e|b")),
    ("LabelPropagation.resumePropagate",
      (e, m) => LabelPropagation.resumePropagate(e, "src", "dst",
        LabelPropagation.propagate(e, "src", "dst", rounds = 1), rounds = 1, maxEdges = m),
      Seq("a|a", "b|b", "c|a", "d|a", "e|a")),
    ("Bfs.hopDistances",
      (e, m) => Bfs.hopDistances(e, "src", "dst", seeds(e), rounds = 4, maxEdges = m),
      Seq("a|0", "b|1", "c|2", "d|3", "e|2")),
    ("Bfs.resumeDistances",
      (e, m) => Bfs.resumeDistances(e, "src", "dst",
        Bfs.hopDistances(e, "src", "dst", seeds(e), rounds = 1), rounds = 3,
        maxEdges = m),
      Seq("a|0", "b|1", "c|2", "d|3", "e|2")),
    ("Bfs.weightedDistances",
      (e, m) => Bfs.weightedDistances(e, "src", "dst", "w", seeds(e), rounds = 4,
        maxEdges = m),
      Seq("a|0", "b|2", "c|3", "d|4", "e|6")),
    ("Bfs.resumeWeightedDistances",
      (e, m) => Bfs.resumeWeightedDistances(e, "src", "dst", "w",
        Bfs.weightedDistances(e, "src", "dst", "w", seeds(e), rounds = 1), rounds = 3,
        maxEdges = m),
      Seq("a|0", "b|2", "c|3", "d|4", "e|6")),
    ("Bfs.landmarkDistances",
      (e, m) => Bfs.landmarkDistances(e, "src", "dst", landmarks(e),
        rounds = 4, maxEdges = m),
      Seq("a|a|0", "b|a|1", "c|a|2", "d|a|3", "d|d|0", "e|a|2", "e|d|1")),
    ("Bfs.hopDistancesToFixpoint",
      (e, m) => Bfs.hopDistancesToFixpoint(e, "src", "dst", seeds(e), maxEdges = m),
      Seq("a|0", "b|1", "c|2", "d|3", "e|2")),
    ("Bfs.refreshDistances from an empty prior",
      (e, m) => refreshed(e, Bfs.hopDistances(e, "src", "dst", seeds(e), rounds = 1).limit(0), m),
      Seq("a|0", "b|1", "c|2", "d|3", "e|2")),
    ("Bfs.refreshDistances from a one-round prior",
      (e, m) => refreshed(e, Bfs.hopDistances(e, "src", "dst", seeds(e), rounds = 1), m),
      Seq("c|2", "d|3", "e|2")))

  nodeGated.foreach { case (name, run, want) =>
    test(s"$name: driver path and distributed loop on string ids, duplicates, a self-loop, a null") {
      try {
        assert(rows(run(edges, DriverCsr.MaxEdges)) == want, s"$name driver path")
        assert(rows(run(edges, 0L)) == want, s"$name distributed loop")
      } finally graft.Storage.releaseAll(spark)
    }
  }

  /** A seeded random multigraph over nodes a..l (1..12 when long-keyed):
    * 30 random edges plus duplicates of a third of them with other
    * weights, three self-loops, and edges out of a and d so the seeds and
    * landmarks are on the graph.
    */
  private def multigraph(seed: Long, longIds: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def w() = 1L + rnd.nextInt(9)
    val base = Seq((0, rnd.nextInt(12)), (3, rnd.nextInt(12))) ++
      Seq.fill(30)((rnd.nextInt(12), rnd.nextInt(12))) ++
      Seq.fill(3) { val v = rnd.nextInt(12); (v, v) }
    val rows = base.map { case (s, d) => (s, d, w()) } ++
      base.filter(_ => rnd.nextInt(3) == 0).map { case (s, d) => (s, d, w()) }
    val key: Int => Any = if (longIds) i => i + 1L else i => ('a' + i).toChar.toString
    val keyType = if (longIds) LongType else StringType
    spark.createDataFrame(rnd.shuffle(rows).map { case (s, d, wt) =>
      Row(key(s), key(d), wt) }.asJava, StructType(Seq(StructField("src", keyType),
      StructField("dst", keyType), StructField("w", LongType))))
  }

  for ((name, run, _) <- nodeGated if name.startsWith("PageRank.") || name.startsWith("Bfs.");
       (seed, longIds) <- Seq((11L, true), (12L, false), (13L, true))) {
    val ids = if (longIds) "long" else "string"
    test(s"$name on random multigraph $seed ($ids ids): driver path and distributed loop agree") {
      val e = multigraph(seed, longIds)
      try {
        val driver = rows(run(e, DriverCsr.MaxEdges))
        assert(driver.nonEmpty, s"$name driver path")
        assert(rows(run(e, 0L)) == driver, s"$name distributed loop")
      } finally graft.Storage.releaseAll(spark)
    }
  }

  test("personalized PageRank casts the seeds to the node type on both sides of the gate") {
    // long-keyed graph, String seed: the driver path used to compare "1"
    // with 1L and find no seed, while the distributed join cast implicitly
    val e = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (3L, 4L, 1L)).toDF("src", "dst", "w")
    val s = Seq("1").toDF("node")
    val want = Seq("1|150000000000", "2|127500000000", "3|722500000000", "4|0")
    try Seq(DriverCsr.MaxEdges, 0L).foreach { m =>
      assert(rows(PageRank.personalizedRanks(e, s, iterations = 2, maxEdges = m)) == want,
        s"personalizedRanks maxEdges = $m")
      assert(rows(PageRank.weightedPersonalizedRanks(e, "src", "dst", "w", s, iterations = 2,
        maxEdges = m)) == want, s"weightedPersonalizedRanks maxEdges = $m")
    } finally graft.Storage.releaseAll(spark)
  }

  test("weighted BFS: an edge with a null weight relaxes nothing on both sides of the gate") {
    // b is reached only over a null-weight edge, c over a null-weight
    // edge (from b) and a weighted one
    val e = Seq[(String, String, java.lang.Long)](("a", "b", null), ("b", "c", null),
      ("b", "c", 1L), ("a", "c", 5L), ("c", "d", null)).toDF("src", "dst", "w")
    try Seq(DriverCsr.MaxEdges, 0L).foreach { m =>
      assert(rows(Bfs.weightedDistances(e, "src", "dst", "w", seeds(e), rounds = 3,
        maxEdges = m)) == Seq("a|0", "c|5"), s"maxEdges = $m")
      assert(rows(Bfs.resumeWeightedDistances(e, "src", "dst", "w",
        Seq(("a", 0L)).toDF("node", "dist"), rounds = 3, maxEdges = m)) == Seq("a|0", "c|5"),
        s"resume maxEdges = $m")
    } finally graft.Storage.releaseAll(spark)
  }

  test("an edge frame whose every edge has a null endpoint gives one empty typed result") {
    val nulls = Seq[(String, String, java.lang.Long)](("a", null, 1L), (null, "b", 2L),
      (null, null, 3L)).toDF("src", "dst", "w")
    for ((name, run, _) <- nodeGated) {
      try {
        val types = run(edges, DriverCsr.MaxEdges).schema.map(_.dataType)
        Seq(DriverCsr.MaxEdges, 0L).foreach { m =>
          val got = run(nulls, m)
          assert(got.collect().isEmpty, s"$name maxEdges = $m")
          assert(got.schema.map(_.dataType) == types, s"$name maxEdges = $m")
        }
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
