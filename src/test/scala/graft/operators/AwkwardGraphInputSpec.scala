package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every driver-CSR operator run twice over one awkward graph: at the
  * default gate (the driver path) and with `broadcastMaxNodes = 0` (the
  * distributed loop). The graph has string ids, a duplicate edge, a
  * self-loop and an edge into a null node. Label propagation has no gate
  * parameter: its driver path takes long ids only, so it runs on a
  * long-keyed copy (a..e → 1..5, same order) against the string-keyed
  * distributed loop.
  *
  * Both paths agree on every non-null node. They disagree on the null
  * node, and the results below pin that as found: the driver path's
  * adjacency joins drop an edge with a null endpoint, so PageRank leaves
  * the null node at its teleport base and BFS never reaches it, while the
  * distributed loops group edge targets by value, so mass flows into the
  * null node and BFS reaches it. HITS filters null endpoints on both
  * paths.
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

  // (operator, run at a gate, driver-path rows, the distributed loop's
  // null-node rows where they differ from the driver path's)
  private val cases: Seq[(String, Long => DataFrame, Seq[String], Seq[String])] = Seq(
    ("PageRank.ranks",
      m => PageRank.ranks(edges, iterations = 3, broadcastMaxNodes = m),
      Seq("a|65729166666", "b|80869791666", "c|70244791666", "d|123768229165",
        "e|128283854165", "null|25000000000"),
      Seq("null|166666666666")),
    ("PageRank.resumeRanks",
      m => PageRank.resumeRanks(edges, PageRank.ranks(edges, iterations = 2),
        iterations = 2, broadcastMaxNodes = m),
      Seq("a|54854036458", "b|80869791666", "c|59369661458", "d|107455533852",
        "e|111971158852", "null|25000000000"),
      Seq("null|134041276040")),
    ("PageRank.personalizedRanks",
      m => PageRank.personalizedRanks(edges, seeds, iterations = 3, broadcastMaxNodes = m),
      Seq("a|303531250000", "b|127500000000", "c|54187500000", "d|153531250000",
        "e|54187500000", "null|0"),
      Seq("null|307062500000")),
    ("PageRank.weightedRanks",
      m => PageRank.weightedRanks(edges, "src", "dst", "w", iterations = 3,
        broadcastMaxNodes = m),
      Seq("a|58999999999", "b|75149999999", "c|48215624999", "d|117964877913",
        "e|150515117830", "null|25000000000"),
      Seq("null|175943664964")),
    ("PageRank.weightedPersonalizedRanks",
      m => PageRank.weightedPersonalizedRanks(edges, "src", "dst", "w", seeds,
        iterations = 3, broadcastMaxNodes = m),
      Seq("a|242118750000", "b|127500000000", "c|21675000000", "d|30706250000",
        "e|86700000000", "null|0"),
      Seq("null|491300000000")),
    ("Hits.hubsAuthorities",
      m => Hits.hubsAuthorities(edges, "src", "dst", rounds = 3, broadcastMaxNodes = m),
      Seq("a|20833|416666", "b|708333|41666", "c|708333|416666", "d|1000000|1000000",
        "e|0|1000000"),
      Nil),
    ("Hits.resumeHubsAuthorities",
      m => Hits.resumeHubsAuthorities(edges, "src", "dst",
        Hits.hubsAuthorities(edges, "src", "dst", rounds = 1), rounds = 2,
        broadcastMaxNodes = m),
      Seq("a|20833|416666", "b|708333|41666", "c|708333|416666", "d|1000000|1000000",
        "e|0|1000000"),
      Nil),
    ("LabelPropagation.propagate",
      m => lpa(m)(LabelPropagation.propagate(_, "src", "dst", rounds = 1)),
      Seq("a|b", "b|a", "c|a", "d|c", "e|b"),
      Nil),
    ("LabelPropagation.resumePropagate",
      m => lpa(m)(e => LabelPropagation.resumePropagate(e, "src", "dst",
        LabelPropagation.propagate(e, "src", "dst", rounds = 1), rounds = 1)),
      Seq("a|a", "b|b", "c|a", "d|a", "e|a"),
      Nil),
    ("Bfs.hopDistances",
      m => Bfs.hopDistances(edges, "src", "dst", seeds, rounds = 4, broadcastMaxNodes = m),
      Seq("a|0", "b|1", "c|2", "d|3", "e|2"),
      Seq("null|3")),
    ("Bfs.resumeDistances",
      m => Bfs.resumeDistances(edges, "src", "dst",
        Bfs.hopDistances(edges, "src", "dst", seeds, rounds = 1), rounds = 3,
        broadcastMaxNodes = m),
      Seq("a|0", "b|1", "c|2", "d|3", "e|2"),
      Seq("null|3")),
    ("Bfs.weightedDistances",
      m => Bfs.weightedDistances(edges, "src", "dst", "w", seeds, rounds = 4,
        broadcastMaxNodes = m),
      Seq("a|0", "b|2", "c|3", "d|4", "e|6"),
      Seq("null|7")),
    ("Bfs.resumeWeightedDistances",
      m => Bfs.resumeWeightedDistances(edges, "src", "dst", "w",
        Bfs.weightedDistances(edges, "src", "dst", "w", seeds, rounds = 1), rounds = 3,
        broadcastMaxNodes = m),
      Seq("a|0", "b|2", "c|3", "d|4", "e|6"),
      Seq("null|7")),
    ("Bfs.landmarkDistances",
      m => Bfs.landmarkDistances(edges, "src", "dst", Seq("a", "d").toDF("node"),
        rounds = 4, broadcastMaxNodes = m),
      Seq("a|a|0", "b|a|1", "c|a|2", "d|a|3", "d|d|0", "e|a|2", "e|d|1"),
      Seq("null|a|3", "null|d|2")))

  cases.foreach { case (name, run, driverRows, distNullRows) =>
    test(s"$name: driver path and distributed loop on string ids, duplicates, a self-loop, a null") {
      try {
        assert(rows(run(2000000L)) == driverRows, s"$name driver path")
        val distRows = (driverRows.filterNot(_.startsWith("null|")) ++
          (if (distNullRows.isEmpty) driverRows.filter(_.startsWith("null|"))
           else distNullRows)).sorted
        assert(rows(run(0L)) == distRows, s"$name distributed loop")
      } finally graft.Storage.releaseAll(spark)
    }
  }
}
