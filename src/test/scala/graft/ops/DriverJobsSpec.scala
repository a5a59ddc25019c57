package graft.ops

import graft.SparkSpec
import graft.operators.{Bfs, ConnectedComponents, Coverage, Hits, KCore, KTruss, LabelPropagation, Mst, PageRank}
import graft.pipelines.{OrgChangePaths, OrgChanges}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Steps that build plans or small driver artifacts start no Spark job of
  * their own: the row index numbers rows inside the action that reads
  * them, and the org-change lookup over a local edge frame never leaves the
  * driver. The graph builds plus one walk, and the one-shot graph entries,
  * within the driver gate start no more jobs than pinned below.
  */
class DriverJobsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def indices(df: DataFrame): Seq[(String, Long)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getLong(1)))

  private def assertIncreasing(got: Seq[(String, Long)], want: Seq[String]): Unit = {
    assert(got.map(_._1) == want)
    assert(got.map(_._2).sliding(2).forall { case Seq(a, b) => a < b; case _ => true },
      s"indices must strictly increase in input order: $got")
  }

  test("withRowIndex starts no job; indices increase across partitions, an empty one included") {
    val values = (0 until 20).map(i => f"v$i%02d")
    // five partitions, the third empty
    val rdd = spark.sparkContext.parallelize(values, 4)
      .mapPartitionsWithIndex((p, it) => if (p == 2) Iterator.empty else it)
      .union(spark.sparkContext.parallelize(Seq("w0", "w1"), 1))
      .map(Row(_))
    val df = spark.createDataFrame(rdd, StructType(Seq(StructField("v", StringType))))
    assert(df.rdd.getNumPartitions == 5)
    val (indexed, jobs) = bodyJobsOf(HeaderPromotion.withRowIndex(df))
    assert(jobs.isEmpty, s"withRowIndex started ${jobs.size} job(s)")
    val kept = values.zipWithIndex.filterNot { case (_, i) => i >= 10 && i < 15 }.map(_._1)
    assertIncreasing(indices(indexed.select("v", "_row_idx")), kept ++ Seq("w0", "w1"))
  }

  test("withRowIndex follows a sorted union's order") {
    val a = (0 until 12).map(i => s"a${99 - i}").toDF("v").repartition(3).orderBy(col("v"))
    val b = Seq("b2", "b1", "b0").toDF("v").orderBy(col("v"))
    val got = indices(HeaderPromotion.withRowIndex(a.union(b)).select("v", "_row_idx"))
    assertIncreasing(got, (0 until 12).map(i => s"a${88 + i}") ++ Seq("b0", "b1", "b2"))
  }

  test("derivePaths and trustLookup over a local edge frame start no job") {
    val succ = Seq(("A", "B", "2005-01-01"), ("A", "C", "2005-01-01"), ("M", "B", "2005-01-01"),
      ("P", "Q", "2006-01-01"), ("Q", "R", "2009-01-01"))
      .toDF("old_code", "new_code", "change_date")
    val (lookup, jobs) = bodyJobsOf(
      OrgChanges.trustLookup(OrgChangePaths.derivePaths(succ)).collect())
    assert(jobs.isEmpty, s"the lookup started ${jobs.size} job(s)")
    assert(lookup.length == 5)
  }

  // a 40-node ring in both directions plus chords every fifth node, long ids
  private lazy val graph = {
    val ring = (0L until 40L).flatMap(i => Seq((i, (i + 1) % 40, 1 + i % 3), ((i + 1) % 40, i, 2L)))
    val chords = (0L until 40L by 5).map(i => (i, (i + 17) % 40, 4L))
    (ring ++ chords).toDF("src", "dst", "w")
  }
  private lazy val seeds = Seq(0L).toDF("node")

  // job counts of each graph build plus one walk, and of each one-shot
  // entry, within the gate (4-core local session, AQE on): the gate's count
  // job and its collect; the landmark entry also collects its landmarks.
  // No round starts a job, and neither does reading a local result frame
  // (ConnectedComponents and Mst results are RDD leaves: one job to read)
  Seq[(String, Int, () => Unit)](
    ("PageRank.buildRankGraph", 2, () => {
      val g = PageRank.buildRankGraph(graph)
      try g.ranks(iterations = 3).collect() finally g.close()
    }),
    ("Hits.buildHitsGraph", 2, () => {
      val g = Hits.buildHitsGraph(graph, "src", "dst")
      try g.scores(rounds = 3).collect() finally g.close()
    }),
    ("LabelPropagation.buildLpaGraph", 2, () => {
      val g = LabelPropagation.buildLpaGraph(graph, "src", "dst")
      try g.propagate(rounds = 3).collect() finally g.close()
    }),
    ("Bfs.buildHopGraph", 2, () => {
      val g = Bfs.buildHopGraph(graph, "src", "dst")
      try g.distances(seeds, rounds = 3).collect() finally g.close()
    }),
    ("Bfs.buildWeightedGraph", 2, () => {
      val g = Bfs.buildWeightedGraph(graph, "src", "dst", "w")
      try g.distances(seeds, rounds = 3).collect() finally g.close()
    }),
    ("Bfs.landmarkDistances", 4, () => {
      Bfs.landmarkDistances(graph, "src", "dst", Seq(0L, 20L).toDF("node"), rounds = 3)
        .collect()
    }),
    ("Bfs.hopDistancesToFixpoint", 2, () =>
      Bfs.hopDistancesToFixpoint(graph, "src", "dst", seeds).collect()),
    ("Bfs.refreshDistances", 2, () =>
      Bfs.refreshDistances(graph, "src", "dst", graph, seeds,
        Seq.empty[(Long, Long)].toDF("node", "dist"))(_.collect())),
    ("KCore.core", 3, () => KCore.core(graph, "src", "dst", 3).collect()),
    ("KTruss.truss", 3, () => KTruss.truss(graph, "src", "dst", 3).collect()),
    ("ConnectedComponents.components", 4, () =>
      ConnectedComponents.components(graph.select(col("src").as("u"), col("dst").as("v")))
        .collect()),
    ("Mst.boruvkaFixpoint", 4, () => Mst.boruvkaFixpoint(graph, "src", "dst", "w").collect()),
    ("Coverage.greedyMaxCoverage", 3, () => Coverage.greedyMaxCoverage(
      graph.groupBy(col("src")).agg(collect_list(col("dst").cast("string")).as("toks")),
      "src", col("toks"), k = 5).collect())
  ).foreach { case (name, pinned, run) =>
    test(s"$name: driver-path build + one walk start no more jobs than before") {
      val (_, jobs) = bodyJobsOf(run())
      assert(jobs.size <= pinned, s"$name started ${jobs.size} jobs, $pinned pinned")
    }
  }
}
