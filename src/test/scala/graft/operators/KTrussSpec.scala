package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** k-truss invariants: peel matches an in-memory reference round for
  * round, the fixpoint equals a converged peel, a clique survives its
  * own truss number while a triangle-free structure vanishes at k=3,
  * and the truss is at least as strict as the core. Independent
  * end-to-end check: the q135 oracle (4 rounds unrolled).
  */
class KTrussSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // K5 clique (0-4) + a triangle (10,11,12) bridged to the clique by one
  // edge + a square C4 (20-23, triangle-free) + a pendant
  private lazy val edges: Seq[(Long, Long)] = {
    val clique = for (i <- 0 to 4; j <- (i + 1) to 4) yield (i.toLong, j.toLong)
    val tri = Seq((10L, 11L), (11L, 12L), (10L, 12L), (0L, 10L))
    val c4 = Seq((20L, 21L), (21L, 22L), (22L, 23L), (23L, 20L))
    clique ++ tri ++ c4 ++ Seq((4L, 30L))
  }

  private def refPeel(k: Int, rounds: Int): Map[(Long, Long), Long] = {
    var es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct.toSet
    var sup = Map.empty[(Long, Long), Long]
    for (_ <- 1 to rounds) {
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
        .withDefaultValue(Set.empty)
      es.foreach { case (a, b) => adj(a) += b; adj(b) += a }
      sup = es.map { case (a, b) => (a, b) -> (adj(a) & adj(b)).size.toLong }.toMap
      es = sup.filter(_._2 >= k - 2).keySet
    }
    sup.filter(_._2 >= k - 2)
  }

  private def gotPeel(k: Int, rounds: Int): Map[(Long, Long), Long] =
    KTruss.peel(edges.toDF("src", "dst"), "src", "dst", k, rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("peel matches the reference for several (k, rounds)") {
    for (k <- Seq(3, 4, 5); rounds <- Seq(1, 2, 3))
      assert(gotPeel(k, rounds) == refPeel(k, rounds), s"k=$k rounds=$rounds")
  }

  test("5-truss is exactly the K5 clique (support 3 everywhere)") {
    val got = gotPeel(5, 3)
    val cliqueEdges = (for (i <- 0 to 4; j <- (i + 1) to 4)
      yield (i.toLong, j.toLong)).toSet
    assert(got.keySet == cliqueEdges)
    assert(got.values.forall(_ == 3L))
  }

  test("3-truss keeps clique + triangle, drops the C4, bridge and pendant") {
    val got = gotPeel(3, 3).keySet
    assert(got.contains((10L, 11L)) && got.contains((0L, 1L)))
    assert(!got.contains((20L, 21L)) && !got.contains((0L, 10L)) &&
      !got.contains((4L, 30L)))
  }

  test("truss throws past maxRounds and converges on a first round that removes nothing, both sides") {
    val k4 = (for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)).toDF("src", "dst")
    for (m <- Seq(DriverCsr.MaxEdges, 0L)) {
      // the fixture's first 3-truss round drops the C4, bridge and pendant
      val err = intercept[IllegalStateException](
        KTruss.truss(edges.toDF("src", "dst"), "src", "dst", 3, maxRounds = 1, maxEdges = m))
      assert(err.getMessage.contains("did not converge within 1 rounds"), s"maxEdges = $m")
      // every K4 edge lies in two triangles
      assert(KTruss.truss(k4, "src", "dst", 4, maxRounds = 1, maxEdges = m)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap ==
        (for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j) -> 2L).toMap, s"maxEdges = $m")
      graft.Storage.releaseAll(spark)
    }
  }

  test("fixpoint truss equals a converged peel") {
    for (k <- Seq(3, 5)) {
      val fix = KTruss.truss(edges.toDF("src", "dst"), "src", "dst", k)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(fix == gotPeel(k, 8), s"k=$k")
    }
  }

  test("a k beyond the densest truss yields the empty frame") {
    assert(KTruss.truss(edges.toDF("src", "dst"), "src", "dst", 6).isEmpty)
  }

  test("driver peel ≡ distributed peel on a random graph, both entry points") {
    val rnd = new scala.util.Random(211)
    val df = (0 until 700).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)).toDF("src", "dst")
    def m(d: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      d.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (k <- Seq(3, 5); rounds <- Seq(1, 2, 6)) {
      assert(m(KTruss.peel(df, "src", "dst", k, rounds)) ==
        m(KTruss.peel(df, "src", "dst", k, rounds, maxEdges = 0L)),
        s"peel k=$k rounds=$rounds")
      graft.Storage.releaseAll(spark)
    }
    assert(m(KTruss.truss(df, "src", "dst", 4)) ==
      m(KTruss.truss(df, "src", "dst", 4, maxEdges = 0L)))
    graft.Storage.releaseAll(spark)
  }

  test("every k-truss edge's endpoints lie in the (k-1)-core") {
    val trussNodes = KTruss.truss(edges.toDF("src", "dst"), "src", "dst", 4)
      .select(explode(array(col("a"), col("b"))).as("node"))
      .distinct().collect().map(_.getLong(0)).toSet
    val coreNodes = KCore.core(edges.toDF("src", "dst"), "src", "dst", 3)
      .collect().map(_.getLong(0)).toSet
    assert(trussNodes.subsetOf(coreNodes))
  }
}
