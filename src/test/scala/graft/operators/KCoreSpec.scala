package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** k-core invariants: peel matches an in-memory reference round for
  * round, the fixpoint `core` equals a converged `peel`, a clique
  * survives its own k while trees vanish, and the plan is equi-joins
  * only. The independent end-to-end check is the q133 oracle (6 rounds
  * unrolled in SQL over the derived ring+hub graph).
  */
class KCoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // clique K6 (nodes 0-5) + a path 6-7-8-9 + pendant 10 off the clique +
  // a C4 (20-23) that survives k=2 but not k=3
  private lazy val edges: Seq[(Long, Long)] = {
    val clique = for (i <- 0 to 5; j <- (i + 1) to 5) yield (i.toLong, j.toLong)
    val path = Seq((6L, 7L), (7L, 8L), (8L, 9L))
    val pendant = Seq((0L, 10L))
    val c4 = Seq((20L, 21L), (21L, 22L), (22L, 23L), (23L, 20L))
    clique ++ path ++ pendant ++ c4
  }

  private def refPeel(k: Int, rounds: Int): Map[Long, Long] = {
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    var alive = canon.flatMap { case (a, b) => Seq(a, b) }.toSet
    var deg = Map.empty[Long, Long]
    for (_ <- 1 to rounds) {
      deg = canon.filter { case (a, b) => alive(a) && alive(b) }
        .flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
      alive = deg.filter(_._2 >= k).keySet
    }
    deg.filter(_._2 >= k)
  }

  private def gotPeel(k: Int, rounds: Int): Map[Long, Long] =
    KCore.peel(edges.toDF("src", "dst"), "src", "dst", k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("peel matches the reference for several (k, rounds)") {
    for (k <- Seq(2, 3, 5); rounds <- Seq(1, 2, 4))
      assert(gotPeel(k, rounds) == refPeel(k, rounds), s"k=$k rounds=$rounds")
  }

  test("5-core is exactly the K6 clique; path, pendant and C4 peel away") {
    val got = gotPeel(5, 4)
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(got.values.forall(_ == 5L))
  }

  test("2-core keeps the C4 ring, drops the path and pendant") {
    val got = gotPeel(2, 4).keySet
    assert(Set(20L, 21L, 22L, 23L).subsetOf(got))
    assert(!got.exists(Seq(7L, 8L, 9L, 10L).contains(_)))
  }

  test("fixpoint core equals a converged peel") {
    for (k <- Seq(2, 3, 5)) {
      val fix = KCore.core(edges.toDF("src", "dst"), "src", "dst", k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fix == gotPeel(k, 10), s"k=$k") // 10 rounds covers convergence
    }
  }

  test("core throws past maxRounds and converges on a first round that removes nothing, both sides") {
    // a 40-edge path peels two endpoints per round at k = 2; K4 keeps all
    for (m <- Seq(DriverCsr.MaxEdges, 0L)) {
      val path = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
      val err = intercept[IllegalStateException](
        KCore.core(path, "src", "dst", 2, maxRounds = 3, maxEdges = m))
      assert(err.getMessage.contains("did not converge within 3 rounds"), s"maxEdges = $m")
      val k4 = (for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)).toDF("src", "dst")
      assert(KCore.core(k4, "src", "dst", 2, maxRounds = 1, maxEdges = m)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        (0L to 3L).map(_ -> 3L).toMap, s"maxEdges = $m")
      graft.Storage.releaseAll(spark)
    }
  }

  test("corenessCapped: clique 5, C4 ring 2, path/pendant 1, cap respected") {
    val got = KCore.corenessCapped(edges.toDF("src", "dst"), "src", "dst",
        kMax = 6, roundsPerK = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 5L).forall(got(_) == 5L)) // K6 clique: coreness 5
    assert(Seq(20L, 21L, 22L, 23L).forall(got(_) == 2L))
    assert(Seq(6L, 7L, 8L, 9L, 10L).forall(got(_) == 1L))
    // cap kicks in below the true coreness
    val capped = KCore.corenessCapped(edges.toDF("src", "dst"), "src", "dst",
        kMax = 3, roundsPerK = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 5L).forall(capped(_) == 3L))
    assert(capped.keySet == got.keySet) // every node classified exactly once
  }

  test("corenessCapped is consistent with the fixpoint cores at every k") {
    val df = edges.toDF("src", "dst")
    val cn = KCore.corenessCapped(df, "src", "dst", kMax = 6, roundsPerK = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (k <- 1 to 5) {
      val core = KCore.core(df, "src", "dst", k)
        .collect().map(_.getLong(0)).toSet
      assert(cn.filter(_._2 >= k).keySet == core, s"k=$k")
    }
  }

  test("driver peel ≡ distributed peel on a random graph, all entry points") {
    val rnd = new scala.util.Random(173)
    val df = (0 until 600).map(_ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)).toDF("src", "dst")
    def m(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      d.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (k <- Seq(2, 4); rounds <- Seq(1, 3, 8)) {
      assert(m(KCore.peel(df, "src", "dst", k, rounds)) ==
        m(KCore.peel(df, "src", "dst", k, rounds, maxEdges = 0L)),
        s"peel k=$k rounds=$rounds")
      graft.Storage.releaseAll(spark)
    }
    assert(m(KCore.corenessCapped(df, "src", "dst", kMax = 5, roundsPerK = 4)) ==
      m(KCore.corenessCapped(df, "src", "dst", kMax = 5, roundsPerK = 4,
        maxEdges = 0L)))
    graft.Storage.releaseAll(spark)
    assert(m(KCore.core(df, "src", "dst", 3)) ==
      m(KCore.core(df, "src", "dst", 3, maxEdges = 0L)))
    graft.Storage.releaseAll(spark)
  }

  test("a k beyond the densest core yields the empty frame") {
    assert(KCore.core(edges.toDF("src", "dst"), "src", "dst", 6).isEmpty)
  }

  test("corenessCapped folds the union chain: kMax-invariant plan size, deep sweeps exact") {
    // disjoint cliques of sizes 2..12 → coreness = size−1 (1..11):
    // levels beyond foldEvery=8 do real work, so the k=8 and k=16 folds
    // rebase non-trivial removed sets
    val offsets = (2 to 12).scanLeft(0L)(_ + _)
    val cliqueEdges = (2 to 12).zip(offsets).flatMap { case (sz, off) =>
      for (i <- 0 until sz; j <- (i + 1) until sz)
        yield (off + i, off + (j: Long))
    }
    val df = cliqueEdges.toDF("src", "dst")
    val got = KCore.corenessCapped(df, "src", "dst", kMax = 10, roundsPerK = 4,
        maxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (2 to 12).zip(offsets).flatMap { case (sz, off) =>
      (0 until sz).map(i => (off + i) -> math.min(sz - 1, 10).toLong)
    }.toMap
    assert(got == want)
    graft.Storage.releaseAll(spark)
    // plan growth is bounded: kMax=12 and kMax=20 both end 4 levels past
    // a fold, so their analyzed plans are the SAME size — the chain never
    // carries more than foldEvery un-folded branches
    def planSize(kMax: Int): Int = {
      val n = KCore.corenessCapped(df, "src", "dst", kMax, roundsPerK = 2,
          maxEdges = 0L)
        .queryExecution.analyzed.collect { case x => x }.size
      graft.Storage.releaseAll(spark)
      n
    }
    assert(planSize(20) == planSize(12),
      "corenessCapped plan must not grow with kMax across folds")
  }

  test("a 10-round peel leaves at most the canon + two round leaves cached") {
    graft.Storage.releaseAll(spark)
    // a 40-node path peels 2 endpoints per round at k=2 — all 10 scheduled
    // rounds do work, so before the unpersist discipline this pinned 11+
    // survivor leaves; now: canon + the caller-owned node set + the final
    // degree frame's input leaf (the returned frame still reads it)
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    KCore.peel(chain, "src", "dst", k = 2, rounds = 10,
      maxEdges = 0L).collect()
    val cached = spark.sparkContext.getPersistentRDDs.size
    assert(cached <= 4, s"peel left $cached cached RDDs")
    graft.Storage.releaseAll(spark)
  }

  test("plan is equi-joins only — no cartesian product") {
    val p = KCore.peel(edges.toDF("src", "dst"), "src", "dst", 3, 2,
      maxEdges = 0L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1500))
  }
}
