package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BFS invariants: the fixed-round min-relaxation recurrence on a hand
  * graph, bit-parity between the driver-CSR and distributed paths, the
  * hop cap's exact semantics, and the unreached-exclusion contract.
  * The independent end-to-end check is the q219 oracle (all rounds
  * unrolled in SQL).
  */
class BfsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  //   a → b → c → d → e   (chain), plus a shortcut a → d, and an
  //   isolated pair x → y unreachable from the seeds
  private val edges = Seq(
    "a" -> "b", "b" -> "c", "c" -> "d", "d" -> "e", "a" -> "d",
    "x" -> "y")

  private def run(seeds: Seq[String], rounds: Int,
                  maxEdges: Long = 2000000L): Map[String, Long] = {
    val got = Bfs.hopDistances(edges.toDF("src", "dst"), "src", "dst",
        seeds.toDF("node"), rounds, maxEdges = maxEdges)
      .as[(String, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    got
  }

  test("hop distances follow the min-relaxation recurrence; shortcuts win") {
    // a→d direct (1 hop) beats a→b→c→d (3 hops); e is d+1
    assert(run(Seq("a"), 4) ==
      Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 1L, "e" -> 2L))
  }

  test("the round cap bounds reach exactly; unreached nodes are excluded") {
    assert(run(Seq("a"), 1) == Map("a" -> 0L, "b" -> 1L, "d" -> 1L))
    assert(run(Seq("a"), 0) == Map("a" -> 0L))
    // x/y never appear in any seed-a result
    assert(!run(Seq("a"), 10).contains("x"))
  }

  test("multi-source takes the minimum over seeds; off-graph seeds are ignored") {
    val d = run(Seq("a", "e", "zz_not_in_graph"), 4)
    assert(d("e") == 0L && d("d") == 1L && d("a") == 0L)
    assert(!d.contains("zz_not_in_graph"))
  }

  test("integer seeds match long nodes identically on both scale paths") {
    // the round-14 advisory: the driver path's Set[Any].contains is
    // strict runtime-type equality, so IntegerType seeds silently
    // matched nothing against LongType nodes while the join path's
    // implicit casts still matched — seeds now cast to the node type
    // up front, so both paths agree (and actually reach)
    val es = Seq(1L -> 2L, 2L -> 3L, 10L -> 11L).toDF("src", "dst")
    val seeds = Seq(1).toDF("node") // IntegerType vs LongType nodes
    def runOn(maxEdges: Long): Map[Long, Long] = {
      val got = Bfs.hopDistances(es, "src", "dst", seeds, rounds = 3,
          maxEdges = maxEdges)
        .as[(Long, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      got
    }
    val driver = runOn(2000000L)
    assert(driver == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    assert(driver == runOn(1L))
  }

  test("the distributed path is bit-identical to the driver-CSR path") {
    val rnd = new scala.util.Random(23)
    val es = (0 until 400).map(_ =>
      s"n${rnd.nextInt(60)}" -> s"n${rnd.nextInt(60)}")
    val seeds = Seq("n0", "n17")
    def runOn(maxEdges: Long): Map[String, Long] = {
      val got = Bfs.hopDistances(es.toDF("src", "dst"), "src", "dst",
          seeds.toDF("node"), rounds = 5, maxEdges = maxEdges)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      got
    }
    val driver = runOn(2000000L)
    val distributed = runOn(1L)
    assert(driver == distributed)
    // and both match a plain driver replay of the recurrence
    var dist = Map("n0" -> 0L, "n17" -> 0L)
      .filter { case (k, _) => es.exists(e => e._1 == k || e._2 == k) }
    for (_ <- 1 to 5) {
      val stepped = es.flatMap { case (s, d0) =>
        dist.get(s).map(v => d0 -> (v + 1L)) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
      dist = (dist.keySet ++ stepped.keySet).map { k =>
        k -> math.min(dist.getOrElse(k, Long.MaxValue),
          stepped.getOrElse(k, Long.MaxValue))
      }.toMap
    }
    assert(driver == dist)
  }

  // ---- weighted min-plus relaxation ----

  private val wEdges = Seq(
    ("a", "b", 1L), ("b", "c", 1L), ("a", "c", 5L), ("c", "d", 2L),
    ("a", "c", 9L)) // parallel a→c collapses to its min (5)

  private def runW(seeds: Seq[String], rounds: Int,
                   maxEdges: Long = 2000000L): Map[String, Long] = {
    val got = Bfs.weightedDistances(wEdges.toDF("src", "dst", "w"),
        "src", "dst", "w", seeds.toDF("node"), rounds,
        maxEdges = maxEdges)
      .as[(String, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    got
  }

  test("weighted distances follow min-plus: a cheap 2-edge path beats the direct edge") {
    // round 1 can only use single edges: c costs 5; round 2 finds a→b→c = 2
    assert(runW(Seq("a"), 1) == Map("a" -> 0L, "b" -> 1L, "c" -> 5L))
    assert(runW(Seq("a"), 2) == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 7L))
    assert(runW(Seq("a"), 3) == Map("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 4L))
  }

  test("weighted driver and distributed paths are bit-identical; w ≡ 1 replays hopDistances") {
    val rnd = new scala.util.Random(31)
    val es = (0 until 400).map(_ =>
      (s"n${rnd.nextInt(60)}", s"n${rnd.nextInt(60)}", 1L + rnd.nextInt(9)))
    val seeds = Seq("n0", "n17").toDF("node")
    def runOn(maxEdges: Long): Map[String, Long] = {
      val got = Bfs.weightedDistances(es.toDF("src", "dst", "w"),
          "src", "dst", "w", seeds, rounds = 5, maxEdges = maxEdges)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      got
    }
    assert(runOn(2000000L) == runOn(1L))
    // unit weights: min-plus IS hop counting
    val ones = es.map { case (s, d, _) => (s, d, 1L) }
    val w1 = Bfs.weightedDistances(ones.toDF("src", "dst", "w"),
        "src", "dst", "w", seeds, rounds = 5)
      .as[(String, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    val hop = Bfs.hopDistances(es.map(e => (e._1, e._2)).toDF("src", "dst"),
        "src", "dst", seeds, rounds = 5)
      .as[(String, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(w1 == hop)
  }

  test("delta-frontier: a round cap far past the diameter equals the exact-depth run") {
    // The distributed loop exits when the frontier empties; the result
    // must still be the fixed-round recurrence's (which is at fixpoint).
    val rnd = new scala.util.Random(43)
    val es = (0 until 300).map(_ =>
      (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}"))
    def runHop(rounds: Int): Map[String, Long] = {
      val got = Bfs.hopDistances(es.toDF("src", "dst"), "src", "dst",
          Seq("n0").toDF("node"), rounds, maxEdges = 1L)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      got
    }
    assert(runHop(100) == runHop(10)) // 40 nodes: diameter well under 10
  }

  test("delta-frontier re-emits a node that improves twice (min-plus)") {
    // d reaches 10 via the direct edge in round 1, improves to 3 via the
    // chain in round 3 — and e (only reachable through d) must see BOTH
    // values at the right rounds, which requires d re-entering the
    // frontier on its second improvement.
    val es = Seq(("s", "d", 10L), ("s", "a", 1L), ("a", "b", 1L),
      ("b", "d", 1L), ("d", "e", 1L))
    def runOn(rounds: Int, maxEdges: Long): Map[String, Long] = {
      val got = Bfs.weightedDistances(es.toDF("src", "dst", "w"),
          "src", "dst", "w", Seq("s").toDF("node"), rounds,
          maxEdges = maxEdges)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      got
    }
    for (r <- Seq(2, 3, 4, 5)) assert(runOn(r, 1L) == runOn(r, 2000000L), s"rounds $r")
    assert(runOn(4, 1L)("e") == 4L) // the improved d propagated
    assert(runOn(2, 1L)("e") == 11L) // the pre-improvement d propagated
  }

  test("non-positive weights are rejected") {
    intercept[IllegalArgumentException] {
      Bfs.weightedDistances(Seq(("a", "b", 0L)).toDF("src", "dst", "w"),
        "src", "dst", "w", Seq("a").toDF("node"), rounds = 2)
    }
  }

  // ---- landmark distance sketches ----

  test("landmarkDistances equals one hopDistances run per landmark, on both scale paths") {
    val rnd = new scala.util.Random(37)
    val es = (0 until 400).map(_ =>
      s"n${rnd.nextInt(60)}" -> s"n${rnd.nextInt(60)}").toDF("src", "dst")
    val lms = Seq("n0", "n17", "n31")
    def runOn(maxEdges: Long): Map[(String, String), Long] = {
      val got = Bfs.landmarkDistances(es, "src", "dst", lms.toDF("node"),
          rounds = 4, maxEdges = maxEdges)
        .as[(String, String, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      graft.Storage.releaseAll(spark)
      got
    }
    val driver = runOn(2000000L)
    assert(driver == runOn(1L))
    // per-landmark slices equal independent single-seed BFS runs
    for (l <- lms) {
      val single = Bfs.hopDistances(es, "src", "dst", Seq(l).toDF("node"),
          rounds = 4)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      assert(driver.collect { case ((n, `l`), d) => n -> d } == single, l)
    }
  }

  test("landmarks entirely off the graph yield an empty table on both paths") {
    val es = Seq("a" -> "b", "b" -> "c").toDF("src", "dst")
    for (maxEdges <- Seq(2000000L, 1L)) {
      val got = Bfs.landmarkDistances(es, "src", "dst",
        Seq("zz", "yy").toDF("node"), rounds = 3,
        maxEdges = maxEdges)
      assert(got.count() == 0L, s"maxEdges=$maxEdges")
      graft.Storage.releaseAll(spark)
    }
  }

  test("landmarkEstimates serves min over landmarks of d(a,l) + d(l,b)") {
    //   path graph a - b - c - d (symmetrized), landmarks {a, d}
    val dirEdges = Seq("a" -> "b", "b" -> "c", "c" -> "d")
    val es = (dirEdges ++ dirEdges.map(_.swap)).toDF("src", "dst")
    val ld = Bfs.landmarkDistances(es, "src", "dst",
      Seq("a", "d").toDF("node"), rounds = 3)
    val est = Bfs.landmarkEstimates(ld, Seq("b").toDF("n"), Seq("c").toDF("n"))
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    graft.Storage.releaseAll(spark)
    // via a: d(b,a)+d(a,c) = 1+2 = 3; via d: d(b,d)+d(d,c) = 2+1 = 3;
    // the estimate is the landmark upper bound, not the true distance 1
    assert(est == Map(("b", "c") -> 3L))
  }

  // ---- snapshot + resume ----

  test("resume ≡ cold at the combined depth, bit-identically, across all path combinations") {
    val rnd = new scala.util.Random(47)
    val es = (0 until 400).map(_ =>
      s"n${rnd.nextInt(60)}" -> s"n${rnd.nextInt(60)}").toDF("src", "dst")
    val seeds = Seq("n0", "n17").toDF("node")
    val cold5 = Bfs.hopDistances(es, "src", "dst", seeds, rounds = 5)
      .as[(String, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    for (snapMax <- Seq(2000000L, 1L); resMax <- Seq(2000000L, 1L)) {
      val snap = Bfs.hopDistances(es, "src", "dst", seeds, rounds = 2,
        maxEdges = snapMax)
      Bfs.saveDistances(spark, snap, "graft_test_bfs_snap")
      graft.Storage.releaseAll(spark)
      val resumed = Bfs.resumeDistances(es, "src", "dst",
          spark.table("graft_test_bfs_snap"), rounds = 3,
          maxEdges = resMax)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      assert(resumed == cold5, s"snapMax=$snapMax resMax=$resMax")
    }
    graft.sources.Sinks.dropTableAndStaleLocation(spark, "graft_test_bfs_snap")
  }

  test("weighted resume ≡ weighted cold at the combined depth, across all path combinations") {
    val rnd = new scala.util.Random(71)
    val es = (0 until 400).map(_ =>
      (s"n${rnd.nextInt(60)}", s"n${rnd.nextInt(60)}", 1L + rnd.nextInt(9)))
      .toDF("src", "dst", "w")
    val seeds = Seq("n0", "n17").toDF("node")
    val cold4 = Bfs.weightedDistances(es, "src", "dst", "w", seeds, rounds = 4)
      .as[(String, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    for (snapMax <- Seq(2000000L, 1L); resMax <- Seq(2000000L, 1L)) {
      val snap = Bfs.weightedDistances(es, "src", "dst", "w", seeds,
        rounds = 2, maxEdges = snapMax)
      Bfs.saveDistances(spark, snap, "graft_test_wbfs_snap")
      graft.Storage.releaseAll(spark)
      val resumed = Bfs.resumeWeightedDistances(es, "src", "dst", "w",
          spark.table("graft_test_wbfs_snap"), rounds = 2,
          maxEdges = resMax)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      assert(resumed == cold4, s"snapMax=$snapMax resMax=$resMax")
    }
    graft.sources.Sinks.dropTableAndStaleLocation(spark, "graft_test_wbfs_snap")
  }

  test("resume with zero extra rounds returns the snapshot; snapshot nodes off the current graph drop") {
    val es = Seq("a" -> "b", "b" -> "c").toDF("src", "dst")
    val snap = Seq(("a", 0L), ("b", 1L), ("gone", 3L)).toDF("node", "dist")
    def runOn(maxEdges: Long): Map[String, Long] = {
      val got = Bfs.resumeDistances(es, "src", "dst", snap, rounds = 0,
          maxEdges = maxEdges)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      got
    }
    assert(runOn(2000000L) == Map("a" -> 0L, "b" -> 1L))
    assert(runOn(1L) == Map("a" -> 0L, "b" -> 1L))
  }

  test("shared graph handle: one build, both walks ≡ the one-shot entry points") {
    val rnd = new scala.util.Random(83)
    val es = (0 until 400).map(_ =>
      s"n${rnd.nextInt(60)}" -> s"n${rnd.nextInt(60)}").toDF("src", "dst")
    val seeds = Seq("n0", "n17").toDF("node")
    val coldSnap = Bfs.hopDistances(es, "src", "dst", seeds, rounds = 2)
      .as[(String, Long)].collect().toMap
    val cold5 = Bfs.hopDistances(es, "src", "dst", seeds, rounds = 5)
      .as[(String, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    val g = Bfs.buildHopGraph(es, "src", "dst")
    try {
      val snap = g.distances(seeds, rounds = 2)
      assert(snap.as[(String, Long)].collect().toMap == coldSnap)
      Bfs.saveDistances(spark, snap, "graft_test_handle_snap")
      val resumed = g.resumeFrom(spark.table("graft_test_handle_snap"), rounds = 3)
        .as[(String, Long)].collect().toMap
      assert(resumed == cold5)
    } finally g.close()
    graft.Storage.releaseAll(spark)
    graft.sources.Sinks.dropTableAndStaleLocation(spark, "graft_test_handle_snap")
  }

  test("shared weighted graph handle: one build, both walks ≡ the one-shot entry points") {
    val rnd = new scala.util.Random(97)
    // duplicate edges with differing weights exercise the in-exchange
    // MIN collapse that replaced the upstream string-keyed groupBy
    val es = (0 until 500).map(_ =>
      (s"n${rnd.nextInt(50)}", s"n${rnd.nextInt(50)}", 1L + rnd.nextInt(9)))
      .toDF("src", "dst", "w")
    val seeds = Seq("n0", "n17").toDF("node")
    val coldSnap = Bfs.weightedDistances(es, "src", "dst", "w", seeds, rounds = 2)
      .as[(String, Long)].collect().toMap
    val cold4 = Bfs.weightedDistances(es, "src", "dst", "w", seeds, rounds = 4)
      .as[(String, Long)].collect().toMap
    // driver ≡ distributed on the same duplicate-heavy graph (the
    // distributed branch collapses upstream, the driver branch in the
    // adjacency exchange — both must see the same min-weight graph)
    val dist4 = Bfs.weightedDistances(es, "src", "dst", "w", seeds, rounds = 4,
      maxEdges = 1L).as[(String, Long)].collect().toMap
    assert(dist4 == cold4)
    graft.Storage.releaseAll(spark)
    val g = Bfs.buildWeightedGraph(es, "src", "dst", "w")
    try {
      val snap = g.distances(seeds, rounds = 2)
      assert(snap.as[(String, Long)].collect().toMap == coldSnap)
      Bfs.saveDistances(spark, snap, "graft_test_handle_wsnap")
      val resumed = g.resumeFrom(spark.table("graft_test_handle_wsnap"), rounds = 2)
        .as[(String, Long)].collect().toMap
      assert(resumed == cold4)
    } finally g.close()
    graft.Storage.releaseAll(spark)
    graft.sources.Sinks.dropTableAndStaleLocation(spark, "graft_test_handle_wsnap")
  }

  test("refreshDistances: driver fixpoint ≡ distributed delta loop ≡ cold fixpoint on the grown graph") {
    val rnd = new scala.util.Random(131)
    val all = (0 until 500).map(_ =>
      s"n${rnd.nextInt(70)}" -> s"n${rnd.nextInt(70)}")
    val (oldE, newE) = all.splitAt(350)
    val seeds = Seq("n0", "n17").toDF("node")
    // prior = the fixpoint on the old subgraph (what the store would hold)
    val prior = Bfs.hopDistancesToFixpoint(oldE.toDF("src", "dst"),
      "src", "dst", seeds)
    val priorMap = prior.as[(String, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    val grown = all.toDF("src", "dst")
    val coldFix = Bfs.hopDistancesToFixpoint(grown, "src", "dst", seeds)
      .as[(String, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    def refreshOn(maxEdges: Long): Map[String, Long] = {
      var improved: Map[String, Long] = null
      Bfs.refreshDistances(grown, "src", "dst", newE.toDF("src", "dst"),
        seeds, Seq.empty[(String, Long)].toDF("node", "dist")
          .unionByName(prior), maxEdges) { im =>
        improved = im.as[(String, Long)].collect().toMap
      }
      graft.Storage.releaseAll(spark)
      improved
    }
    val drv = refreshOn(2000000L)
    val dst = refreshOn(1L)
    assert(drv == dst, "driver and distributed refresh must emit identical improvements")
    // prior min-merged with the improvements IS the cold fixpoint
    val merged = priorMap ++ drv.map { case (k, v) =>
      k -> math.min(v, priorMap.getOrElse(k, Long.MaxValue)) }
    assert(merged == coldFix)
    // and no emitted row is a non-improvement
    drv.foreach { case (k, v) =>
      assert(priorMap.get(k).forall(v < _), s"$k emitted without improving") }
  }

  test("harmonicFromLandmarks: exact floor terms, self-landmark excluded, unreached contribute by omission") {
    // dists: node p at {1, 2, 3} to three landmarks; node q reaches one
    // landmark at 4; landmark l1 itself has a d=0 self row (excluded)
    val dists = Seq(("p", "l1", 1L), ("p", "l2", 2L), ("p", "l3", 3L),
      ("q", "l2", 4L), ("l1", "l1", 0L), ("l1", "l2", 5L))
      .toDF("node", "lm", "dist")
    val got = Bfs.harmonicFromLandmarks(dists)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("p") == ((3L, 1000000L + 500000L + 333333L)))
    assert(got("q") == ((1L, 250000L)))
    assert(got("l1") == ((1L, 200000L)), "the d=0 self row must be excluded")
  }
}
