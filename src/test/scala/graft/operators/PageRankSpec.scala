package graft.operators

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

class PageRankSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(String, String)], iterations: Int = 5,
                    scale: Long = 1000000000000L): Map[String, Long] = {
    val df = edges.toDF("src", "dst")
    val got = PageRank.ranks(df, iterations = iterations, scale = scale)
      .as[(String, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    got
  }

  /** Driver-side replay of the exact integer recurrence. */
  private def reference(edges: Seq[(String, String)], iterations: Int,
                        scale: Long = 1000000000000L,
                        dampNum: Long = 85, dampDen: Long = 100): Map[String, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = nodes.size.toLong
    val base = scale * (dampDen - dampNum) / dampDen / n
    var r = nodes.map(_ -> scale / n).toMap
    for (_ <- 1 to iterations) {
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map(p => r(p._1) / outdeg(p._1)).sum
      }
      r = nodes.map(v => v -> (base + in.getOrElse(v, 0L) * dampNum / dampDen)).toMap
    }
    r
  }

  test("matches a driver-side integer replay on a small directed graph") {
    val edges = Seq(
      "a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a", "d" -> "c", "d" -> "a")
    assert(ranks(edges) == reference(edges, 5))
  }

  test("hub of a star graph outranks the leaves; symmetric ring is uniform") {
    val star = (1 to 8).flatMap(i => Seq(s"leaf$i" -> "hub", "hub" -> s"leaf$i"))
    val r = ranks(star)
    assert((1 to 8).forall(i => r("hub") > r(s"leaf$i")))
    assert((1 to 8).map(i => r(s"leaf$i")).distinct.size == 1)

    val ring = (0 until 6).map(i => s"n$i" -> s"n${(i + 1) % 6}")
    val rr = ranks(ring)
    assert(rr.values.toSeq.distinct.size == 1)
  }

  test("dangling nodes leak mass deterministically (documented semantics)") {
    // b has no out-edges: its damped mass is dropped, not redistributed.
    val edges = Seq("a" -> "b", "c" -> "b", "b0" -> "a", "b0" -> "c")
    assert(ranks(edges) == reference(edges, 5))
  }

  test("duplicate edges collapse before degree counting") {
    val dup = Seq("a" -> "b", "a" -> "b", "b" -> "a")
    assert(ranks(dup) == ranks(Seq("a" -> "b", "b" -> "a")))
  }

  test("the big-graph distributed path is bit-identical to the driver path") {
    // maxEdges = 1 forces the distributed rank frame + cached
    // src-partitioned edge join; fixed-point arithmetic must make the two
    // layouts agree to the last bit (and both match the driver replay).
    val rnd = new scala.util.Random(17)
    val edges: Seq[(String, String)] = (0 until 300).map(_ =>
      s"n${rnd.nextInt(40)}" -> s"n${rnd.nextInt(40)}")
    val df = edges.toDF("src", "dst")
    def collectRanks(maxEdges: Long): Map[String, Long] = {
      val got = PageRank.ranks(df, iterations = 4, maxEdges = maxEdges)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      got
    }
    val distributed = collectRanks(1L)
    val driver = collectRanks(10000000L)
    assert(distributed == driver)
    assert(driver == reference(edges, 4))
  }

  test("checked-fallback regime (round bound past 2^63) replays bit-identically") {
    // scale chosen so totalRank·dampNum overflows a long: the hoisted
    // raw-loop proof fails and every round runs the per-edge CHECKED
    // loop — while the actual recurrence stays in range (ring graph:
    // every in-sum is ~scale/n, every s·dampNum far below 2^63). The
    // fallback must compute the exact integers the raw path computes in
    // its own regime — same replay, same weighted/unweighted agreement.
    val ring = (0 until 8).map(i => s"n$i" -> s"n${(i + 1) % 8}")
    val big = Long.MaxValue / 50 // totalRank ≈ big ⇒ big·85 > 2^63
    assert(ranks(ring, iterations = 4, scale = big) ==
      reference(ring, 4, scale = big))
    // weighted loop's fallback: all-ones weights at the same scale must
    // reproduce the unweighted fallback run exactly
    val onesBig = PageRank.weightedRanks(
      ring.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w"),
      "src", "dst", "w", iterations = 4, scale = big)
      .as[(String, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(onesBig == reference(ring, 4, scale = big))
  }

  test("resumeRanks: snapshot+resume equals the cold run; new nodes start cold") {
    val edges = Seq(
      "a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a", "d" -> "c", "d" -> "a")
    def resume(prior: Map[String, Long], es: Seq[(String, String)],
               k: Int, maxEdges: Long = 2000000L): Map[String, Long] = {
      val got = PageRank.resumeRanks(es.toDF("src", "dst"),
        prior.toSeq.toDF("node", "rank"), iterations = k,
        maxEdges = maxEdges)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      got
    }
    val r3 = ranks(edges, 3)
    // unchanged graph: resume(snapshot of 3, 2) ≡ cold 5, on BOTH paths
    assert(resume(r3, edges, 2) == reference(edges, 5))
    assert(resume(r3, edges, 2, maxEdges = 1L) == reference(edges, 5))
    // grown graph: the unseen node starts at the cold value scale/n
    val grown = edges :+ ("e" -> "a")
    val scale = 1000000000000L
    val n = 5L // a b c d e
    val cold = grown.flatMap(p => Seq(p._1, p._2)).distinct
      .map(v => v -> r3.getOrElse(v, scale / n)).toMap
    // driver replay of 2 rounds from that start vector
    val e = grown.distinct
    val outdeg = e.groupBy(_._1).map { case (s, es2) => s -> es2.size.toLong }
    val base = scale * 15 / 100 / n
    var r = cold
    for (_ <- 1 to 2) {
      val in = e.groupBy(_._2).map { case (d, es2) =>
        d -> es2.map(p => r(p._1) / outdeg(p._1)).sum }
      r = r.keys.map(v => v -> (base + in.getOrElse(v, 0L) * 85 / 100)).toMap
    }
    assert(resume(r3, grown, 2) == r)
  }

  test("weightedRanks: per-edge floor-division replay; ones equal the unweighted run") {
    val wEdges = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L),
      ("c", "a", 5L), ("d", "c", 1L), ("d", "a", 1L),
      ("a", "b", 2L)) // duplicate (a,b): weights SUM to 5
    def wReference(iterations: Int): Map[String, Long] = {
      val scale = 1000000000000L
      val e = wEdges.groupBy(t => (t._1, t._2)).view
        .mapValues(_.map(_._3).sum).toSeq.map { case ((s, d), w) => (s, d, w) }
      val nodes = e.flatMap(t => Seq(t._1, t._2)).distinct
      val wsum = e.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      val n = nodes.size.toLong
      val base = scale * 15 / 100 / n
      var r = nodes.map(_ -> scale / n).toMap
      for (_ <- 1 to iterations) {
        val in = e.groupBy(_._2).map { case (d, es) =>
          d -> es.map(t => r(t._1) * t._3 / wsum(t._1)).sum }
        r = nodes.map(v => v -> (base + in.getOrElse(v, 0L) * 85 / 100)).toMap
      }
      r
    }
    def runW(maxEdges: Long): Map[String, Long] = {
      val got = PageRank.weightedRanks(wEdges.toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 4, maxEdges = maxEdges)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      got
    }
    assert(runW(2000000L) == wReference(4))
    assert(runW(1L) == wReference(4)) // distributed path bit-identical
    // all-ones weights on DISTINCT edges reproduce the unweighted walk
    val edges = Seq(
      "a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a", "d" -> "c", "d" -> "a")
    val ones = PageRank.weightedRanks(
      edges.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w"),
      "src", "dst", "w", iterations = 4)
      .as[(String, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(ones == reference(edges, 4))
  }

  test("weightedPersonalizedRanks: seed-restricted weighted replay, both paths bit-identical") {
    val wEdges = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L),
      ("c", "a", 5L), ("d", "c", 1L), ("d", "a", 1L),
      ("a", "b", 2L)) // duplicate (a,b): weights SUM to 5
    val seeds = Set("a", "d")
    def wpReference(iterations: Int): Map[String, Long] = {
      val scale = 1000000000000L
      val e = wEdges.groupBy(t => (t._1, t._2)).view
        .mapValues(_.map(_._3).sum).toSeq.map { case ((s, d), w) => (s, d, w) }
      val nodes = e.flatMap(t => Seq(t._1, t._2)).distinct
      val wsum = e.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
      val k = nodes.count(seeds)
      val base = scale * 15 / 100 / k
      var r = nodes.map(v => v -> (if (seeds(v)) scale / k else 0L)).toMap
      for (_ <- 1 to iterations) {
        val in = e.groupBy(_._2).map { case (d, es) =>
          d -> es.map(t => r(t._1) * t._3 / wsum(t._1)).sum }
        r = nodes.map(v => v ->
          ((if (seeds(v)) base else 0L) + in.getOrElse(v, 0L) * 85 / 100)).toMap
      }
      r
    }
    def runWP(maxEdges: Long): Map[String, Long] = {
      val got = PageRank.weightedPersonalizedRanks(
        wEdges.toDF("src", "dst", "w"), "src", "dst", "w",
        seeds.toSeq.toDF("node"), iterations = 4,
        maxEdges = maxEdges)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      got
    }
    assert(runWP(2000000L) == wpReference(4), "driver path != replay")
    assert(runWP(1L) == wpReference(4), "distributed path != replay")
    // a node with no seed-path in-flow holds zero base and zero rank iff
    // truly unreachable; here everything reaches from a/d, so all > 0
    assert(runWP(2000000L).values.forall(_ >= 0L))
  }

  test("weightedRanks: a non-positive input weight fails loudly instead of being dropped") {
    // mixed-sign duplicates (+5, −5) must not silently net to 5 — the
    // contract is every INPUT weight positive, enforced at execution
    val mixed = Seq(("a", "b", 5L), ("a", "b", -5L), ("b", "a", 1L))
    val ex = intercept[Exception] {
      PageRank.weightedRanks(mixed.toDF("src", "dst", "w"),
        "src", "dst", "w", iterations = 1).collect()
    }
    graft.Storage.releaseAll(spark)
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
    assert(rootMessages(ex).exists(_.contains("weight must be > 0")),
      s"expected the loud weight check, got: $ex")
  }

  /** Personalized replay: base and start only on the seed set. */
  private def personalizedReference(edges: Seq[(String, String)],
                                    seeds: Set[String], iterations: Int,
                                    scale: Long = 1000000000000L,
                                    dampNum: Long = 85,
                                    dampDen: Long = 100): Map[String, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct
    val outdeg = e.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val sIn = seeds.intersect(nodes.toSet)
    val base = scale * (dampDen - dampNum) / dampDen / sIn.size
    var r = nodes.map(v => v -> (if (sIn(v)) scale / sIn.size else 0L)).toMap
    for (_ <- 1 to iterations) {
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map(p => r(p._1) / outdeg(p._1)).sum
      }
      r = nodes.map(v => v ->
        ((if (sIn(v)) base else 0L) + in.getOrElse(v, 0L) * dampNum / dampDen)).toMap
    }
    r
  }

  test("personalizedRanks matches the seed-restricted replay; unreachable nodes hold zero") {
    // two components: the seeds' triangle plus a disjoint pair
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a",
      "x" -> "y", "y" -> "x")
    def run(seeds: Seq[String], np: Int = 1,
            maxEdges: Long = 2000000L): Map[String, Long] = {
      val got = PageRank.personalizedRanks(
        edges.toDF("src", "dst").repartition(np),
        seeds.toDF("node"), iterations = 4, maxEdges = maxEdges)
        .as[(String, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      got
    }
    val got = run(Seq("a", "zz")) // off-graph seed ignored
    assert(got == personalizedReference(edges, Set("a"), 4))
    // the distributed fallback is bit-identical to the driver path
    assert(run(Seq("a", "zz"), maxEdges = 1L) == got)
    assert(got("x") == 0L && got("y") == 0L) // unreachable from the seed
    // on a directed cycle the seed's restart mass flows FORWARD — its
    // out-neighbor accumulates it; the seeded component holds all mass
    assert(got("a") > 0L && got("b") > got("a"))
    assert(run(Seq("a", "zz"), np = 4) == got) // partitioning-invariant
    // seeding the OTHER component flips who holds mass
    val got2 = run(Seq("x"))
    assert(got2 == personalizedReference(edges, Set("x"), 4))
    assert(got2("a") == 0L && got2("x") > 0L)
  }
}
