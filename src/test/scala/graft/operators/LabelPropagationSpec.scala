package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic synchronous LPA invariants: matches an in-memory
  * reference replay round for round, is invariant to input partitioning
  * and edge orientation/duplication, and separates two cliques joined by
  * a bridge into their own communities. The independent end-to-end check
  * is the q163 oracle (4 rounds unrolled in SQL over the derived
  * ring+hub graph).
  */
class LabelPropagationSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // two K4 cliques {0..3} and {10..13} joined by one bridge 3-10
  private val edges: Seq[(Long, Long)] = {
    val c1 = for (i <- 0 to 3; j <- (i + 1) to 3) yield (i.toLong, j.toLong)
    val c2 = for (i <- 10 to 13; j <- (i + 1) to 13) yield (i.toLong, j.toLong)
    c1 ++ c2 ++ Seq((3L, 10L))
  }

  private def refPropagate(rounds: Int): Map[Long, Long] = {
    val canon = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    val sym = canon ++ canon.map { case (a, b) => (b, a) }
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(labels).view.mapValues(_.size.toLong)
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  private def run(rounds: Int, np: Int = 1): Map[Long, Long] = {
    val df = edges.toDF("src", "dst").repartition(np)
    val got = LabelPropagation.propagate(df, "src", "dst", rounds)
      .as[(Long, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    got
  }

  test("matches the reference replay for each round count") {
    for (r <- 1 to 4) assert(run(r) == refPropagate(r), s"rounds=$r")
  }

  test("invariant to partitioning, orientation, and duplicate edges") {
    val base = run(3)
    assert(run(3, np = 7) == base)
    val flipped = edges.map(_.swap) ++ edges // duplicates + reversed
    val got = LabelPropagation.propagate(
      flipped.toDF("src", "dst"), "src", "dst", 3)
      .as[(Long, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(got == base)
  }

  test("two bridged cliques settle into two communities") {
    val labels = run(4)
    val c1 = (0L to 3L).map(labels).toSet
    val c2 = (10L to 13L).map(labels).toSet
    assert(c1.size == 1, s"clique 1 split: $labels")
    assert(c2.size == 1, s"clique 2 split: $labels")
    assert(c1 != c2, s"cliques merged: $labels")
  }

  test("communitySizes rolls members up per label") {
    val sizes = LabelPropagation.communitySizes(
      edges.toDF("src", "dst"), "src", "dst", 4)
      .as[(Long, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(sizes.values.sum == 8L) // every node counted exactly once
    assert(sizes.values.toSet == Set(4L)) // two communities of 4
  }

  test("weighted votes: the heavy edge beats the smaller-label tiebreak; ones equal unweighted") {
    // node 5's neighbors 0 (weight 2) and 9 (weight 7): weighted picks 9's
    // label; unweighted votes tie 1-1 and fall to the SMALLER label 0 —
    // the two semantics provably diverge on this graph
    val e = Seq((5L, 0L, 2L), (5L, 9L, 7L))
    val w1 = LabelPropagation.propagateWeighted(
      e.toDF("src", "dst", "w"), "src", "dst", "w", 1)
      .as[(Long, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(w1(5L) == 9L, s"heavy edge must win: $w1")
    val unw = LabelPropagation.propagate(
      e.toDF("src", "dst", "w").drop("w"), "src", "dst", 1)
      .as[(Long, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(unw(5L) == 0L, s"unweighted tie falls to the smaller label: $unw")
    // all-ones weights reproduce the unweighted result exactly — on the
    // richer clique fixture, several rounds deep
    val onesEdges = edges.map { case (a, b) => (a, b, 1L) }
    val ones = LabelPropagation.propagateWeighted(
      onesEdges.toDF("src", "dst", "w"), "src", "dst", "w", 3)
      .as[(Long, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(ones == run(3))
  }

  test("the distributed loop (non-long keys) agrees with the replay and the driver path") {
    // zero-padded string ids keep UTF-8 order = numeric order, so the
    // smallest-label tiebreak matches the long-keyed replay
    def s(x: Long) = f"n$x%02d"
    for (rounds <- Seq(1, 4)) {
      val got = LabelPropagation.propagate(
        edges.map { case (a, b) => (s(a), s(b)) }.toDF("src", "dst"),
        "src", "dst", rounds, maxEdges = 0)
        .as[(String, String)].collect()
        .map { case (k, v) => k.drop(1).toLong -> v.drop(1).toLong }.toMap
      graft.Storage.releaseAll(spark)
      assert(got == refPropagate(rounds), s"rounds=$rounds")
      assert(got == run(rounds), s"driver-path divergence at rounds=$rounds")
    }
  }

  test("self-loops vanish identically on both paths: a self-loop-only node is absent from the output") {
    // node 99 has ONLY a self-loop, node 0 has a self-loop on top of its
    // clique edges — both paths must emit the same node set (no 99) and
    // the same labels as the loop-free reference graph
    val withLoops = edges ++ Seq((99L, 99L), (0L, 0L))
    val expect = refPropagate(3)
    val driver = LabelPropagation.propagate(
      withLoops.toDF("src", "dst"), "src", "dst", 3)
      .as[(Long, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(!driver.contains(99L), s"self-loop-only node leaked: $driver")
    assert(driver == expect, "driver path must ignore self-loops")
    def s(x: Long) = f"n$x%02d"
    val dist = LabelPropagation.propagate(
      withLoops.map { case (a, b) => (s(a), s(b)) }.toDF("src", "dst"),
      "src", "dst", 3, maxEdges = 0)
      .as[(String, String)].collect()
      .map { case (k, v) => k.drop(1).toLong -> v.drop(1).toLong }.toMap
    graft.Storage.releaseAll(spark)
    assert(dist == driver,
      "distributed and driver paths must agree on the self-loop node set")
  }

  test("resume from a snapshot equals the cold run on BOTH paths; dangling labels reset to self") {
    // driver path: snapshot at 2 rounds, resume 2 more ≡ cold 4
    val snap2 = LabelPropagation.propagate(
      edges.toDF("src", "dst"), "src", "dst", 2)
    LabelPropagation.saveLabels(spark, snap2, "graft_lpa_spec_snap")
    val resumed = LabelPropagation.resumePropagate(
      edges.toDF("src", "dst"), "src", "dst",
      spark.table("graft_lpa_spec_snap"), 2)
      .as[(Long, Long)].collect().toMap
    spark.sql("DROP TABLE IF EXISTS graft_lpa_spec_snap")
    graft.Storage.releaseAll(spark)
    assert(resumed == refPropagate(4), "driver-path resume != cold 4 rounds")
    // distributed path (string keys, maxEdges = 0): same contract
    def s(x: Long) = f"n$x%02d"
    val sEdges = edges.map { case (a, b) => (s(a), s(b)) }
    val sSnap = LabelPropagation.propagate(
      sEdges.toDF("src", "dst"), "src", "dst", 2)
    val sResumed = LabelPropagation.resumePropagate(
      sEdges.toDF("src", "dst"), "src", "dst", sSnap, 2, maxEdges = 0)
      .as[(String, String)].collect()
      .map { case (k, v) => k.drop(1).toLong -> v.drop(1).toLong }.toMap
    graft.Storage.releaseAll(spark)
    assert(sResumed == refPropagate(4), "distributed resume != cold 4 rounds")
    // a dangling snapshot label (names no current node) resets to the
    // node's own id — cold — identically on both paths
    val dangling = Seq((0L, 777L), (1L, 777L)).toDF("node", "label")
    val fromDangling = LabelPropagation.resumePropagate(
      edges.toDF("src", "dst"), "src", "dst", dangling, 3)
      .as[(Long, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(fromDangling == refPropagate(3),
      "dangling labels must reset to the cold start")
    val sDangling = Seq((s(0L), "zz"), (s(1L), "zz")).toDF("node", "label")
    val sFromDangling = LabelPropagation.resumePropagate(
      sEdges.toDF("src", "dst"), "src", "dst", sDangling, 3, maxEdges = 0)
      .as[(String, String)].collect()
      .map { case (k, v) => k.drop(1).toLong -> v.drop(1).toLong }.toMap
    graft.Storage.releaseAll(spark)
    assert(sFromDangling == refPropagate(3),
      "distributed dangling labels must reset to the cold start")
  }

  test("rounds exchange only the label frame — the edge cache is pre-partitioned on the vote key") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    graft.Storage.releaseAll(spark)
    val sym = LabelPropagation.symPartitioned(
      edges.toDF("src", "dst").select(col("src").as("__s"),
        col("dst").as("__d"), lit(1L).as("__w")))
    sym.count() // materialize the one edge exchange
    val labels = spark.createDataFrame( // a rebased-leaf stand-in, as in the loop
      spark.sparkContext.parallelize(
        sym.select(col("u")).distinct().collect()
          .map(r => org.apache.spark.sql.Row(r.getLong(0), r.getLong(0))).toSeq),
      new org.apache.spark.sql.types.StructType()
        .add("node", "long", nullable = false)
        .add("label", "long", nullable = false))
    // force the 100×-scale join shape (labels too big to broadcast ⇒
    // sort-merge): the cached edge partitioning must still satisfy the
    // join's distribution, so only the LABEL side exchanges
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val qe = LabelPropagation.voteRound(sym, labels).queryExecution
      val root = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan // post-EnsureRequirements
        case p => p
      }
      // tree traversal does NOT descend into InMemoryRelation's cached
      // build plan — exactly what we want: only the PER-ROUND exchanges
      val shuffles = root.collect { case e: ShuffleExchangeExec => e }
      assert(root.exists { case _: InMemoryTableScanExec => true; case _ => false },
        "the vote join must read the cached edge partitioning:\n" + root.toString.take(2000))
      // three per-round exchanges: the label frame into the join, then
      // the (u,label)/(u) vote counts. An exchange on the vote key
      // ABOVE the cached edge scan would be the edge list re-shuffling
      // — paid R times at 100×.
      assert(shuffles.size == 3,
        s"expected 3 per-round exchanges (labels + 2 vote counts), got ${shuffles.size}:\n" +
          root.toString.take(2000))
      val edgeReshuffle = shuffles.filter { e =>
        val onV = e.outputPartitioning match {
          case h: HashPartitioning =>
            h.expressions.flatMap(_.references.map(_.name)).contains("v")
          case _ => false
        }
        onV && e.exists { case _: InMemoryTableScanExec => true; case _ => false }
      }
      assert(edgeReshuffle.isEmpty,
        "the cached edge list must never re-exchange on the vote key:\n" +
          root.toString.take(2000))
    } finally {
      spark.conf.set(thresholdKey, prior)
      graft.Storage.releaseAll(spark)
    }
  }

  test("shared graph handle: one build, both walks ≡ the one-shot entry points") {
    val df = edges.toDF("src", "dst")
    def m(d: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      d.as[(Long, Long)].collect().toMap
    val cold2 = m(LabelPropagation.propagate(df, "src", "dst", rounds = 2))
    val cold4 = m(LabelPropagation.propagate(df, "src", "dst", rounds = 4))
    graft.Storage.releaseAll(spark)
    val g = LabelPropagation.buildLpaGraph(df, "src", "dst")
    try {
      val snap = g.propagate(rounds = 2)
      assert(m(snap) == cold2)
      LabelPropagation.saveLabels(spark, snap, "graft_lpa_handle_snap")
      val resumed = m(g.resumeFrom(spark.table("graft_lpa_handle_snap"), rounds = 2))
      assert(resumed == cold4)
    } finally g.close()
    spark.sql("DROP TABLE IF EXISTS graft_lpa_handle_snap")
    graft.Storage.releaseAll(spark)
  }

  test("after a 6-round propagation at most the edge list and two label leaves stay cached") {
    graft.Storage.releaseAll(spark)
    LabelPropagation.propagate(edges.toDF("src", "dst"), "src", "dst", 6)
      .collect()
    val cached = spark.sparkContext.getPersistentRDDs.size
    assert(cached <= 2, s"propagate left $cached cached RDDs")
    graft.Storage.releaseAll(spark)
  }
}
