package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** k-core decomposition by iterative peeling (Seidman 1983; Batagelj &
  * Zaveršnik 2003 for the peeling formulation): repeatedly delete nodes
  * of degree < k until the remainder — the k-core — is stable. The
  * corpus-curation reading: the k-core of a near-duplicate / citation /
  * hyperlink graph is its densely-interlinked backbone (template farms,
  * boilerplate clusters, spam rings), the structure [[Triangles]] counts
  * locally and [[ConnectedComponents]] ignores entirely.
  *
  * Two entry points:
  *   - [[peel]] — a FIXED number of peeling rounds, the oracle-gated
  *     form (q133): deterministic round count ⇒ the DuckDB oracle
  *     unrolls exactly R rounds as plain CTEs, no fixpoint detection
  *     needed. Each round keeps nodes whose degree in the subgraph
  *     induced by the previous round's survivors is >= k.
  *   - [[core]] — the true fixpoint: the same peel run until a round
  *     removes nothing, throwing if `maxRounds` rounds do not get there.
  *
  * Scale shape: the edge list is canonicalized once and passed through
  * the [[DriverCsr.edges]] gate. Within it the peel runs on driver
  * arrays over the collected adjacency. Above it each round is two
  * semi-joins of the cached edges against the (shrinking) alive set plus
  * one map-side-combined degree count — the alive set is node-sized and
  * broadcasts once it fits, so late rounds cost one edge scan each.
  * Alive sets rebase per round (the [[KMeans.fit]] lineage discipline),
  * so plan size is O(1) in rounds.
  */
object KCore {

  /** One peeling round: degrees of the subgraph induced by `alive`,
    * then the >= k survivors. Returns the DEGREE frame (node, deg) —
    * callers filter it.
    */
  private def roundDegrees(canon: DataFrame, alive: DataFrame): DataFrame =
    canon
      .join(alive.select(col("node").as("a")), Seq("a"), "left_semi")
      .join(alive.select(col("node").as("b")), Seq("b"), "left_semi")
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** What a distributed peel hands back: the final round's scored
    * survivors (lazy — they still read `lastInputRdd`), the materialized
    * survivor leaf, the two cached RDDs a caller may release once it is
    * done with the corresponding frames, and whether a round removed
    * nothing.
    */
  private[operators] case class PeelResult(survivors: DataFrame, alive: DataFrame,
                                           aliveRdd: RDD[Row], lastInputRdd: RDD[Row],
                                           converged: Boolean)

  /** Up to `rounds` peeling rounds from `alive0` (whose row count is `n0`,
    * or -1 when unknown): each round scores the alive rows and keeps the
    * `keep` rows of the score frame, projected back to `alive0`'s columns.
    * The shared core of [[KCore]] and [[KTruss]]'s distributed peels.
    *
    * EARLY EXIT: once a round's survivor count equals its input count the
    * set is stable (survivors ⊆ input, so count-equality is set-equality)
    * and every remaining round is the identity — the returned frame is
    * bit-identical to running all `rounds`, which is why the fixed-round
    * oracles (q133/q135/q153) stay valid. The per-round count runs on the
    * just-cached survivor RDD, and on the q153 sweep it collapses 36
    * scheduled rounds to the ~16 that do work (11.2 s → ~5 s measured).
    */
  private[operators] def peelFrom(alive0: DataFrame, alive0Rdd: RDD[Row], n0: Long,
                                  rounds: Int)
                                 (score: DataFrame => DataFrame, keep: Column): PeelResult = {
    val keys = alive0.columns.toSeq.map(col)
    var alive = alive0
    var aliveRdd = alive0Rdd
    var n = n0
    var last: DataFrame = null
    var lastInputRdd: RDD[Row] = null
    var r = 0
    while (r < rounds) {
      last = score(alive)
      val in = aliveRdd
      val (a2, r2) = DriverCsr.rebase(last.filter(keep).select(keys: _*))
      alive = a2; aliveRdd = r2
      val nNext = alive.count() // materializes r2 — `in` is now lineage-only
      // Unpersist discipline (the Closure/BpeMerges contract): the round
      // BEFORE last's input leaf is superseded — its score frame was
      // overwritten and the new survivor leaf is materialized above it.
      // Keep `in` (the returned survivors still read it) and never release
      // the caller-owned alive0 (corenessCapped's removed-set anti-joins
      // reference each level's input until the final action).
      if (lastInputRdd != null && (lastInputRdd ne alive0Rdd))
        lastInputRdd.unpersist(blocking = false)
      lastInputRdd = in
      if (nNext == n)
        return PeelResult(last.filter(keep), alive, aliveRdd, lastInputRdd, converged = true)
      n = nNext
      r += 1
    }
    PeelResult(last.filter(keep), alive, aliveRdd, lastInputRdd, converged = false)
  }

  /** [[peelFrom]] on driver arrays: up to `rounds` rounds from `alive0`,
    * each scoring the alive items and keeping those scoring >= `min`, with
    * the same early exit. Returns the last round's scores, the survivors
    * and whether a round removed nothing.
    */
  private[operators] def peelArrays(alive0: Array[Boolean], min: Long, rounds: Int)
                                   (score: Array[Boolean] => Array[Long])
      : (Array[Long], Array[Boolean], Boolean) = {
    var alive = alive0
    var n = alive.count(identity)
    var last = new Array[Long](alive.length)
    var r = 0
    while (r < rounds) {
      last = score(alive)
      val in = alive
      alive = Array.tabulate(in.length)(v => in(v) && last(v) >= min)
      val nNext = alive.count(identity)
      if (nNext == n) return (last, alive, true)
      n = nNext
      r += 1
    }
    (last, alive, false)
  }

  /** Both-direction int adjacency of the gate's interned edges. */
  private def adjacency(g: DriverCsr.Edges): Array[Array[Int]] = {
    val n = g.nodeVals.length
    val cnt = new Array[Int](n)
    g.src.foreach(cnt(_) += 1)
    g.dst.foreach(cnt(_) += 1)
    val adj = Array.tabulate(n)(j => new Array[Int](cnt(j)))
    val fill = new Array[Int](n)
    g.src.indices.foreach { i =>
      val a = g.src(i); val b = g.dst(i)
      adj(a)(fill(a)) = b; fill(a) += 1
      adj(b)(fill(b)) = a; fill(b) += 1
    }
    adj
  }

  /** Degrees of the alive nodes in the subgraph they induce. */
  private def degrees(adj: Array[Array[Int]])(alive: Array[Boolean]): Array[Long] = {
    val deg = new Array[Long](adj.length)
    var v = 0
    while (v < adj.length) {
      if (alive(v)) {
        val nb = adj(v); var c = 0L; var j = 0
        while (j < nb.length) { if (alive(nb(j))) c += 1; j += 1 }
        deg(v) = c
      }
      v += 1
    }
    deg
  }

  private def nodeFrame(g: DriverCsr.Edges, valueName: String,
                        out: Seq[(Int, Long)]): DataFrame =
    g.frame(out.map { case (v, d) => Row(g.nodeVals(v), d) }, StructType(Seq(
      StructField("node", g.schema.fields(0).dataType, nullable = true),
      StructField(valueName, LongType, nullable = false))))

  /** Up to `rounds` rounds of [[peel]] on either side of the edge gate:
    * the (node, deg) survivors and whether a round removed nothing. The
    * distributed side counts the nodes first only when `countFirst`.
    */
  private def peelRun(op: String, edges: DataFrame, srcCol: String, dstCol: String,
                      k: Int, rounds: Int, maxEdges: Long,
                      countFirst: Boolean): (DataFrame, Boolean) = {
    val g = DriverCsr.edges(op, DriverCsr.canonical(edges, srcCol, dstCol), maxEdges)
    if (g.onDriver) {
      val adj = adjacency(g)
      val (deg, alive, converged) =
        peelArrays(Array.fill(adj.length)(true), k, rounds)(degrees(adj))
      return (nodeFrame(g, "deg", adj.indices.filter(alive(_)).map(v => (v, deg(v)))),
        converged)
    }
    val canon = g.cached
    val (a0, a0Rdd) = DriverCsr.rebase(DriverCsr.nodesOf(canon, "a", "b"))
    val res = peelFrom(a0, a0Rdd, if (countFirst) a0.count() else -1L, rounds)(
      roundDegrees(canon, _), col("deg") >= k)
    // the result reads the final DEGREE frame, not the survivor leaf —
    // release the leaf (it was only needed for the early-exit count)
    res.aliveRdd.unpersist(blocking = false)
    (res.survivors, res.converged)
  }

  /** `rounds` peeling rounds; returns the survivors with their degree in
    * the final round's input subgraph: (node, deg), deg >= k.
    */
  def peel(edges: DataFrame, srcCol: String, dstCol: String,
           k: Int, rounds: Int, maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    peelRun("KCore.peel", edges, srcCol, dstCol, k, rounds, maxEdges,
      countFirst = false)._1
  }

  /** CAPPED coreness decomposition: every node's core number
    * min(coreness, kMax) — the per-node summary [[peel]]'s single-k
    * view cannot give. Sweeps k = 1..kMax, peeling each level's
    * survivors with `roundsPerK` rounds (size roundsPerK to cover each
    * level's fixpoint — the spec cross-checks against [[core]]); nodes
    * removed at level k carry coreness k−1, survivors of the sweep
    * carry kMax. Output: (node, coreness).
    */
  def corenessCapped(edges: DataFrame, srcCol: String, dstCol: String,
                     kMax: Int, roundsPerK: Int,
                     maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    require(kMax >= 1 && roundsPerK >= 1, "kMax and roundsPerK must be >= 1")
    val g = DriverCsr.edges("KCore.corenessCapped",
      DriverCsr.canonical(edges, srcCol, dstCol), maxEdges)
    if (g.onDriver) {
      // driver sweep: the whole k = 1..kMax peel runs on collected
      // arrays — the recurrence is identical level by level
      // (KCoreSpec pins driver ≡ distributed), and the 36-round
      // distributed sweep's per-round job floor disappears
      val adj = adjacency(g)
      val coreness = Array.fill(adj.length)(kMax.toLong)
      var alive = Array.fill(adj.length)(true)
      for (k <- 1 to kMax) {
        val next = peelArrays(alive, k, roundsPerK)(degrees(adj))._2
        adj.indices.foreach(v => if (alive(v) && !next(v)) coreness(v) = k - 1L)
        alive = next
      }
      return nodeFrame(g, "coreness", adj.indices.map(v => (v, coreness(v))))
    }
    // Bound the union chain's plan growth: every foldEvery levels the
    // accumulated removed-set union rebases onto ONE cached leaf (and
    // the superseded accumulator leaf is released), so the returned
    // plan carries at most foldEvery union branches regardless of kMax
    // — a kMax=1000 sweep plans the same as kMax=8 (KCoreSpec pins the
    // branch count). The fold is node-sized rows, never edges.
    val foldEvery = 8
    val canon = g.cached
    var (alive, aliveRdd) = DriverCsr.rebase(DriverCsr.nodesOf(canon, "a", "b"))
    var result: DataFrame = null
    var resultRdd: RDD[Row] = null
    var branches = 0
    for (k <- 1 to kMax) {
      // the level's survivors ARE peelFrom's materialized alive leaf — no
      // second rebase; its last degree-frame input is dead once the leaf
      // exists (unless it is this level's own input, which the removed-set
      // anti-join below still reads)
      val res = peelFrom(alive, aliveRdd, -1L, roundsPerK)(
        roundDegrees(canon, _), col("deg") >= k)
      if (res.lastInputRdd ne aliveRdd)
        res.lastInputRdd.unpersist(blocking = false)
      val next = res.alive
      val removed = alive.join(next, Seq("node"), "left_anti")
        .select(col("node"), lit((k - 1).toLong).as("coreness"))
      result = if (result == null) removed else result.unionByName(removed)
      branches += 1
      if (branches >= foldEvery && k < kMax) {
        val (r2, rr2) = DriverCsr.rebase(result)
        r2.count() // materializes rr2 — the prior accumulator leaf is dead
        if (resultRdd != null) resultRdd.unpersist(blocking = false)
        result = r2; resultRdd = rr2
        branches = 0
      }
      alive = next; aliveRdd = res.aliveRdd
    }
    result.unionByName(
      alive.select(col("node"), lit(kMax.toLong).as("coreness")))
  }

  /** The true k-core: [[peel]] run until a round removes nothing, so
    * each survivor carries its degree within the core. `maxRounds`
    * bounds the loop — a graph peels at most node-count rounds, so
    * hitting the bound means the budget was too small and the call
    * throws rather than return a non-core.
    */
  def core(edges: DataFrame, srcCol: String, dstCol: String,
           k: Int, maxRounds: Int = 1000,
           maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val (out, converged) = peelRun("KCore.core", edges, srcCol, dstCol, k,
      maxRounds, maxEdges, countFirst = true)
    if (!converged)
      throw new IllegalStateException(s"k-core did not converge within $maxRounds rounds")
    out
  }
}
