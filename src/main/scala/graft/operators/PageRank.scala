package graft.operators

import graft.functions.IntOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** PageRank (Brin & Page 1998) in FIXED-POINT integer arithmetic — link
  * analysis for corpus curation (rank-weighted sampling, seed selection,
  * spam demotion) that is bit-identical across runs, partitionings, and
  * engines. The float formulation's per-node sum depends on reduction
  * order; here ranks are longs scaled by `scale`, per-edge contributions
  * are integer divisions, and the per-node sum of LONGS is exact and
  * commutative — so a DuckDB oracle can replay every iteration to the
  * last bit (no tolerance, no rounding).
  *
  *   r'(v) = (scale·(den−num))/den/N  +  (num · Σ_{u→v} r(u)/outdeg(u))/den
  *
  * with all divisions integer (floor; inputs are non-negative so floor =
  * truncate in both engines). Truncation loses ≤ 1 unit per division — at
  * scale 10^12 that is relative error ~10^-12 per term, far below the
  * damping fixpoint's own convergence tolerance, and — the point —
  * IDENTICALLY in both engines.
  *
  * Scale shape: the [[DriverCsr]] gate over the null-free edges. Within
  * it the edges are collected once, collapsed into an int CSR on the
  * driver and every round is an array loop (no Spark job per round).
  * Above it every entry runs ONE distributed loop, the same recurrence
  * over frames: the edges carry a weight (1 when unweighted, so
  * ⌊rank·1/W⌋ is ⌊rank/outdeg⌋), one shuffle by `src` collapses them and
  * sums each source's out-weight, and the (node, base, rank) state is
  * rebased each round onto a cached-RDD leaf (carrying the loop's
  * lineage squares plan statistics until planning hangs). The entries
  * differ only in the start state: uniform, a prior snapshot, or
  * restricted to seeds cast to the node type.
  *
  * Dangling nodes (no out-edges) leak their damped mass rather than
  * redistributing it — deterministic and documented; feed a symmetrized
  * edge list if total mass must be conserved. Caller releases storage
  * after its action ([[graft.Storage.releaseAll]]).
  */
object PageRank {

  /** @param edges two-column frame (`src`, `dst`) of directed edges;
    *        duplicates are collapsed and an edge with a null endpoint is
    *        dropped
    * @param maxEdges graphs of up to this many edges (the [[DriverCsr]]
    *        gate, which states the memory contract) run every round on
    *        the driver. Larger graphs keep ranks distributed and shuffle
    *        only the rank frame against the cached src-partitioned edges.
    * @return (`node`, `rank`) — fixed-point ranks after exactly
    *         `iterations` rounds from the uniform start
    */
  def ranks(edges: DataFrame, iterations: Int = 10,
            scale: Long = 1000000000000L,
            dampNum: Long = 85, dampDen: Long = 100,
            maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    val g = buildRankGraph(edges, maxEdges)
    try g.ranks(iterations, scale, dampNum, dampDen) finally g.close()
  }

  private def checkRounds(iterations: Int, dampNum: Long, dampDen: Long): Unit = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampNum > 0 && dampNum < dampDen, "need 0 < dampNum < dampDen")
  }

  /** The driver path's rounds over a weighted out-adjacency (an
    * unweighted graph has every weight 1, so ⌊rank·1/W⌋ is the uniform
    * ⌊rank/outdeg⌋): next(v) = base(v) + ⌊in-mass(v)·dampNum/dampDen⌋,
    * in-mass(v) = Σ_{u→v} ⌊rank(u)·w(u,v)/W(u)⌋.
    */
  private def ranksLoop(adj: DriverCsr.Csr, base: Array[Long], start: Array[Long],
                        iterations: Int, dampNum: Long, dampDen: Long): Array[Long] = {
    val (n, off, to, w) = (adj.n, adj.off, adj.to, adj.w)
    // out-weight totals W(u), summed exactly as the distributed window sum
    val wsum = Array.tabulate(n)(u => (off(u) until off(u + 1)).foldLeft(0L)((t, j) =>
      Math.addExact(t, w(j))))
    val maxWsum = if (n == 0) 0L else wsum.max
    var rank = start
    var i = 0
    while (i < iterations) {
      // Overflow discipline: the distributed path's IntegralDivide over
      // rank·w and its long sums THROW under ANSI on overflow — the loop
      // must fail the same way, never wrap into silently wrong ranks.
      // The proof is HOISTED out of the per-edge loop (a per-edge
      // addExact measured ~8% on q93): ranks are non-negative and each
      // term ⌊rank·w/W⌋ <= rank (w <= W), so every partial sum is
      // bounded by Σ rank and each multiply by maxRank·maxW — if Σ rank,
      // Σ rank·dampNum and maxRank·maxW all fit (checked ONCE per
      // round), the raw loop is exact. The bound is conservative; past
      // it the per-edge checked loop runs, throwing exactly where the
      // distributed path would.
      val rawSafe = try {
        var t = 0L; var mx = 0L; var v = 0
        while (v < n) {
          t = Math.addExact(t, rank(v))
          if (rank(v) > mx) mx = rank(v)
          v += 1
        }
        Math.multiplyExact(t, dampNum)
        Math.multiplyExact(mx, maxWsum); true
      } catch { case _: ArithmeticException => false }
      val mass = new Array[Long](n)
      var u = 0
      while (u < n) {
        var j = off(u)
        if (rawSafe)
          while (j < off(u + 1)) { mass(to(j)) += rank(u) * w(j) / wsum(u); j += 1 }
        else
          while (j < off(u + 1)) {
            mass(to(j)) = Math.addExact(mass(to(j)),
              Math.multiplyExact(rank(u), w(j)) / wsum(u))
            j += 1
          }
        u += 1
      }
      rank = Array.tabulate(n)(v =>
        Math.addExact(base(v), Math.multiplyExact(mass(v), dampNum) / dampDen))
      i += 1
    }
    rank
  }

  /** Each seed's teleport base and start rank when `k` nodes are seeds
    * (every node, uniform, when `seeded` is false).
    */
  private def share(k: Long, scale: Long, dampNum: Long, dampDen: Long,
                    seeded: Boolean): (Long, Long) = {
    if (seeded) require(k > 0, "no seed appears in the graph")
    val b = scale * (dampDen - dampNum) / dampDen / k
    if (seeded) require(b > 0 && scale / k > 0, s"scale $scale too small for $k seeds")
    (b, scale / k)
  }

  private def rankFrame(g: DriverCsr.Edges, rank: Array[Long]): DataFrame =
    g.nodeFrame(Iterator.tabulate(rank.length)(i => Row(g.nodeVals(i), rank(i))),
      StructField("rank", LongType, nullable = false))

  /** The distributed twin of [[ranksLoop]] over the cached edges `e`
    * (`src`, `dst`, and `w` when `collapse` reads it). ONE shuffle by
    * `src` collapses duplicate (src, dst) edges with `collapse` (the
    * partitioning satisfies the grouping) and sums each source's
    * out-weight W(u) in a sort-only window over it; the result is cached
    * still partitioned by the per-round join key, so a round shuffles only
    * the node-sized state. `start` is the (`node`, `b`, `rank`) state:
    * each node's base rides its zero-contribution row, so the round's
    * aggregate needs no second join (sum(b) is the base, each node's row
    * appears once). Every round is rebased onto a cached RDD leaf.
    */
  private def distributedLoop(e: DataFrame, collapse: Column, start: DataFrame,
                              iterations: Int, dampNum: Long, dampDen: Long): DataFrame = {
    val edgesW = e.repartition(col("src"))
      .groupBy(col("src"), col("dst")).agg(collapse.as("w"))
      .withColumn("wsum", sum(col("w")).over(Window.partitionBy(col("src"))))
      .persist()
    var (state, rdd) = DriverCsr.rebase(start)
    for (_ <- 1 to iterations) {
      val next = edgesW.join(state, edgesW("src") === state("node"))
        .select(col("dst"), IntOps.intDiv(col("rank") * col("w"), col("wsum")).as("c"),
          lit(0L).as("b"))
        .unionByName(state.select(col("node").as("dst"), lit(0L).as("c"), col("b")))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_mass"), sum(col("b")).as("b"))
        .select(col("dst").as("node"), col("b"),
          (col("b") + IntOps.intDiv(col("in_mass") * dampNum, lit(dampDen))).as("rank"))
      val (s, r) = DriverCsr.rebase(next)
      r.count()
      rdd.unpersist(blocking = false)
      state = s; rdd = r
    }
    edgesW.unpersist(blocking = false)
    state.select(col("node"), col("rank"))
  }

  /** Shared-build handle for the snapshot+resume gates: the gated edges
    * and their CSR built ONCE; cold and resumed walks run over them (the
    * q194 gate runs two walks on one unchanged graph). Above the gate
    * each walk runs the distributed loop over the cached edges.
    */
  def buildRankGraph(edges: DataFrame,
                     maxEdges: Long = DriverCsr.MaxEdges): RankGraph =
    new RankGraph(DriverCsr.edges("PageRank.buildRankGraph",
      edges.select(col("src"), col("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull), maxEdges), weighted = false)

  /** See [[buildRankGraph]]. Every walk is bit-identical to the one-shot
    * entry points (same edges, same loop). A weighted graph's edges carry
    * `w` as their third column.
    */
  final class RankGraph private[operators] (g: DriverCsr.Edges, weighted: Boolean) {

    // duplicate edges collapse: their weights sum, or every weight is 1
    private lazy val adj =
      if (weighted) DriverCsr.csr(g.nodeVals.length, g.src, g.dst, g.rows.map(_.getLong(2)),
        (a, b) => Math.addExact(a, b))
      else DriverCsr.csr(g.nodeVals.length, g.src, g.dst,
        Array.fill(g.src.length)(1L), (a, _) => a)

    /** Every rank entry: `iterations` rounds from the uniform start, from
      * `prior`'s (`node`, `rank`) snapshot (nodes it has never seen start
      * at the cold value — the round-R rank of a node that joined later IS
      * its cold value), or with the teleport restricted to `seeds`. Seeds
      * and snapshot nodes are cast to the node type on both sides of the
      * gate.
      */
    private[operators] def walk(iterations: Int, scale: Long, dampNum: Long, dampDen: Long,
                                seeds: Option[DataFrame], prior: Option[DataFrame]): DataFrame = {
      checkRounds(iterations, dampNum, dampDen)
      val p = prior.map(_.select(col("node").cast(g.nodeType).as("node"), col("rank")))
      if (g.count == 0) rankFrame(g, Array.empty)
      else if (g.onDriver) {
        val n = g.nodeVals.length
        val flag = Array.fill(n)(seeds.isEmpty)
        seeds.foreach(g.seedFrame(_).collect().map(r => g.idOf(r.get(0)))
          .filter(_ >= 0).foreach(flag(_) = true))
        val (b, s) = share(flag.count(identity), scale, dampNum, dampDen, seeds.isDefined)
        val base = flag.map(f => if (f) b else 0L)
        val init = flag.map(f => if (f) s else 0L)
        // the snapshot is node-sized, within the driver contract
        p.foreach(_.collect().foreach { r =>
          val i = g.idOf(r.get(0)); if (i >= 0) init(i) = r.getLong(1) })
        rankFrame(g, ranksLoop(adj, base, init, iterations, dampNum, dampDen))
      } else {
        val (nodes, nodesRdd) = DriverCsr.rebase(seeds.fold(g.nodes.withColumn("__s", lit(true)))(
          sd => g.nodes.join(g.seedFrame(sd).withColumn("__s", lit(true)), Seq("node"), "left")))
        val isSeed = col("__s").isNotNull
        val (b, s) = share(nodes.filter(isSeed).count(), scale, dampNum, dampDen,
          seeds.isDefined)
        val init = when(isSeed, lit(s)).otherwise(lit(0L))
        val start = p.fold(nodes.withColumn("rank", init))(pr => nodes
          .join(pr.withColumnRenamed("rank", "__pr"), Seq("node"), "left")
          .withColumn("rank", coalesce(col("__pr"), init)))
          .select(col("node"), when(isSeed, lit(b)).otherwise(lit(0L)).as("b"), col("rank"))
        try distributedLoop(g.cached, if (weighted) sum(col("w")) else lit(1L), start,
          iterations, dampNum, dampDen)
        finally nodesRdd.unpersist(blocking = false)
      }
    }

    /** [[PageRank.ranks]] over the prebuilt graph. */
    def ranks(iterations: Int = 10, scale: Long = 1000000000000L,
              dampNum: Long = 85, dampDen: Long = 100): DataFrame =
      walk(iterations, scale, dampNum, dampDen, None, None)

    /** [[PageRank.resumeRanks]] over the prebuilt graph. */
    def resumeFrom(prior: DataFrame, iterations: Int = 5,
                   scale: Long = 1000000000000L,
                   dampNum: Long = 85, dampDen: Long = 100): DataFrame =
      walk(iterations, scale, dampNum, dampDen, None, Some(prior))

    /** Release the cached edges ([[DriverCsr.Edges.close]]). */
    def close(): Unit = g.close()
  }

  /** WEIGHTED PageRank: a node's rank flows to its out-neighbors in
    * proportion to INTEGER edge weights (a co-engagement count, a link
    * multiplicity — the natural consumer of [[CoEngagement.project]]'s
    * weighted edges) instead of uniformly:
    *
    *   contribution(u→v) = ⌊rank(u) · w(u,v) / W(u)⌋,  W(u) = Σ_out w
    *
    * one truncating division PER EDGE (exact longs; a float weight
    * share would neither commute nor replay — quantize weights
    * upstream). Every input weight must be POSITIVE — a non-positive or
    * null weight fails loudly at execution (raise_error) instead of
    * being silently dropped, so duplicate (src, dst) edges collapse by
    * SUMMING their weights with no mixed-sign ambiguity. Same damped
    * base and fixed-round discipline as [[ranks]]; the oracle unrolls
    * every round with the same per-edge division. Overflow bound
    * (BOTH paths throw — ANSI on the distributed side,
    * multiplyExact/addExact in the driver loop): scale · max-weight
    * < 2⁶³.
    *
    * Scale shape mirrors [[ranks]]: within the [[DriverCsr]] gate the
    * same array loop over a weighted CSR (duplicate weights summed in
    * process), else the distributed loop (weighted edges cached
    * src-partitioned, rounds exchange only the rank frame).
    */
  def weightedRanks(edges: DataFrame, srcCol: String, dstCol: String,
                    weightCol: String, iterations: Int = 10,
                    scale: Long = 1000000000000L,
                    dampNum: Long = 85, dampDen: Long = 100,
                    maxEdges: Long = DriverCsr.MaxEdges): DataFrame =
    weighted(edges, srcCol, dstCol, weightCol, None, iterations, scale,
      dampNum, dampDen, maxEdges)

  /** WEIGHTED + PERSONALIZED PageRank — the two restart variants
    * COMPOSED: rank flows in proportion to integer edge weights
    * ([[weightedRanks]]' per-edge ⌊rank·w/W⌋) while teleport mass
    * returns only to `seeds` ([[personalizedRanks]]' seed-restricted
    * base/start). On a co-engagement graph ([[CoEngagement.project]])
    * this is the item-to-item recommendation walk: "what does the walk
    * reach from THESE items, weighted by how strongly items are engaged
    * together". Same exact-integer discipline as both parents — the
    * oracle unrolls every round with the per-edge division and the
    * seed-flag CASE; nodes unreachable from the seeds hold rank 0.
    * Both scale shapes: the [[DriverCsr]] array loop within the gate,
    * else the distributed loop carrying each node's base on its
    * zero-contribution row.
    */
  def weightedPersonalizedRanks(edges: DataFrame, srcCol: String,
                                dstCol: String, weightCol: String,
                                seeds: DataFrame, iterations: Int = 10,
                                scale: Long = 1000000000000L,
                                dampNum: Long = 85, dampDen: Long = 100,
                                maxEdges: Long = DriverCsr.MaxEdges): DataFrame =
    weighted(edges, srcCol, dstCol, weightCol, Some(seeds), iterations, scale,
      dampNum, dampDen, maxEdges)

  private def weighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, seeds: Option[DataFrame],
                       iterations: Int, scale: Long, dampNum: Long,
                       dampDen: Long, maxEdges: Long): DataFrame = {
    checkRounds(iterations, dampNum, dampDen)
    // Non-positive input weights FAIL LOUDLY (raise_error at execution)
    // rather than being silently dropped: a filter-before-collapse would
    // make mixed-sign duplicates (e.g. +5 and −5 for one edge) yield 5
    // where a caller netting correction events expects 0 — with every
    // input weight required positive, "duplicates collapse by SUMMING"
    // holds exactly and the collapsed weight is always positive.
    val wChecked = when(col("w") > 0, col("w")).otherwise(
      raise_error(concat(lit("weightedRanks: weight must be > 0, got "),
        coalesce(col("w").cast("string"), lit("NULL")))).cast("long"))
    // raw projection with the per-row positivity check, which the gate's
    // first job runs; each side collapses duplicates itself
    val eRaw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"), col("dst"), wChecked.as("w"))
    val g = DriverCsr.edges("PageRank.weighted", eRaw, maxEdges)
    try new RankGraph(g, weighted = true).walk(iterations, scale, dampNum, dampDen, seeds, None)
    finally g.close()
  }

  /** Persist a rank vector as a two-column managed table — the
    * saveModel/serving discipline applied to graph scores: compute
    * once, snapshot, and later sessions either read the table directly
    * or [[resumeRanks]] from it instead of restarting cold.
    */
  def saveRanks(spark: SparkSession, ranks: DataFrame, table: String): Unit = {
    graft.sources.Sinks.dropTableAndStaleLocation(spark, table)
    ranks.select(col("node"), col("rank"))
      .write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** RESUME the damped iteration from a prior snapshot: run `iterations`
    * MORE rounds over the (possibly grown) edge list, starting each node
    * at its snapshot rank — nodes the snapshot never saw start at the
    * cold value scale/n. The iteration is a pure function of
    * (graph, start vector), so on an unchanged graph
    * resume(snapshot of round R, k) ≡ a cold run of R+k rounds
    * BIT-IDENTICALLY — which is the q194 gate (q93's oracle at R+k
    * rounds, verbatim arithmetic). On a grown graph it is the
    * incremental-refresh shape: the walk re-converges from the old
    * scores in far fewer rounds than a cold start.
    */
  def resumeRanks(edges: DataFrame, prior: DataFrame, iterations: Int = 5,
                  scale: Long = 1000000000000L,
                  dampNum: Long = 85, dampDen: Long = 100,
                  maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    val g = buildRankGraph(edges, maxEdges)
    try g.resumeFrom(prior, iterations, scale, dampNum, dampDen)
    finally g.close()
  }

  /** PERSONALIZED PageRank: teleport mass returns only to `seeds` — the
    * random-walk-with-restart relatedness score behind "more like these"
    * recommendation and seed-expansion curation (find everything the
    * walk reaches from a trusted set). Same exact-integer discipline as
    * [[ranks]]: base(v) = ⌊⌊scale·(den−num)/den⌋ / |S|⌋ for seeds and 0
    * elsewhere, start = ⌊scale/|S|⌋ on seeds. Within the [[DriverCsr]]
    * gate it is [[ranks]]' array loop with those base/start vectors,
    * above it [[ranks]]' distributed loop from the same start. Seeds are
    * cast to the node type first (a "1" seeds node 1 of a long-keyed
    * graph on both sides); seeds outside the graph are ignored, and at
    * least one must be present unless the graph is empty. Duplicate
    * edges collapse. Returns (node, rank) after exactly `iterations`
    * rounds — nodes unreachable from the seeds hold rank 0, which is the
    * point (the q93 global walk ranks them anyway).
    */
  def personalizedRanks(edges: DataFrame, seeds: DataFrame,
                        iterations: Int = 10, scale: Long = 1000000000000L,
                        dampNum: Long = 85, dampDen: Long = 100,
                        maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    val g = buildRankGraph(edges, maxEdges)
    try g.walk(iterations, scale, dampNum, dampDen, Some(seeds), None)
    finally g.close()
  }
}
