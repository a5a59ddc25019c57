package graft.operators

import graft.functions.IntOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
  * Above it ranks stay distributed, rebased each round onto a
  * cached-RDD leaf (the Closure pattern — carrying the loop's lineage
  * squares plan statistics until planning hangs), and the sort-merge
  * join reuses the cached `src` partitioning, so each round shuffles
  * only the node-sized rank frame — never the edges.
  *
  * Dangling nodes (no out-edges) leak their damped mass rather than
  * redistributing it — deterministic and documented; feed a symmetrized
  * edge list if total mass must be conserved. Caller releases storage
  * after its action ([[graft.Storage.releaseAll]]).
  */
object PageRank {

  /** One damped-update round of the DISTRIBUTED-state path; separated so
    * PlanSpec can pin the plan shape.
    */
  private[graft] def step(nodes: DataFrame, edgesDeg: DataFrame, ranks: DataFrame,
                          base: Long, dampNum: Long, dampDen: Long,
                          broadcastRanks: Boolean): DataFrame = {
    val rankSide = if (broadcastRanks) broadcast(ranks) else ranks
    val contribs = edgesDeg
      .join(rankSide, edgesDeg("src") === rankSide("node"))
      .select(col("dst"),
        IntOps.intDiv(col("rank"), col("outdeg")).as("c"))
    // Every node contributes an explicit zero, so the dst-sum alone yields
    // one row per node (in_mass = 0 for nodes with no in-edges) and no
    // second per-round join is needed. Adding zeros to an exact long sum
    // changes nothing — bit-identity with the two-join formulation holds.
    contribs
      .unionByName(nodes.select(col("node").as("dst"), lit(0L).as("c")))
      .groupBy(col("dst")).agg(sum(col("c")).as("in_mass"))
      .select(col("dst").as("node"),
        (lit(base) + IntOps.intDiv(col("in_mass") * dampNum, lit(dampDen)))
          .as("rank"))
  }

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

  /** Per-node base and start vectors of the driver loops: uniform
    * teleport, or restricted to `seeds` (personalized).
    */
  private def baseAndStart(nodeVals: Array[Any], scale: Long, dampNum: Long,
                           dampDen: Long,
                           seeds: Option[Set[Any]]): (Array[Long], Array[Long]) = {
    val n = nodeVals.length
    seeds match {
      case None =>
        val b = scale * (dampDen - dampNum) / dampDen / n
        (Array.fill(n)(b), Array.fill(n)(scale / n))
      case Some(ss) =>
        val flag = nodeVals.map(ss.contains)
        val k = flag.count(identity)
        require(k > 0, "no seed appears in the graph")
        val b = scale * (dampDen - dampNum) / dampDen / k
        require(b > 0 && scale / k > 0, s"scale $scale too small for $k seeds")
        (Array.tabulate(n)(j => if (flag(j)) b else 0L),
          Array.tabulate(n)(j => if (flag(j)) scale / k else 0L))
    }
  }

  private def rankFrame(g: DriverCsr.Edges, rank: Array[Long]): DataFrame =
    g.nodeFrame(Iterator.tabulate(rank.length)(i => Row(g.nodeVals(i), rank(i))),
      StructField("rank", LongType, nullable = false))

  /** The seed set IS the query — driver-collected under the bounded
    * contract regardless of path (probeCells' shape).
    */
  private def seedValues(seeds: DataFrame): Set[Any] = {
    val v = seeds.select(col(seeds.columns.head)).distinct().collect().map(_.get(0)).toSet
    require(v.nonEmpty, "seeds must be non-empty")
    v
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
        .filter(col("src").isNotNull && col("dst").isNotNull), maxEdges))

  /** See [[buildRankGraph]]. Every walk is bit-identical to the one-shot
    * entry points (same edges, same loop).
    */
  final class RankGraph private[operators] (g: DriverCsr.Edges) {

    // duplicate edges collapse; every weight is 1
    private lazy val adj = DriverCsr.csr(g.nodeVals.length, g.src, g.dst,
      Array.fill(g.src.length)(1L), (a, _) => a)

    private def empty: DataFrame = rankFrame(g, Array.empty)

    private def walk(iterations: Int, scale: Long, dampNum: Long, dampDen: Long,
                     seeds: Option[Set[Any]], prior: Map[Any, Long]): DataFrame = {
      val (base, start) = baseAndStart(g.nodeVals, scale, dampNum, dampDen, seeds)
      // warm start: nodes the snapshot has never seen start at the
      // cold-start value (the round-R rank of a node that joined later
      // IS its cold value)
      val init = Array.tabulate(start.length)(j => prior.getOrElse(g.nodeVals(j), start(j)))
      rankFrame(g, ranksLoop(adj, base, init, iterations, dampNum, dampDen))
    }

    /** [[PageRank.ranks]] over the prebuilt graph. */
    def ranks(iterations: Int = 10, scale: Long = 1000000000000L,
              dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
      checkRounds(iterations, dampNum, dampDen)
      if (g.count == 0) empty
      else if (g.onDriver) walk(iterations, scale, dampNum, dampDen, None, Map.empty)
      else ranksDistributedState(g.cached, g.nodes, iterations, scale, dampNum, dampDen)
    }

    /** [[PageRank.resumeRanks]] over the prebuilt graph. */
    def resumeFrom(prior: DataFrame, iterations: Int = 5,
                   scale: Long = 1000000000000L,
                   dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
      checkRounds(iterations, dampNum, dampDen)
      val p = prior.select(col("node"), col("rank"))
      if (g.count == 0) empty
      else if (g.onDriver)
        // the snapshot is node-sized, within the driver contract
        walk(iterations, scale, dampNum, dampDen, None,
          p.collect().map(r => (r.get(0), r.getLong(1))).toMap)
      else ranksDistributedState(g.cached, g.nodes, iterations, scale, dampNum, dampDen,
        prior = Some(p))
    }

    /** [[PageRank.personalizedRanks]] over the prebuilt graph. */
    private[operators] def personalized(seeds: DataFrame, iterations: Int,
                                        scale: Long, dampNum: Long,
                                        dampDen: Long): DataFrame = {
      checkRounds(iterations, dampNum, dampDen)
      val seedVals = seedValues(seeds)
      if (g.onDriver)
        // same loop as [[ranks]] — only base/start differ
        walk(iterations, scale, dampNum, dampDen, Some(seedVals), Map.empty)
      else personalizedDistributedState(g.cached, g.nodes,
        seeds.select(col(seeds.columns.head).as("node")).distinct(),
        iterations, scale, dampNum, dampDen)
    }

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
    val seedVals = seeds.map(seedValues)
    val g = DriverCsr.edges("PageRank.weighted", eRaw, maxEdges)
    try {
      if (g.count == 0) rankFrame(g, Array.empty)
      else if (g.onDriver) {
        // duplicate edges collapse by SUMMING their weights, exactly
        val adj = DriverCsr.csr(g.nodeVals.length, g.src, g.dst, g.rows.map(_.getLong(2)),
          (a, b) => Math.addExact(a, b))
        val (base, start) = baseAndStart(g.nodeVals, scale, dampNum, dampDen, seedVals)
        rankFrame(g, ranksLoop(adj, base, start, iterations, dampNum, dampDen))
      } else weightedDistributedState(
        g.cached.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")),
        g.nodes, iterations, scale, dampNum, dampDen, seedVals)
    } finally g.close()
  }

  private def weightedDistributedState(e: DataFrame, nodes0: DataFrame,
                                       iterations: Int, scale: Long,
                                       dampNum: Long, dampDen: Long,
                                       seeds: Option[Set[Any]]): DataFrame = {
    val spark = e.sparkSession
    val edgesW = e
      .repartition(col("src"))
      .withColumn("wsum", sum(col("w")).over(Window.partitionBy(col("src"))))
      .persist()
    // per-node base: uniform, or seed-restricted (the personalizedRanks
    // shape — each node's base rides its zero-contribution row, so no
    // extra per-round join appears)
    val (nodesBase0, startExpr) = seeds match {
      case None =>
        val n = nodes0.count()
        (nodes0.withColumn("b",
          lit(scale * (dampDen - dampNum) / dampDen / n)),
          lit(scale / n))
      case Some(ss) =>
        val isSeed = col("node").isin(ss.toSeq: _*)
        val k = nodes0.filter(isSeed).count()
        require(k > 0, "no seed appears in the graph")
        val b = scale * (dampDen - dampNum) / dampDen / k
        require(b > 0 && scale / k > 0, s"scale $scale too small for $k seeds")
        (nodes0.withColumn("b", when(isSeed, lit(b)).otherwise(lit(0L))),
          when(col("b") > 0, lit(scale / k)).otherwise(lit(0L)))
    }
    val nbRdd = nodesBase0.rdd
    nbRdd.cache()
    val nodesBase = spark.createDataFrame(nbRdd, nodesBase0.schema)
    var ranks = nodesBase.select(col("node"), startExpr.as("rank"))
    var prev: Option[org.apache.spark.rdd.RDD[Row]] = None
    var i = 0
    while (i < iterations) {
      val next = edgesW
        .join(ranks, edgesW("src") === ranks("node"))
        .select(col("dst"),
          IntOps.intDiv(col("rank") * col("w"), col("wsum")).as("c"),
          lit(0L).as("b"))
        .unionByName(nodesBase.select(col("node").as("dst"),
          lit(0L).as("c"), col("b")))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_mass"), sum(col("b")).as("bb"))
        .select(col("dst").as("node"),
          (col("bb") + IntOps.intDiv(col("in_mass") * dampNum, lit(dampDen)))
            .as("rank"))
      val rdd = next.rdd
      rdd.cache()
      rdd.count()
      prev.foreach(_.unpersist(blocking = false))
      prev = Some(rdd)
      ranks = spark.createDataFrame(rdd, next.schema)
      i += 1
    }
    ranks
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
    * gate it is [[ranks]]' array loop with those base/start vectors;
    * above it every round is one rank-frame shuffle against the cached
    * src-partitioned edges, and the per-round node frame carries its
    * base along, so no extra join appears. Seeds outside
    * the graph are ignored; at least one must be present. Duplicate
    * edges collapse. Returns (node, rank) after exactly `iterations`
    * rounds — nodes unreachable from the seeds hold rank 0, which is the
    * point (the q93 global walk ranks them anyway).
    */
  def personalizedRanks(edges: DataFrame, seeds: DataFrame,
                        iterations: Int = 10, scale: Long = 1000000000000L,
                        dampNum: Long = 85, dampDen: Long = 100,
                        maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    val g = buildRankGraph(edges, maxEdges)
    try g.personalized(seeds, iterations, scale, dampNum, dampDen)
    finally g.close()
  }

  /** Big-graph fallback of [[personalizedRanks]]. */
  private def personalizedDistributedState(e: DataFrame, nodesPlain: DataFrame,
                                           seedSet: DataFrame, iterations: Int,
                                           scale: Long, dampNum: Long,
                                           dampDen: Long): DataFrame = {
    val edgesDeg = e
      .repartition(col("src"))
      .groupBy(col("src"), col("dst")).agg(lit(1))
      .select(col("src"), col("dst"))
      .withColumn("outdeg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .persist()
    val nodes0 = nodesPlain
      .join(seedSet.withColumn("__s", lit(1L)), Seq("node"), "left")
    val (flags, flagsRdd) = DriverCsr.rebase(nodes0)
    val nSeeds = flags.filter(col("__s").isNotNull).count()
    require(nSeeds > 0, "no seed appears in the graph")
    val base = scale * (dampDen - dampNum) / dampDen / nSeeds
    require(base > 0 && scale / nSeeds > 0,
      s"scale $scale too small for $nSeeds seeds")
    val (nodesBase, nbRdd) = DriverCsr.rebase(flags.select(col("node"),
      when(col("__s").isNotNull, lit(base)).otherwise(lit(0L)).as("b")))
    nodesBase.count()
    flagsRdd.unpersist(blocking = false)
    var (ranks, ranksRdd) = DriverCsr.rebase(nodesBase.select(col("node"),
      when(col("b") > 0, lit(scale / nSeeds)).otherwise(lit(0L)).as("rank")))
    var i = 0
    while (i < iterations) {
      val contribs = edgesDeg
        .join(ranks, edgesDeg("src") === ranks("node"))
        .select(col("dst"), IntOps.intDiv(col("rank"), col("outdeg")).as("c"),
          lit(0L).as("b"))
      // one zero-contribution row per node CARRIES the node's base, so
      // the per-round aggregate needs no second join (sum(b) = the base,
      // each node's b appears exactly once)
      val next = contribs
        .unionByName(nodesBase.select(col("node").as("dst"),
          lit(0L).as("c"), col("b")))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_mass"), sum(col("b")).as("bb"))
        .select(col("dst").as("node"),
          (col("bb") + IntOps.intDiv(col("in_mass") * dampNum, lit(dampDen)))
            .as("rank"))
      val (r2, rr2) = DriverCsr.rebase(next)
      r2.count()
      ranksRdd.unpersist(blocking = false)
      ranks = r2; ranksRdd = rr2
      i += 1
    }
    nbRdd.unpersist(blocking = false)
    ranks
  }

  /** Big-graph fallback: distributed rank frame, rebased per round onto a
    * cached-RDD leaf; the join reuses the cached edge partitioning so only
    * the rank frame shuffles.
    */
  private def ranksDistributedState(e: DataFrame, nodes0: DataFrame,
                                    iterations: Int, scale: Long,
                                    dampNum: Long, dampDen: Long,
                                    prior: Option[DataFrame] = None): DataFrame = {
    // ONE edge shuffle: partition by src, collapse duplicates (satisfied
    // by the src partitioning) and count out-degrees with a sort-only
    // window over the same partitioning; cached still partitioned by the
    // per-round join key.
    val edgesDeg = e
      .repartition(col("src"))
      .groupBy(col("src"), col("dst")).agg(lit(1))
      .select(col("src"), col("dst"))
      .withColumn("outdeg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .persist()
    val spark = e.sparkSession
    val nRdd = nodes0.rdd
    nRdd.cache()
    val n = nRdd.count()
    val nodes = spark.createDataFrame(nRdd, nodes0.schema)
    val base = scale * (dampDen - dampNum) / dampDen / n
    var ranks = prior match {
      case None => nodes.withColumn("rank", lit(scale / n))
      case Some(p) => nodes
        .join(p.select(col("node"), col("rank").as("__pr")), Seq("node"), "left")
        .select(col("node"),
          coalesce(col("__pr"), lit(scale / n)).as("rank"))
    }
    var prev: Option[org.apache.spark.rdd.RDD[Row]] = None
    var i = 0
    while (i < iterations) {
      val next = step(nodes, edgesDeg, ranks, base, dampNum, dampDen,
        broadcastRanks = false)
      val rdd = next.rdd
      rdd.cache()
      rdd.count()
      prev.foreach(_.unpersist(blocking = false))
      prev = Some(rdd)
      ranks = spark.createDataFrame(rdd, next.schema)
      i += 1
    }
    ranks
  }
}
