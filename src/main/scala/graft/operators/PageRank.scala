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
  * Scale shape. Two layouts, chosen by node count — the MLlib shape
  * (data-sized state distributed, model-sized state on the driver):
  *
  *   - `n <= broadcastMaxNodes` (the common case): the [[DriverCsr]]
  *     layout. Node keys are dictionary-compressed to dense int ids once
  *     at setup (profiling the string-keyed loop showed per-round
  *     columnar decode + string hashing of the edge cache was 90% of
  *     the round cost), and the in-adjacency is cached as int arrays by
  *     the one shuffle that also collapses duplicate edges. Each round
  *     broadcasts the node-sized contribution vector and sums it in ONE
  *     map-only job — nothing data-sized ever on the driver.
  *   - larger graphs: ranks stay distributed, rebased each round onto a
  *     cached-RDD leaf (the Closure pattern — carrying the loop's
  *     lineage squares plan statistics until planning hangs), and the
  *     sort-merge join reuses the cached `src` partitioning, so each
  *     round shuffles only the node-sized rank frame — never the edges.
  *
  * (The round-7/8 layout reshuffled the full string-keyed edge list
  * every round — at 100 TB that per-iteration reshuffle is THE
  * scale-killer this layout removes.)
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

  /** The driver-path adjacency build (did, sids) — separated so PlanSpec
    * can pin its shape: two BroadcastHashJoins for the id mapping, ONE
    * Exchange (the repartition by did) feeding both the duplicate
    * collapse and the in-neighbor gather, no SortMergeJoin.
    */
  private[graft] def adjacencyPlan(e: DataFrame, srcIds: DataFrame,
                                   dstIds: DataFrame): DataFrame = e
    .join(broadcast(srcIds), e("src") === srcIds("node"))
    .join(broadcast(dstIds), e("dst") === dstIds("node2"))
    .select(col("id").as("sid"), col("id2").as("did"))
    .repartition(col("did"))
    .groupBy(col("did"), col("sid")).agg(lit(1))
    .groupBy(col("did")).agg(collect_list(col("sid")).as("sids"))

  /** @param edges two-column frame (`src`, `dst`) of directed edges;
    *        duplicates are collapsed and an edge with a null endpoint is
    *        dropped
    * @param broadcastMaxNodes graphs up to this many nodes keep the
    *        node-sized rank state on the driver ([[DriverCsr]] states the
    *        memory contract). Larger graphs keep ranks distributed and
    *        shuffle only the rank frame against the cached src-partitioned
    *        edges.
    * @return (`node`, `rank`) — fixed-point ranks after exactly
    *         `iterations` rounds from the uniform start
    */
  def ranks(edges: DataFrame, iterations: Int = 10,
            scale: Long = 1000000000000L,
            dampNum: Long = 85, dampDen: Long = 100,
            broadcastMaxNodes: Long = DriverCsr.MaxNodes): DataFrame = {
    val g = buildRankGraph(edges, broadcastMaxNodes)
    try g.ranks(iterations, scale, dampNum, dampDen) finally g.close()
  }

  private def checkRounds(iterations: Int, dampNum: Long, dampDen: Long): Unit = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampNum > 0 && dampNum < dampDen, "need 0 < dampNum < dampDen")
  }

  /** The driver path's rounds over a [[DriverCsr]] graph: broadcast the
    * n-long contribution vector (c_u = rank_u div outdeg_u), one MAP-ONLY
    * job sums it over each node's in-neighbor array, collect n rows. No
    * per-round shuffle, no per-round hash aggregation (profiling showed
    * Spark's hash-agg machinery at ~0.4 µs/edge was the round floor once
    * the edge scan itself was int-compressed).
    */
  private def ranksCsrLoop(g: DriverCsr.Graph[(Int, Array[Int])], outdeg: Array[Long],
                           iterations: Int, scale: Long,
                           dampNum: Long, dampDen: Long,
                           seeds: Option[Set[Any]] = None,
                           initFrom: Option[scala.collection.Map[Any, Long]] = None): DataFrame = {
    val spark = g.nodes.sparkSession
    val (nodeVals, adj, n) = (g.nodeVals, g.adj, g.n.toInt)

    // uniform teleport (classic) or seed-restricted (personalized) —
    // same loop, different base/start vectors
    val (baseArr, init) = baseAndStart(nodeVals, scale, dampNum, dampDen, seeds)
    // warm start: resume from a prior snapshot; nodes the snapshot has
    // never seen start at the cold-start value (the round-R rank of a
    // node that joined later IS its cold value)
    var rank = initFrom.fold(init)(m =>
      Array.tabulate(n)(j => m.getOrElse(nodeVals(j), init(j))))
    var i = 0
    while (i < iterations) {
      // Driver half: c_u = rank_u div outdeg_u — O(n) longs, bounded by
      // broadcastMaxNodes (floor division; inputs non-negative, so it
      // matches the SQL `div` of the distributed path and the oracle).
      val c = new Array[Long](n)
      var u = 0
      while (u < n) {
        if (outdeg(u) > 0) c(u) = rank(u) / outdeg(u)
        u += 1
      }
      val bc = spark.sparkContext.broadcast(c)
      // Overflow discipline: the distributed path's long sum and ANSI
      // multiply THROW on overflow — the driver loop must fail the same
      // way, never wrap silently into wrong ranks. The proof is HOISTED
      // out of the per-edge loop (a per-edge addExact measured ~8% on
      // q93): every c(u) >= 0, so any partial in-neighbor sum is bounded
      // by totalC = Σ c(u); if totalC and totalC·dampNum both fit in a
      // long (checked ONCE per round, on the driver), no per-edge add and
      // no downstream multiply can overflow and the raw loop is exact.
      // Only when the round-level bound itself overflows do we run the
      // per-edge checked loop, which throws exactly where the distributed
      // path would.
      val rawSafe = try {
        var t = 0L; var v = 0
        while (v < n) { t = Math.addExact(t, c(v)); v += 1 }
        Math.multiplyExact(t, dampNum); true
      } catch { case _: ArithmeticException => false }
      val sums = adj.map { case (did, sids) =>
        val cv = bc.value
        var s = 0L
        var j = 0
        if (rawSafe)
          while (j < sids.length) { s += cv(sids(j)); j += 1 }
        else
          while (j < sids.length) { s = Math.addExact(s, cv(sids(j))); j += 1 }
        (did, s)
      }.collect()
      bc.destroy()
      rank = damped(baseArr, sums, dampNum, dampDen)
      i += 1
    }
    rankFrame(g, rank)
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

  /** next(v) = base(v) + ⌊in-mass(v)·dampNum/dampDen⌋, checked. */
  private def damped(baseArr: Array[Long], sums: Array[(Int, Long)],
                     dampNum: Long, dampDen: Long): Array[Long] = {
    val next = baseArr.clone()
    sums.foreach { case (did, s) =>
      next(did) = Math.addExact(baseArr(did),
        Math.multiplyExact(s, dampNum) / dampDen) }
    next
  }

  private def rankFrame(g: DriverCsr.Graph[_], rank: Array[Long]): DataFrame =
    g.frame(Iterator.tabulate(rank.length)(i => Row(g.nodeVals(i), rank(i))),
      StructField("rank", LongType, nullable = false))

  /** Shared-build handle for the snapshot+resume gates: the [[DriverCsr]]
    * graph (dictionary + cached CSR in-adjacency) and the out-degree
    * vector built ONCE; cold and resumed walks run over it (the q194 gate
    * runs two walks on one unchanged graph). Graphs above
    * `broadcastMaxNodes` get a fallback handle whose walks run the
    * distributed loop per call, unchanged.
    */
  def buildRankGraph(edges: DataFrame,
                     broadcastMaxNodes: Long = DriverCsr.MaxNodes): RankGraph = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    new RankGraph(e, DriverCsr.build("PageRank.buildRankGraph", DriverCsr.nodesOf(e, "src", "dst"),
      broadcastMaxNodes) { (srcIds, dstIds) =>
      // ONE int shuffle builds both the dedup and the adjacency (see
      // adjacencyPlan); long sums are exact and commutative, so the
      // gather order is free
      adjacencyPlan(e, srcIds, dstIds)
        .rdd.map(r => (r.getInt(0), r.getSeq[Int](1).toArray))
    })
  }

  /** See [[buildRankGraph]]. Every walk is bit-identical to the one-shot
    * entry points (same dictionary, same adjacency, same loop).
    */
  final class RankGraph private[operators] (
      e: DataFrame, g: DriverCsr.Graph[(Int, Array[Int])]) {

    // Out-degrees from the deduped adjacency itself (sid occurrences
    // across all in-neighbor arrays) — one pass over the cached CSR, which
    // also materializes it; no second shuffle.
    private val outdeg: Array[Long] = if (!g.onDriver) null else {
      val n = g.n.toInt
      g.adj.treeAggregate(new Array[Long](n))(
        seqOp = { (acc, kv) =>
          val sids = kv._2
          var j = 0
          while (j < sids.length) { acc(sids(j)) += 1; j += 1 }
          acc
        },
        combOp = { (a, b) =>
          var j = 0
          while (j < n) { a(j) += b(j); j += 1 }
          a
        })
    }

    private def empty: DataFrame = g.nodes.withColumn("rank", lit(0L))

    /** [[PageRank.ranks]] over the prebuilt graph. */
    def ranks(iterations: Int = 10, scale: Long = 1000000000000L,
              dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
      checkRounds(iterations, dampNum, dampDen)
      if (g.n == 0) empty
      else if (g.onDriver)
        ranksCsrLoop(g, outdeg, iterations, scale, dampNum, dampDen)
      else ranksDistributedState(e.sparkSession, e, g.nodes, g.n, iterations,
        scale, dampNum, dampDen)
    }

    /** [[PageRank.resumeRanks]] over the prebuilt graph. */
    def resumeFrom(prior: DataFrame, iterations: Int = 5,
                   scale: Long = 1000000000000L,
                   dampNum: Long = 85, dampDen: Long = 100): DataFrame = {
      checkRounds(iterations, dampNum, dampDen)
      val p = prior.select(col("node"), col("rank"))
      if (g.n == 0) empty
      else if (g.onDriver) {
        // the snapshot is node-sized, within the driver contract
        val m: Map[Any, Long] =
          p.collect().map(r => (r.get(0), r.getLong(1))).toMap
        ranksCsrLoop(g, outdeg, iterations, scale, dampNum, dampDen,
          initFrom = Some(m))
      } else ranksDistributedState(e.sparkSession, e, g.nodes, g.n,
        iterations, scale, dampNum, dampDen, prior = Some(p))
    }

    /** [[PageRank.personalizedRanks]] over the prebuilt graph. */
    private[operators] def personalized(seeds: DataFrame, iterations: Int,
                                        scale: Long, dampNum: Long,
                                        dampDen: Long): DataFrame = {
      checkRounds(iterations, dampNum, dampDen)
      val seedSet = seeds.select(col(seeds.columns.head).as("node")).distinct()
      // the seed set IS the query — driver-collected under the bounded
      // contract regardless of path (probeCells' shape)
      val seedVals: Set[Any] = seedSet.collect().map(_.get(0)).toSet
      require(seedVals.nonEmpty, "seeds must be non-empty")
      if (g.onDriver)
        // same dictionary-CSR loop as [[ranks]] — only base/start differ
        ranksCsrLoop(g, outdeg, iterations, scale, dampNum, dampDen,
          seeds = Some(seedVals))
      else personalizedDistributedState(e.sparkSession, e, g.nodes, seedSet,
        iterations, scale, dampNum, dampDen)
    }

    /** Release the graph's caches ([[DriverCsr.Graph.close]]). */
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
    * Scale shape mirrors [[ranks]]: a [[DriverCsr]] loop when the node
    * count fits `broadcastMaxNodes` (the in-adjacency carries a parallel
    * weight array; W rides one treeAggregate), else the distributed loop
    * (weighted edges cached src-partitioned, rounds exchange only the
    * rank frame).
    */
  def weightedRanks(edges: DataFrame, srcCol: String, dstCol: String,
                    weightCol: String, iterations: Int = 10,
                    scale: Long = 1000000000000L,
                    dampNum: Long = 85, dampDen: Long = 100,
                    broadcastMaxNodes: Long = DriverCsr.MaxNodes): DataFrame =
    weighted(edges, srcCol, dstCol, weightCol, None, iterations, scale,
      dampNum, dampDen, broadcastMaxNodes)

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
    * Both scale shapes: the [[DriverCsr]] loop when the node count fits
    * `broadcastMaxNodes`, else the distributed loop carrying each node's
    * base on its zero-contribution row.
    */
  def weightedPersonalizedRanks(edges: DataFrame, srcCol: String,
                                dstCol: String, weightCol: String,
                                seeds: DataFrame, iterations: Int = 10,
                                scale: Long = 1000000000000L,
                                dampNum: Long = 85, dampDen: Long = 100,
                                broadcastMaxNodes: Long = DriverCsr.MaxNodes): DataFrame =
    weighted(edges, srcCol, dstCol, weightCol, Some(seeds), iterations, scale,
      dampNum, dampDen, broadcastMaxNodes)

  private def weighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, seeds: Option[DataFrame],
                       iterations: Int, scale: Long, dampNum: Long,
                       dampDen: Long, broadcastMaxNodes: Long): DataFrame = {
    checkRounds(iterations, dampNum, dampDen)
    val spark = edges.sparkSession
    // Non-positive input weights FAIL LOUDLY (raise_error at execution)
    // rather than being silently dropped: a filter-before-collapse would
    // make mixed-sign duplicates (e.g. +5 and −5 for one edge) yield 5
    // where a caller netting correction events expects 0 — with every
    // input weight required positive, "duplicates collapse by SUMMING"
    // holds exactly and the collapsed weight is always positive.
    val wChecked = when(col("w") > 0, col("w")).otherwise(
      raise_error(concat(lit("weightedRanks: weight must be > 0, got "),
        coalesce(col("w").cast("string"), lit("NULL")))).cast("long"))
    // raw projection with the per-row positivity check; the driver path's
    // duplicate-edge SUM collapse rides the adjacency's int exchange, the
    // distributed path collapses upstream
    val eRaw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src"), col("dst"), wChecked.as("w"))
    // the seed set IS the query — driver-collected under the bounded
    // contract regardless of path (personalizedRanks' shape)
    val seedVals: Option[Set[Any]] = seeds.map { s =>
      val v = s.select(col(s.columns.head).as("node")).distinct()
        .collect().map(_.get(0)).toSet
      require(v.nonEmpty, "seeds must be non-empty")
      v
    }
    val g = DriverCsr.build("PageRank.weighted", DriverCsr.nodesOf(eRaw, "src", "dst"),
        broadcastMaxNodes) { (srcIds, dstIds) =>
      // weighted in-adjacency: (did, sids, ws) — the duplicate-edge SUM
      // collapse rides this int exchange (the (did, sid) aggregate's
      // distribution is satisfied by the did partitioning, so no second
      // exchange appears)
      eRaw
        .join(broadcast(srcIds), eRaw("src") === srcIds("node"))
        .join(broadcast(dstIds), eRaw("dst") === dstIds("node2"))
        .select(col("id").as("sid"), col("id2").as("did"), col("w"))
        .repartition(col("did"))
        .groupBy(col("did"), col("sid")).agg(sum(col("w")).as("w"))
        .groupBy(col("did"))
        .agg(collect_list(col("sid")).as("sids"), collect_list(col("w")).as("ws"))
        .rdd.map(r => (r.getInt(0), r.getSeq[Int](1).toArray,
          r.getSeq[Long](2).toArray))
    }
    try {
      if (g.n == 0) g.nodes.withColumn("rank", lit(0L))
      else if (g.onDriver)
        weightedCsrLoop(g, iterations, scale, dampNum, dampDen, seedVals)
      else weightedDistributedState(spark,
        eRaw.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")),
        g.nodes, g.n, iterations, scale, dampNum, dampDen, seedVals)
    } finally g.close()
  }

  private def weightedCsrLoop(g: DriverCsr.Graph[(Int, Array[Int], Array[Long])],
                              iterations: Int, scale: Long, dampNum: Long,
                              dampDen: Long,
                              seeds: Option[Set[Any]]): DataFrame = {
    val spark = g.nodes.sparkSession
    val (adj, n) = (g.adj, g.n.toInt)
    // out-weight totals W(u) from the cached adjacency — one pass
    val wsum = adj.treeAggregate(new Array[Long](n))(
      seqOp = { (acc, kv) =>
        val (sids, ws) = (kv._2, kv._3)
        var j = 0
        while (j < sids.length) {
          acc(sids(j)) = Math.addExact(acc(sids(j)), ws(j)); j += 1 }
        acc
      },
      combOp = { (x, y) =>
        var j = 0
        while (j < n) { x(j) = Math.addExact(x(j), y(j)); j += 1 }
        x
      })
    val (baseArr, init) = baseAndStart(g.nodeVals, scale, dampNum, dampDen, seeds)
    var rank = init
    // per-round raw-loop proof needs the largest out-weight total once:
    // every edge weight w <= wsum(src), so rank·w <= maxRank·maxWsum
    val maxWsum = {
      var mx = 0L; var v = 0
      while (v < n) { if (wsum(v) > mx) mx = wsum(v); v += 1 }
      mx
    }
    var i = 0
    while (i < iterations) {
      val bc = spark.sparkContext.broadcast(rank)
      // Overflow discipline: the distributed path's IntegralDivide over
      // rank·w throws under ANSI when rank·max-weight crosses 2⁶³ — the
      // driver loop must fail the same way, never wrap into silently
      // wrong ranks. As in ranksCsrLoop, the proof is HOISTED out of
      // the per-edge loop: ranks are non-negative, each term
      // ⌊rank·w/wsum⌋ <= rank (w <= wsum), so partial sums are bounded by
      // totalRank = Σ rank, and each multiply by maxRank·maxWsum — if
      // totalRank, totalRank·dampNum, and maxRank·maxWsum all fit
      // (checked ONCE per round), the raw loop cannot overflow and is
      // bit-identical. The maxRank·maxWsum bound is conservative (it can
      // fail where no actual edge overflows); failing it only routes the
      // round through the per-edge checked loop, which throws exactly
      // where the distributed path would.
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
      val sums = adj.map { case (did, sids, ws) =>
        val rv = bc.value
        var s = 0L
        var j = 0
        if (rawSafe)
          while (j < sids.length) {
            s += rv(sids(j)) * ws(j) / wsum(sids(j))
            j += 1
          }
        else
          while (j < sids.length) {
            s = Math.addExact(s,
              Math.multiplyExact(rv(sids(j)), ws(j)) / wsum(sids(j)))
            j += 1
          }
        (did, s)
      }.collect()
      bc.destroy()
      rank = damped(baseArr, sums, dampNum, dampDen)
      i += 1
    }
    rankFrame(g, rank)
  }
  private def weightedDistributedState(spark: SparkSession, e: DataFrame,
                                       nodes0: DataFrame, n: Long,
                                       iterations: Int, scale: Long,
                                       dampNum: Long, dampDen: Long,
                                       seeds: Option[Set[Any]] = None): DataFrame = {
    val edgesW = e
      .repartition(col("src"))
      .withColumn("wsum", sum(col("w")).over(Window.partitionBy(col("src"))))
      .persist()
    // per-node base: uniform, or seed-restricted (the personalizedRanks
    // shape — each node's base rides its zero-contribution row, so no
    // extra per-round join appears)
    val (nodesBase0, startExpr) = seeds match {
      case None =>
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
                  broadcastMaxNodes: Long = DriverCsr.MaxNodes): DataFrame = {
    val g = buildRankGraph(edges, broadcastMaxNodes)
    try g.resumeFrom(prior, iterations, scale, dampNum, dampDen)
    finally g.close()
  }

  /** PERSONALIZED PageRank: teleport mass returns only to `seeds` — the
    * random-walk-with-restart relatedness score behind "more like these"
    * recommendation and seed-expansion curation (find everything the
    * walk reaches from a trusted set). Same exact-integer discipline as
    * [[ranks]]: base(v) = ⌊⌊scale·(den−num)/den⌋ / |S|⌋ for seeds and 0
    * elsewhere, start = ⌊scale/|S|⌋ on seeds, every round one label-frame
    * shuffle against the cached src-partitioned edges (the distributed
    * path's shape — seed-restricted base makes the driver-path's
    * uniform-base shortcut inapplicable, and the per-round node frame
    * carries its base along, so no extra join appears). Seeds outside
    * the graph are ignored; at least one must be present. Duplicate
    * edges collapse. Returns (node, rank) after exactly `iterations`
    * rounds — nodes unreachable from the seeds hold rank 0, which is the
    * point (the q93 global walk ranks them anyway).
    */
  def personalizedRanks(edges: DataFrame, seeds: DataFrame,
                        iterations: Int = 10, scale: Long = 1000000000000L,
                        dampNum: Long = 85, dampDen: Long = 100,
                        broadcastMaxNodes: Long = DriverCsr.MaxNodes): DataFrame = {
    val g = buildRankGraph(edges, broadcastMaxNodes)
    try g.personalized(seeds, iterations, scale, dampNum, dampDen)
    finally g.close()
  }

  /** Big-graph fallback of [[personalizedRanks]]. */
  private def personalizedDistributedState(spark: SparkSession, e: DataFrame,
                                           nodesPlain: DataFrame,
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
    def rebase(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[Row]) = {
      val rdd = df.rdd
      rdd.cache()
      (spark.createDataFrame(rdd, df.schema), rdd)
    }
    val (flags, flagsRdd) = rebase(nodes0)
    val nSeeds = flags.filter(col("__s").isNotNull).count()
    require(nSeeds > 0, "no seed appears in the graph")
    val base = scale * (dampDen - dampNum) / dampDen / nSeeds
    require(base > 0 && scale / nSeeds > 0,
      s"scale $scale too small for $nSeeds seeds")
    val (nodesBase, nbRdd) = rebase(flags.select(col("node"),
      when(col("__s").isNotNull, lit(base)).otherwise(lit(0L)).as("b")))
    nodesBase.count()
    flagsRdd.unpersist(blocking = false)
    var (ranks, ranksRdd) = rebase(nodesBase.select(col("node"),
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
      val (r2, rr2) = rebase(next)
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
  private def ranksDistributedState(spark: SparkSession, e: DataFrame, nodes0: DataFrame,
                                    n: Long, iterations: Int, scale: Long,
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
    val nRdd = nodes0.rdd
    nRdd.cache()
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
