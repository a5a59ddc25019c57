package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Multi-source BFS hop distances — the shortest-path primitive the
  * graph family lacked (CC answers "same component?", PageRank "how
  * central?", but neither "how FAR?"): the minimum hop count from any
  * seed to each reachable node, capped at a fixed round count. The cap
  * is the determinism discipline every iterative gate here uses
  * (PageRank's fixed rounds): dist after R rounds is EXACTLY
  * min(R-hop-bounded distance), a pure function of (graph, seeds, R)
  * that the SQL oracle unrolls round by round.
  *
  * Scale shape mirrors [[PageRank]]: within the [[DriverCsr]] gate the
  * edges are collected once, collapsed into an int CSR on the driver and
  * every round is an array loop (no Spark job per round; a fixpoint
  * walk stops when a round changes nothing). Above it every walk — hop,
  * weighted, landmark, and the incremental refresh — runs ONE relax
  * step, min(dist + w) grouped by the state keys, with hop edges at
  * w = 1 as the driver's unweighted CSR treats them, inside one
  * delta-frontier loop ([[distributedRelax]]). An edge with a null
  * endpoint is dropped on both sides. Unreached nodes are EXCLUDED from
  * the output, not carried as sentinels.
  *
  * [[weightedDistances]] generalizes the recurrence to positive integer
  * edge weights (min-plus relaxation — the same shape weighted PageRank
  * gave the centrality family); [[saveDistances]]/[[resumeDistances]]
  * apply the snapshot/serve discipline (resume ≡ cold at the combined
  * depth, bit-identically — distances are monotone non-increasing in
  * rounds, so the warm start is exact by construction).
  *
  * Citation: frontier-relaxation BFS is the textbook form (Cormen et
  * al.). Both paths and the oracle compute the identical recurrence
  * d_{k+1}(v) = min(d_k(v), min over in-edges (u,v) of d_k(u) + w(u,v))
  * — hop distance is the w ≡ 1 instance; the distributed loop computes
  * it via DELTA-FRONTIER relaxation (see [[distributedRelax]] for the
  * bit-identity argument), so deep round caps stop paying a full
  * edges⋈reached join per round.
  */
object Bfs {

  private val INF = Long.MaxValue

  /** @param edges    (srcCol, dstCol) directed edges; duplicates collapse
    *                 and an edge with a null endpoint is dropped.
    *                 Symmetrize upstream for undirected distance.
    * @param seeds    one-column frame of source nodes; nodes absent from
    *                 the graph are ignored (distance only to graph nodes)
    * @param rounds   hop cap R — output distances are in [0, R]
    * @return (node, dist) for every node reachable within R hops
    */
  def hopDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, rounds: Int,
                   maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val g = buildHopGraph(edges, srcCol, dstCol, maxEdges)
    try g.distances(seeds, rounds) finally g.close()
  }

  /** The (`src`, `dst`) projection every entry gates: null endpoints
    * dropped.
    */
  private def endpoints(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)

  /** The gated edges and their CSR built ONCE and shared by every walk a
    * caller runs over the same unchanged graph — the snapshot+resume
    * gates run two walks back to back. Above the gate each walk runs the
    * distributed relax over the cached edges (per-walk cost is already
    * the honest shape there). [[DistanceGraph.close]] releases the cache
    * after the last walk.
    */
  def buildHopGraph(edges: DataFrame, srcCol: String, dstCol: String,
                    maxEdges: Long = DriverCsr.MaxEdges): DistanceGraph =
    new DistanceGraph(DriverCsr.edges("Bfs.buildHopGraph", endpoints(edges, srcCol, dstCol),
      maxEdges), None)

  /** The distributed side's hop edges: distinct, each at w = 1. */
  private def hopEdges(g: DriverCsr.Edges): DataFrame =
    g.cached.distinct().withColumn("w", lit(1L))

  /** The prebuilt-graph handle of [[buildHopGraph]] (hop walks, every
    * edge costs 1) and [[buildWeightedGraph]] (min-plus walks; `maxW`,
    * the largest raw weight, bounds overflow). Every walk is
    * bit-identical to the one-shot entry points (same edges, same
    * recurrence).
    */
  final class DistanceGraph private[operators] (g: DriverCsr.Edges, maxW: Option[Long]) {

    // hop: duplicates collapse. Weighted: parallel edges keep their
    // minimum weight, and an edge with a null weight relaxes nothing
    private lazy val adj =
      if (maxW.isEmpty) DriverCsr.csr(g.nodeVals.length, g.src, g.dst)
      else {
        val keep = g.rows.indices.filter(!g.rows(_).isNullAt(2)).toArray
        DriverCsr.csr(g.nodeVals.length, keep.map(g.src), keep.map(g.dst),
          keep.map(g.rows(_).getLong(2)), math.min)
      }

    /** The distributed side's (src, dst, w) edges, collapsed as [[adj]]. */
    private def edgesW: DataFrame =
      if (maxW.isEmpty) hopEdges(g)
      else g.cached.filter(col("w").isNotNull)
        .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))

    /** [[Bfs.hopDistances]] or [[Bfs.weightedDistances]] over the prebuilt graph. */
    def distances(seeds: DataFrame, rounds: Int): DataFrame = {
      require(rounds >= 0, s"rounds must be >= 0, got $rounds")
      if (g.count == 0) return distFrame(g, Array.empty)
      maxW.foreach(w => require(rounds == 0 || w <= (Long.MaxValue - 1L) / rounds,
        s"rounds*maxWeight would overflow: rounds=$rounds maxW=$w"))
      if (g.onDriver) distFrame(g, relax(adj, seedStart(g, seeds), rounds))
      else {
        // seeds stay a FRAME on this path (a semi-join): a large seed set
        // is never collected into the plan as an IN-list
        val seedDf = g.seedFrame(seeds)
        require(!seedDf.isEmpty, "seeds must be non-empty")
        distributedRelax(edgesW,
          g.nodes.join(seedDf, Seq("node"), "left_semi").withColumn("dist", lit(0L)),
          rounds, Seq("node"))
      }
    }

    /** [[Bfs.resumeDistances]] or [[Bfs.resumeWeightedDistances]] over the
      * prebuilt graph.
      */
    def resumeFrom(prior: DataFrame, rounds: Int): DataFrame = {
      require(rounds >= 0, s"rounds must be >= 0, got $rounds")
      if (g.count == 0) return distFrame(g, Array.empty)
      val p = snapshot(prior, g.nodeType)
      // the snapshot is node-sized, within the driver contract
      val rows = if (g.onDriver) p.collect() else Array.empty[Row]
      maxW.foreach { w =>
        val maxPrior =
          if (g.onDriver) rows.filter(!_.isNullAt(1)).map(_.getLong(1)).maxOption.getOrElse(0L)
          else Option(p.agg(max(col("dist"))).head().get(0)).fold(0L)(_.asInstanceOf[Long])
        require(maxPrior >= 0L, s"snapshot distances must be >= 0, max $maxPrior")
        require(rounds == 0 || w <= (Long.MaxValue - 1L - maxPrior) / rounds,
          s"maxPrior + rounds*maxWeight would overflow: " +
            s"maxPrior=$maxPrior rounds=$rounds maxW=$w")
      }
      if (g.onDriver) distFrame(g, relax(adj, priorStart(g, rows), rounds))
      else distributedRelax(edgesW, g.nodes.join(p, Seq("node")), rounds, Seq("node"))
    }

    /** Release the cached edges ([[DriverCsr.Edges.close]]). */
    def close(): Unit = g.close()
  }

  /** The reached nodes of a driver distance vector that pass `keep`. */
  private def distFrame(g: DriverCsr.Edges, dist: Array[Long],
                        keep: Int => Boolean = _ => true): DataFrame =
    g.nodeFrame(dist.indices.iterator.filter(i => dist(i) != INF && keep(i))
        .map(i => Row(g.nodeVals(i), dist(i))),
      StructField("dist", LongType, nullable = false))

  /** A (node, dist) snapshot cast to the graph's node type. */
  private def snapshot(prior: DataFrame,
                       nodeType: org.apache.spark.sql.types.DataType): DataFrame =
    prior.select(col("node").cast(nodeType).as("node"),
      col("dist").cast(LongType).as("dist"))

  /** A collected snapshot as a distance vector: snapshot nodes off the
    * graph drop, every other node starts unreached.
    */
  private def priorStart(g: DriverCsr.Edges, prior: Array[Row]): Array[Long] = {
    val d = Array.fill(g.nodeVals.length)(INF)
    prior.foreach { r => val i = g.idOf(r.get(0)); if (i >= 0) d(i) = r.getLong(1) }
    d
  }

  /** Seeds at 0, every other node unreached; seeds off the graph are
    * ignored ([[DriverCsr.Edges.seedFrame]] casts them to the node type).
    */
  private def seedStart(g: DriverCsr.Edges, seeds: DataFrame): Array[Long] = {
    val vals = g.seedFrame(seeds).collect().map(_.get(0))
    require(vals.nonEmpty, "seeds must be non-empty")
    val d = Array.fill(g.nodeVals.length)(INF)
    vals.map(g.idOf).filter(_ >= 0).foreach(d(_) = 0L)
    d
  }

  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()

  /** Up to `rounds` synchronous min-relaxation rounds from `init` (INF =
    * unreached) over `adj`, each edge costing its weight (1 when the CSR
    * is unweighted); a round that changes nothing is the fixpoint, so
    * the loop stops there. Raw d + w is exact: weighted callers check
    * the hoisted overflow bound first.
    */
  private def relax(adj: DriverCsr.Csr, init: Array[Long], rounds: Int): Array[Long] = {
    val (n, off, to, w) = (adj.n, adj.off, adj.to, adj.w)
    var dist = init
    var changed = true
    var r = 0
    while (r < rounds && changed) {
      val next = dist.clone()
      changed = false
      var u = 0
      while (u < n) {
        if (dist(u) != INF) {
          var j = off(u)
          while (j < off(u + 1)) {
            val d = dist(u) + (if (w == null) 1L else w(j))
            if (d < next(to(j))) { next(to(j)) = d; changed = true }
            j += 1
          }
        }
        u += 1
      }
      dist = next
      r += 1
    }
    dist
  }

  /** The one distributed relax step, the frame twin of [[relax]]'s inner
    * loop: every edge of `e` (`src`, `dst`, `w`) leaving a node of `f`
    * offers dist + w to its target, and each state key (`node`, or `node,
    * lm`) keeps the minimum.
    */
  private def relaxStep(e: DataFrame, f: DataFrame, keyCols: Seq[String]): DataFrame =
    e.join(f, e("src") === f("node"))
      .groupBy(e("dst").as("node") +: keyCols.tail.map(col): _*)
      .agg(min(col("dist") + col("w")).as("dist"))

  /** The one distributed relax loop: every hop, weighted and landmark
    * walk above the gate, and [[refreshDistances]]' fixpoint, run here
    * over (`src`, `dst`, `w`) edges — hop edges at w = 1 — with
    * [[relaxStep]] as the only step.
    *
    * DELTA-FRONTIER relaxation: each round relaxes only edges leaving the
    * states whose distance IMPROVED last round, instead of re-joining the
    * full reached frame against the edge list. After any fixed round
    * count the result is BIT-IDENTICAL to the full min-merge, which is
    * what the driver's [[relax]] computes (spec-pinned on both sides of
    * the gate): an improvement at v in round r+1 must relax through an
    * in-neighbor u using d_r(u), and if u did not improve in round r then
    * the same candidate d_r(u) + w was already min-merged into v earlier
    * (distances are monotone non-increasing) — so restricting to last
    * round's improved set loses nothing, and candidates carry the values
    * the full merge would use, so it invents nothing. Ties are not
    * improvements (else cycles re-emit forever). An empty frontier is a
    * fixpoint, so the loop exits early: deep round caps stop paying past
    * the graph's effective diameter, and for hop BFS the frontier sum is
    * ONE pass over the reachable graph instead of one pass per round.
    *
    * Each round rebases the reached and frontier frames onto cached RDD
    * leaves, so self-referential plans never nest R deep.
    *
    * @param keyCols  state key (`node`, or `node, lm` for the landmark
    *                 table); `dist` rides alongside
    * @param frontier0 explicit initial frontier (must be the subset of
    *                 `d0` whose values are new/improved vs whatever
    *                 fixpoint `d0` extends — the incremental-refresh
    *                 entry); default: all of `d0`
    * @param cacheLog receives every RDD this call caches, so a caller in a
    *                 long-lived streaming driver, where other threads hold
    *                 their own cached RDDs, can release exactly this call's
    *                 residue (unpersisting one already released is a no-op)
    * @return the reached frame: `keyCols` then `dist`
    */
  private def distributedRelax(e: DataFrame, d0: DataFrame, rounds: Int,
                               keyCols: Seq[String],
                               frontier0: Option[DataFrame] = None,
                               cacheLog: Option[scala.collection.mutable
                                 .Buffer[org.apache.spark.rdd.RDD[_]]] = None)
      : DataFrame = {
    val spark = e.sparkSession
    def logged[T](r: org.apache.spark.rdd.RDD[T]): org.apache.spark.rdd.RDD[T] = {
      cacheLog.foreach(_ += r); r
    }
    val state = keyCols :+ "dist"
    val eCached = e.persist()
    eCached.count()
    var dRdd = logged(d0.rdd)
    dRdd.cache()
    dRdd.count()
    var reached = spark.createDataFrame(dRdd, d0.schema)
    var fRdd = frontier0.map { f =>
      val r = logged(f.rdd); r.cache(); r
    }.getOrElse(dRdd) // frontier defaults to the whole initial frame
    var fCount = if (fRdd eq dRdd) dRdd.count() else fRdd.count()
    var frontier =
      if (fRdd eq dRdd) reached
      else spark.createDataFrame(fRdd, frontier0.get.schema)
    var r = 0
    while (r < rounds && fCount > 0) {
      // strict improvements only; a state absent from reached improves
      val improved = relaxStep(eCached, frontier, keyCols).join(
          reached.withColumnRenamed("dist", "__old"), keyCols, "left")
        .filter(col("__old").isNull || col("dist") < col("__old"))
        .select(state.map(col): _*)
      val iRdd = logged(improved.rdd)
      iRdd.cache()
      val iCount = iRdd.count()
      val newFrontier = spark.createDataFrame(iRdd, improved.schema)
      val merged = reached
        .join(newFrontier.select(keyCols.map(col): _*), keyCols, "left_anti")
        .unionByName(newFrontier)
      val rdd = logged(merged.rdd)
      rdd.cache(); rdd.count()
      if (fRdd ne dRdd) fRdd.unpersist(blocking = false)
      dRdd.unpersist(blocking = false)
      dRdd = rdd
      fRdd = iRdd
      reached = spark.createDataFrame(rdd, merged.schema)
      frontier = newFrontier
      fCount = iCount
      r += 1
    }
    eCached.unpersist(blocking = false)
    if (fRdd ne dRdd) fRdd.unpersist(blocking = false)
    reached.select(state.map(col): _*)
  }

  // ------------------------------------------------------------------
  // Landmark distance sketches
  // ------------------------------------------------------------------

  /** Per-landmark hop distances — the landmark-embedding distance
    * sketch (Potamias et al. 2009, "Fast shortest path distance
    * estimation in large networks"): run [[hopDistances]] from EACH
    * landmark SEPARATELY but in ONE pass (the landmark identity rides
    * along as state, so the graph is read and the adjacency built
    * once, not once per landmark), producing the (node, lm, dist)
    * table that serves d(u,v) estimates as min over landmarks of
    * d(u,l) + d(l,v) — an O(L) lookup per query pair instead of a BFS
    * per query, which is the only shape that answers ad-hoc distance
    * queries at corpus scale. Same fixed-round determinism contract as
    * [[hopDistances]] per landmark.
    *
    * BOUNDED CONTRACT: the landmark set is a CHOSEN handful by design
    * (L in the tens — it is collected to the driver, the probeCells
    * shape). The driver path relaxes one landmark at a time over one
    * n-long vector, and its result frame holds up to n·L rows.
    * Landmarks absent from the graph are ignored (the seed rule).
    *
    * @return (node, lm, dist) for every (landmark, node reached from it
    *         within `rounds` hops)
    */
  def landmarkDistances(edges: DataFrame, srcCol: String, dstCol: String,
                        landmarks: DataFrame, rounds: Int,
                        maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val g = DriverCsr.edges("Bfs.landmarkDistances", endpoints(edges, srcCol, dstCol),
      maxEdges)
    try {
      val lmDf = g.seedFrame(landmarks)
      val lmVals: Array[Any] = lmDf.collect().map(_.get(0))
      require(lmVals.nonEmpty, "landmarks must be non-empty")
      if (g.onDriver) {
        // one relax per landmark over the one CSR
        val adj = DriverCsr.csr(g.nodeVals.length, g.src, g.dst)
        val rows = lmVals.toSeq.flatMap { lm =>
          val d0 = Array.fill(g.nodeVals.length)(INF)
          Some(g.idOf(lm)).filter(_ >= 0).foreach(d0(_) = 0L)
          val dist = relax(adj, d0, rounds)
          dist.indices.filter(dist(_) != INF).map(i => Row(g.nodeVals(i), lm, dist(i)))
        }
        g.frame(rows, StructType(Seq(StructField("node", g.nodeType, nullable = true),
          StructField("lm", g.nodeType, nullable = true),
          StructField("dist", LongType, nullable = false))))
      } else distributedRelax(hopEdges(g),
        g.nodes.join(lmDf.select(col("node").as("lm")), col("node") === col("lm"))
          .select(col("node"), col("lm"), lit(0L).as("dist")),
        rounds, Seq("node", "lm"))
    } finally g.close()
  }

  /** Harmonic-closeness estimates from a landmark table — centrality
    * scored over the landmark SAMPLE instead of all-pairs BFS (the
    * Eppstein–Wang estimator restricted to fixed pivots): per node,
    * harmonic_ppm = Σ over landmarks at distance d > 0 of ⌊10⁶ / d⌋,
    * plus the count of landmarks reached. Unreachable landmarks
    * contribute 0 by omission (the harmonic convention — why harmonic,
    * not classic closeness, is the disconnected-graph centrality), a
    * node's own landmark row (d = 0) is excluded, and a node reaching
    * no landmark at positive distance is absent. Each per-landmark term
    * is an exact integer floor division, so the estimate hash-gates.
    * One map-side-combined aggregate over the (already node-linear)
    * landmark table.
    */
  def harmonicFromLandmarks(landmarkDists: DataFrame): DataFrame =
    landmarkDists.filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_landmarks"),
        sum(graft.functions.IntOps.intDiv(lit(1000000L), col("dist")))
          .as("harmonic_ppm"))

  /** Distance ESTIMATES from a landmark table: for every (a, b) in
    * `aNodes` × `bNodes` reachable through a common landmark,
    * est(a, b) = min over landmarks of d(a, l) + d(l, b) — an upper
    * bound on (and with well-chosen landmarks a tight proxy for) the
    * true distance, served by two landmark-table lookups instead of a
    * per-pair BFS. Undirected graphs (symmetrized edges) make
    * d(l, b) = d(b, l), which is what the landmark table stores.
    */
  def landmarkEstimates(landmarkDists: DataFrame, aNodes: DataFrame,
                        bNodes: DataFrame): DataFrame = {
    val da = landmarkDists.join(
        broadcast(aNodes.select(col(aNodes.columns.head).as("node_a")).distinct()),
        landmarkDists("node") === col("node_a"))
      .select(col("node_a"), col("lm"), col("dist").as("da"))
    val db = landmarkDists.join(
        broadcast(bNodes.select(col(bNodes.columns.head).as("node_b")).distinct()),
        landmarkDists("node") === col("node_b"))
      .select(col("node_b"), col("lm"), col("dist").as("db"))
    da.join(db, "lm")
      .groupBy(col("node_a"), col("node_b"))
      .agg(min(col("da") + col("db")).as("est"))
  }

  // ------------------------------------------------------------------
  // Weighted shortest paths (min-plus relaxation)
  // ------------------------------------------------------------------

  /** Min-plus shortest-path distances over POSITIVE integer edge
    * weights, capped at `rounds` relaxation rounds: after R rounds each
    * node holds the exact minimum weight over all seed-to-node paths of
    * at most R edges — the same fixed-depth determinism contract as
    * [[hopDistances]] (which is the w ≡ 1 instance), so the SQL oracle
    * unrolls the identical recurrence. Parallel edges collapse to their
    * MINIMUM weight (under min-plus the cheapest parallel edge always
    * wins — compression, not a semantic choice).
    *
    * Overflow discipline (the PageRank hoisted-proof regime): every
    * relaxed distance is bounded by rounds·maxW, so ONE up-front check
    * `maxW <= (Long.MaxValue − 1) / rounds` proves every per-edge
    * `d + w` in every round exact — the hot loop stays raw adds with
    * checked semantics.
    *
    * @param weightCol positive integral weights (casts to long; a
    *                  non-positive weight is rejected — min-plus with
    *                  zero/negative weights has no bounded-round meaning)
    * @return (node, dist) for every node reachable within `rounds` edges
    */
  def weightedDistances(edges: DataFrame, srcCol: String, dstCol: String,
                        weightCol: String, seeds: DataFrame, rounds: Int,
                        maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val g = buildWeightedGraph(edges, srcCol, dstCol, weightCol, maxEdges)
    try g.distances(seeds, rounds) finally g.close()
  }

  /** [[buildHopGraph]]'s weighted sibling: the gated edges and their
    * weighted CSR built once, walks (cold or resumed) run over them.
    * Parallel edges collapse to their minimum weight on both sides. The
    * positive-weight check and the overflow bound read the raw weights
    * (nulls ignored, as Spark's `min`/`max`), so both sides reject the
    * same inputs.
    */
  def buildWeightedGraph(edges: DataFrame, srcCol: String, dstCol: String,
                         weightCol: String,
                         maxEdges: Long = DriverCsr.MaxEdges): DistanceGraph = {
    val g = DriverCsr.edges("Bfs.buildWeightedGraph",
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
          col(weightCol).cast(LongType).as("w"))
        .filter(col("src").isNotNull && col("dst").isNotNull), maxEdges)
    if (g.count == 0) return new DistanceGraph(g, Some(0L))
    val (lo, hi) =
      if (g.onDriver) {
        val ws = g.rows.filter(!_.isNullAt(2)).map(_.getLong(2))
        if (ws.isEmpty) (None, 0L) else (Some(ws.min), ws.max)
      } else {
        val r = g.cached.agg(min(col("w")), max(col("w"))).head()
        (Option(r.get(0)).map(_.asInstanceOf[Long]), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
    val positive = lo.exists(_ >= 1L)
    if (!positive) g.close()
    require(positive, s"edge weights must be positive longs, found min ${lo.getOrElse("null")}")
    new DistanceGraph(g, Some(hi))
  }

  /** RESUME weighted (min-plus) relaxation from a prior reached frame —
    * [[resumeDistances]] under [[weightedDistances]]' semantics: run
    * `rounds` MORE rounds from the snapshot, ≡ a cold run at the
    * combined depth bit-identically on an unchanged graph. The hoisted
    * overflow proof extends to the warm start: every relaxed distance
    * is bounded by maxPriorDist + rounds·maxW, checked once up front.
    */
  def resumeWeightedDistances(edges: DataFrame, srcCol: String,
                              dstCol: String, weightCol: String,
                              prior: DataFrame, rounds: Int,
                              maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val g = buildWeightedGraph(edges, srcCol, dstCol, weightCol, maxEdges)
    try g.resumeFrom(prior, rounds) finally g.close()
  }

  // ------------------------------------------------------------------
  // Snapshot + resume (the q194/q197/q198 serve discipline)
  // ------------------------------------------------------------------

  /** Persist a reached frame as a two-column managed table — compute
    * once, snapshot, and later sessions read it directly or
    * [[resumeDistances]] from it instead of restarting cold.
    */
  def saveDistances(spark: SparkSession, dists: DataFrame, table: String): Unit = {
    graft.sources.Sinks.dropTableAndStaleLocation(spark, table)
    dists.select(col("node"), col("dist"))
      .write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** RESUME hop relaxation from a prior reached frame: run `rounds`
    * MORE rounds over the (possibly grown) edge list, starting every
    * snapshot node at its saved distance and every other node
    * unreached. The recurrence is a pure function of (graph, reached
    * frame), and the reached frame IS the full round state, so on an
    * unchanged graph resume(snapshot of round R, k) ≡ a cold run of
    * R+k rounds BIT-IDENTICALLY — distances are monotone non-increasing
    * in rounds, so the warm start can neither lose nor invent a path
    * (the q221 gate replays q219's oracle at the combined depth). On a
    * grown graph it is the incremental-refresh shape: new edges relax
    * from the old distances in k rounds instead of R+k.
    *
    * Snapshot nodes absent from the CURRENT edge list are dropped
    * (distance is a property of the current graph) — identically on
    * both scale paths.
    */
  def resumeDistances(edges: DataFrame, srcCol: String, dstCol: String,
                      prior: DataFrame, rounds: Int,
                      maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val g = buildHopGraph(edges, srcCol, dstCol, maxEdges)
    try g.resumeFrom(prior, rounds) finally g.close()
  }

  // ------------------------------------------------------------------
  // Incremental refresh (the streaming distance-store shape)
  // ------------------------------------------------------------------

  /** FIXPOINT distances from the seeds — [[hopDistances]] with the round
    * cap removed: the driver loop runs until a round changes nothing and
    * the delta-frontier loop until its frontier empties, which is the
    * true shortest-path fixpoint (termination:
    * distances are non-negative longs and strictly decrease somewhere
    * every continuing round). Unlike the capped form, the result is a
    * pure function of (graph, seeds) alone — independent of any round
    * parameter — which is what makes it SLICING-INVARIANT state for the
    * incremental store: however edge batches arrive, the fixpoint on
    * the union graph is the same table.
    */
  def hopDistancesToFixpoint(edges: DataFrame, srcCol: String, dstCol: String,
                             seeds: DataFrame,
                             maxEdges: Long = DriverCsr.MaxEdges): DataFrame =
    hopDistances(edges, srcCol, dstCol, seeds, Int.MaxValue, maxEdges)

  /** Incremental fixpoint refresh after new edges arrive — the per-batch
    * core of the streaming distance store: given the PRIOR fixpoint
    * (distances on the graph before this batch), the new edge batch, and
    * the full grown edge list, return ONLY the (node, dist) rows that
    * are new or improved. Appending these to a min-merged log reproduces
    * the full fixpoint exactly (distances are monotone non-increasing as
    * the graph grows, so the per-node minimum over all appended rows IS
    * the current fixpoint).
    *
    * Cost shape: the initial frontier is derived from ONE relax pass of
    * the BATCH edges against the prior (O(batch)), plus seed activations
    * among the batch's endpoints; the delta-frontier loop then touches
    * only the affected region (each round scans the edge list but
    * exchanges only the frontier, and rounds are bounded by the affected
    * region's eccentricity — typically 0–2 once the graph densifies).
    * The prior is never re-derived and never rewritten.
    *
    * Correctness of the restricted frontier: any node whose fixpoint
    * distance changes must be reachable from a batch endpoint through a
    * chain of improvements, and the chain's first link is either a
    * direct batch-edge relaxation from the prior or a newly activated
    * seed — both are in the initial frontier; [[distributedRelax]]'s
    * bit-identity argument carries it from there.
    *
    * The improvements frame is handed to `consume` (which must
    * materialize it exactly once — the store append); every cache this
    * call created (batch-local frames AND the relax loop's leaf RDDs) is
    * released afterwards, so a long-running ingest loop holds no
    * per-batch residue. The improvements can be corpus-sized on early
    * batches, so they are never collected to the driver.
    *
    * @param edges    the FULL grown edge list (store + batch; duplicate
    *                 edges are harmless to min-relaxation)
    * @param newEdges this batch's edges (same column names)
    * @param seeds    the FIXED seed set of the maintained table
    * @param prior    (node, dist) fixpoint before this batch (empty on
    *                 the first batch)
    * @param consume  receives the (node, dist) rows new or strictly
    *                 improved vs `prior`
    */
  def refreshDistances(edges: DataFrame, srcCol: String, dstCol: String,
                       newEdges: DataFrame, seeds: DataFrame,
                       prior: DataFrame,
                       maxEdges: Long = DriverCsr.MaxEdges)
                      (consume: DataFrame => Unit): Unit = {
    val g = DriverCsr.edges("Bfs.refreshDistances", endpoints(edges, srcCol, dstCol),
      maxEdges)
    try {
      if (g.onDriver) {
        // DRIVER FIXPOINT: the prior is node-sized by construction (one
        // row per reached node), so collecting it sits inside the same
        // contract as the edges. Init = prior distances with ALL seeds at
        // 0 — prior values are real path lengths on a subgraph of the
        // grown graph, hence upper bounds, and Bellman–Ford relaxation
        // from seed-anchored upper bounds converges to the exact
        // fixpoint, the same slicing-invariant table the distributed
        // branch computes (spec-pinned in StreamingSpec's one-shot
        // equivalence).
        val old = priorStart(g, snapshot(prior, g.nodeType).collect())
        val init = old.clone()
        g.seedFrame(seeds).collect().map(r => g.idOf(r.get(0))).filter(_ >= 0)
          .foreach(init(_) = 0L)
        val dist = relax(DriverCsr.csr(g.nodeVals.length, g.src, g.dst), init, Int.MaxValue)
        consume(distFrame(g, dist, i => dist(i) < old(i)))
      } else refreshDistributed(g, endpoints(newEdges, srcCol, dstCol), seeds, prior,
        consume)
    } finally g.close()
  }

  /** The distributed side of [[refreshDistances]] over the gated grown
    * edges `g` and this batch's edges `newEdges`; both relax at w = 1
    * (duplicate edges are harmless to min-relaxation).
    */
  private def refreshDistributed(g: DriverCsr.Edges, newEdges: DataFrame, seeds: DataFrame,
                                 prior: DataFrame, consume: DataFrame => Unit): Unit = {
    // release EXACTLY this call's leaf caches afterwards: the RDDs are
    // tracked as they are created (here and inside distributedRelax via
    // cacheLog) — a registry-wide before/after diff would also sweep up
    // RDDs cached concurrently by other driver threads
    val cacheLog =
      scala.collection.mutable.Buffer.empty[org.apache.spark.rdd.RDD[_]]
    val ne = newEdges.distinct().withColumn("w", lit(1L)).persist()
    // rebase the prior on a cached RDD leaf (materializeLeaf discipline)
    // rather than a plan-level cache: the caller typically reads the
    // prior FROM the very table the improvements append to, and a
    // plan-level cache would (a) trip the same-table read/write check in
    // the append job and (b) be invalidated — and recomputed against the
    // post-append table — by the append itself
    val (p, pRdd) = DriverCsr.rebase(snapshot(prior, g.nodeType))
    cacheLog += pRdd
    pRdd.count()
    // seed activations: seeds first appearing on the graph via this batch
    val seedAct = nodesOf(ne).join(g.seedFrame(seeds), Seq("node"), "left_semi")
      .join(p, Seq("node"), "left_anti")
      .select(col("node"), lit(0L).as("dist"))
    // one relax pass of the batch edges against the prior
    val f0 = seedAct.unionByName(relaxStep(ne, p, Seq("node")))
      .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      .join(p.withColumnRenamed("dist", "__old"), Seq("node"), "left")
      .filter(col("__old").isNull || col("dist") < col("__old"))
      .select(col("node"), col("dist"))
      .persist()
    try {
      val out = if (f0.isEmpty) {
        f0.limit(0)
      } else {
        val d0 = p.join(f0.select(col("node")), Seq("node"), "left_anti")
          .unionByName(f0)
        val fixed = distributedRelax(g.cached.withColumn("w", lit(1L)), d0, Int.MaxValue,
          Seq("node"), frontier0 = Some(f0), cacheLog = Some(cacheLog))
        fixed.join(p.withColumnRenamed("dist", "__old"), Seq("node"), "left")
          .filter(col("__old").isNull || col("dist") < col("__old"))
          .select(col("node"), col("dist"))
      }
      consume(out)
    } finally {
      ne.unpersist(blocking = false)
      f0.unpersist(blocking = false)
      cacheLog.foreach(_.unpersist(blocking = false))
    }
  }

  /** Current distances from an improvements log written by the streaming
    * ingest: the per-node MINIMUM over all appended rows IS the fixpoint
    * (distances only ever improve as the graph grows, and each batch
    * appends exactly its improvements). A log bucketed by `node`
    * satisfies the aggregation's distribution, so the read is
    * exchange-free on the store side; a crash-window double-append
    * duplicates rows whose min is unchanged — replay-idempotent by
    * value.
    */
  def distancesFromStore(spark: SparkSession, table: String): DataFrame =
    spark.table(table).groupBy(col("node")).agg(min(col("dist")).as("dist"))
}
