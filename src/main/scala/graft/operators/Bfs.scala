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
  * Scale shape mirrors the PageRank dual: a [[DriverCsr]] loop when the
  * node count fits `broadcastMaxNodes` (one map-only job per
  * round over the cached in-adjacency, node-sized driver state), else a
  * distributed loop that min-merges the reached frame against the
  * cached edge list (rebased per round via RDD cache — the
  * materializeLeaf discipline — so plans never nest). Unreached nodes
  * are EXCLUDED from the output, not carried as sentinels.
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
                   broadcastMaxNodes: Long = DriverCsr.MaxNodes): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val g = buildHopGraph(edges, srcCol, dstCol, broadcastMaxNodes)
    // driver-path walks are eager (local-row results), so closing after
    // the walk is safe; the fallback handle holds no caches to close
    try g.distances(seeds, rounds) finally g.close()
  }

  /** Node dictionary + cached driver-CSR adjacency built ONCE and shared
    * by every walk a caller runs over the same unchanged graph — the
    * snapshot+resume gates run two walks back to back, and rebuilding
    * the dictionary and adjacency for the second walk duplicated every
    * build shuffle (guide §2.4: remove shuffles outright). Graphs above
    * `broadcastMaxNodes` get a fallback handle that delegates each walk
    * to the distributed relax unchanged (per-walk cost is already the
    * honest shape there, and the walk results stay lazy).
    *
    * Build-path economy vs the pre-handle entry points: the raw edge
    * projection feeds [[PageRank.adjacencyPlan]] DIRECTLY — the dedup
    * rides the adjacency's one int-keyed exchange, so the old upstream
    * string-keyed `distinct()` exchange (which adjacencyPlan then
    * re-deduped) is gone entirely.
    *
    * Lifecycle: driver-path walks are EAGER (state in driver arrays,
    * results local-row frames), so the handle's only distributed residue
    * is the [[DriverCsr]] graph's cache — [[HopGraph.close]] releases it
    * after the last walk. The harness's Storage.releaseAll sweeps a
    * leaked one.
    */
  def buildHopGraph(edges: DataFrame, srcCol: String, dstCol: String,
                    broadcastMaxNodes: Long = DriverCsr.MaxNodes): HopGraph = {
    val eRaw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val g = DriverCsr.build("Bfs.buildHopGraph", DriverCsr.nodesOf(eRaw, "src", "dst"),
        broadcastMaxNodes) { (srcIds, dstIds) =>
      PageRank.adjacencyPlan(eRaw, srcIds, dstIds)
        .rdd.map(r => (r.getInt(0), r.getSeq[Int](1).toArray))
    }
    new HopGraph(eRaw, g)
  }

  /** The prebuilt-graph handle for hop (w ≡ 1) walks — see
    * [[buildHopGraph]]. Every walk is bit-identical to the one-shot
    * entry points (same dictionary, same adjacency recurrence).
    */
  final class HopGraph private[operators] (
      eRaw: DataFrame, g: DriverCsr.Graph[(Int, Array[Int])]) {
    private val spark = eRaw.sparkSession

    /** [[Bfs.hopDistances]] over the prebuilt graph. */
    def distances(seeds: DataFrame, rounds: Int): DataFrame = {
      require(rounds >= 0, s"rounds must be >= 0, got $rounds")
      if (g.n == 0) emptyOut(spark, g.nodeType)
      else if (g.onDriver) {
        val seedVals = typedSeedVals(seeds, g.nodeType)
        require(seedVals.nonEmpty, "seeds must be non-empty")
        csrRounds(g, rounds, g.nodeVals.map(v => if (seedVals.contains(v)) 0L else INF))
      } else {
        val e = eRaw.distinct()
        val seedDf = typedSeeds(e, seeds)
        require(!seedDf.isEmpty, "seeds must be non-empty")
        distributedState(spark, e, seedsFrame(e, seedDf), rounds)
      }
    }

    /** [[Bfs.resumeDistances]] over the prebuilt graph. */
    def resumeFrom(prior: DataFrame, rounds: Int): DataFrame = {
      require(rounds >= 0, s"rounds must be >= 0, got $rounds")
      if (g.n == 0) return emptyOut(spark, g.nodeType)
      val p = snapshot(prior, g.nodeType)
      if (g.onDriver) {
        val m = collectDists(p)
        csrRounds(g, rounds, g.nodeVals.map(m.getOrElse(_, INF)))
      } else {
        val e = eRaw.distinct()
        val d0 = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
          .join(p, Seq("node")).select(col("node"), col("dist"))
        distributedState(spark, e, d0, rounds)
      }
    }

    /** Release the graph's caches ([[DriverCsr.Graph.close]]). */
    def close(): Unit = g.close()

    /** The incremental-refresh fixpoint on the driver path: relax to the
      * fixpoint from (prior ∪ seeds-at-0) and hand `consume` exactly the
      * rows that are new or strictly improved vs `prior` — the
      * [[Bfs.refreshDistances]] contract. Returns false (doing nothing)
      * when the graph is above the driver contract, so the caller can
      * fall through to the distributed delta loop.
      */
    private[operators] def refreshFixpoint(seeds: DataFrame, prior: DataFrame,
                                           consume: DataFrame => Unit): Boolean = {
      if (g.n == 0) { consume(emptyOut(spark, g.nodeType)); return true }
      if (!g.onDriver) return false
      val (nodeVals, adj) = (g.nodeVals, g.adj)
      val m = collectDists(snapshot(prior, g.nodeType))
      val seedVals = typedSeedVals(seeds, g.nodeType)
      var dist = nodeVals.map(v => if (seedVals.contains(v)) 0L else m.getOrElse(v, INF))
      var changed = true
      while (changed) {
        val bc = spark.sparkContext.broadcast(dist)
        val mins = adj.map { case (did, sids) =>
          val dv = bc.value
          var best = INF
          var j = 0
          while (j < sids.length) {
            val d = dv(sids(j))
            if (d != INF && d + 1 < best) best = d + 1
            j += 1
          }
          (did, best)
        }.filter(_._2 != Long.MaxValue).collect()
        bc.destroy()
        changed = false
        val next = dist.clone()
        mins.foreach { case (did, d) =>
          if (d < next(did)) { next(did) = d; changed = true } }
        dist = next
      }
      consume(distFrame(g, dist, i => m.get(nodeVals(i)).forall(dist(i) < _)))
      true
    }
  }

  private def emptyOut(spark: SparkSession,
                       nodeType: org.apache.spark.sql.types.DataType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("node", nodeType, nullable = true),
        StructField("dist", LongType, nullable = false))))

  /** A (node, dist) snapshot cast to the graph's node type. */
  private def snapshot(prior: DataFrame,
                       nodeType: org.apache.spark.sql.types.DataType): DataFrame =
    prior.select(col("node").cast(nodeType).as("node"),
      col("dist").cast(LongType).as("dist"))

  /** A snapshot on the driver: node-sized, within the driver contract. */
  private def collectDists(p: DataFrame): Map[Any, Long] =
    p.collect().map(r => (r.get(0), r.getLong(1))).toMap

  /** The reached nodes of a driver distance vector that pass `keep`. */
  private def distFrame(g: DriverCsr.Graph[_], dist: Array[Long],
                        keep: Int => Boolean = _ => true): DataFrame =
    g.frame(dist.indices.iterator.filter(i => dist(i) != INF && keep(i))
        .map(i => Row(g.nodeVals(i), dist(i))),
      StructField("dist", LongType, nullable = false))

  /** The seed frame cast to the NODE column's type before any matching:
    * the driver path compares with strict runtime equality
    * (`Set[Any].contains`, where an IntegerType seed never equals a
    * LongType node) while a join path compares through Spark's implicit
    * casts — casting once up front makes both paths see identically
    * typed values, so the same inputs reach the same nodes regardless of
    * which scale path runs. Seeds that don't cast (null) are dropped,
    * which is the existing off-graph-seed rule.
    */
  private def typedSeeds(e: DataFrame, seeds: DataFrame): DataFrame =
    seeds.select(col(seeds.columns.head)
        .cast(e.schema.fields(0).dataType).as("node"))
      .filter(col("node").isNotNull).distinct()

  /** [[typedSeeds]] collected for the driver path (same cast-then-match
    * discipline, keyed on the node type directly).
    */
  private def typedSeedVals(seeds: DataFrame,
                            nodeType: org.apache.spark.sql.types.DataType): Set[Any] =
    seeds.select(col(seeds.columns.head).cast(nodeType).as("node"))
      .filter(col("node").isNotNull).distinct()
      .collect().map(_.get(0)).toSet

  /** Initial reached frame for the distributed path: graph nodes in the
    * seed set, at distance 0. Seeds stay a FRAME on this path (semi-join,
    * broadcast when small): this is the branch for graphs too large for
    * the driver, so a large seed set must never be collected into the
    * plan as an IN-list (driver memory + plan bloat on exactly the scale
    * path).
    */
  private def seedsFrame(e: DataFrame, seedDf: DataFrame): DataFrame =
    e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(seedDf, Seq("node"), "left_semi")
      .withColumn("dist", lit(0L))

  /** Driver-CSR rounds from an arbitrary initial distance vector (INF =
    * unreached) over a prebuilt cached adjacency. The adjacency stays
    * cached — its lifetime belongs to the [[HopGraph]] handle.
    */
  private def csrRounds(g: DriverCsr.Graph[(Int, Array[Int])], rounds: Int,
                        init: Array[Long]): DataFrame = {
    val (spark, adj) = (g.nodes.sparkSession, g.adj)
    var dist = init
    var r = 0
    while (r < rounds) {
      val bc = spark.sparkContext.broadcast(dist)
      // one map-only job: per destination, the best in-neighbor distance
      // this round (INF-guarded — never INF+1)
      val mins = adj.map { case (did, sids) =>
        val dv = bc.value
        var best = INF
        var j = 0
        while (j < sids.length) {
          val d = dv(sids(j))
          if (d != INF && d + 1 < best) best = d + 1
          j += 1
        }
        (did, best)
      }.filter(_._2 != Long.MaxValue).collect()
      bc.destroy()
      val next = dist.clone()
      mins.foreach { case (did, d) => if (d < next(did)) next(did) = d }
      dist = next
      r += 1
    }
    distFrame(g, dist)
  }

  /** Distributed rounds from an arbitrary initial reached frame. */
  private def distributedState(spark: SparkSession, e: DataFrame,
                               d0: DataFrame, rounds: Int): DataFrame =
    distributedRelax(spark, e, d0, rounds, Seq("node"),
      (eC, f) => eC.join(f, eC("src") === f("node"))
        .groupBy(eC("dst").as("node"))
        .agg((min(col("dist")) + 1L).as("dist")))
      .select(col("node"), col("dist"))

  /** DELTA-FRONTIER distributed relaxation — each round relaxes only
    * edges leaving nodes whose distance IMPROVED last round, instead of
    * re-joining the full reached frame against the edge list. The result
    * after any fixed round count is BIT-IDENTICAL to the full min-merge
    * (spec-pinned against the driver-CSR path): an improvement at v in
    * round r+1 must relax through an in-neighbor u using d_r(u), and if
    * u did not improve in round r then the same candidate d_r(u)+w was
    * already min-merged into v in an earlier round (distances are
    * monotone non-increasing) — so restricting to last round's improved
    * set loses nothing, and candidates carry the same values full-merge
    * would use, so it invents nothing. An empty frontier is a fixpoint
    * (every later round is a no-op), so the loop exits early — the
    * fixed-round result is unchanged, deep round caps just stop paying
    * per-round cost past the graph's effective diameter.
    *
    * At scale this is the difference between R·|edges⋈reached| and
    * Σ_r |edges⋈frontier_r| join work — for hop BFS every node improves
    * exactly once, so the frontier sum is ONE pass over the reachable
    * graph total, vs one pass PER ROUND for the full merge.
    *
    * @param keyCols  state key (`node`, or `node, lm` for the landmark
    *                 table); `dist` rides alongside
    * @param step     frontier → relaxed-candidate frame (keyCols + dist)
    * @param frontier0 explicit initial frontier (must be the subset of
    *                 `d0` whose values are new/improved vs whatever
    *                 fixpoint `d0` extends — the incremental-refresh
    *                 entry); default: all of `d0`
    */
  private def distributedRelax(spark: SparkSession, e: DataFrame,
                               d0: DataFrame, rounds: Int,
                               keyCols: Seq[String],
                               step: (DataFrame, DataFrame) => DataFrame,
                               frontier0: Option[DataFrame] = None,
                               cacheLog: Option[scala.collection.mutable
                                 .Buffer[org.apache.spark.rdd.RDD[_]]] = None)
      : DataFrame = {
    // every RDD this call caches is appended to cacheLog (when given),
    // so a caller that must leave the session's OTHER caches alone —
    // refreshDistances runs inside long-lived streaming drivers where
    // concurrent threads may hold their own persistent RDDs — can
    // release exactly this call's residue instead of diffing the
    // session-global persistent-RDD registry (double-unpersist of the
    // ones already released here is a no-op)
    def logged[T](r: org.apache.spark.rdd.RDD[T]): org.apache.spark.rdd.RDD[T] = {
      cacheLog.foreach(_ += r); r
    }
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
      val stepped = step(eCached, frontier)
      // strict improvements only: ties are not frontier (else cycles
      // re-emit forever); a node absent from reached is an improvement
      val improved = stepped.join(
          reached.withColumnRenamed("dist", "__old"), keyCols, "left")
        .filter(col("__old").isNull || col("dist") < col("__old"))
        .select((keyCols :+ "dist").map(col): _*)
      // rebase each round on cached RDD leaves (materializeLeaf
      // discipline): self-referential plans otherwise nest R deep
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
    reached
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
    * shape); driver-path state is n·L longs, so the driver gate is
    * n·L <= broadcastMaxNodes. Landmarks absent from the graph are
    * ignored (the seed rule).
    *
    * @return (node, lm, dist) for every (landmark, node reached from it
    *         within `rounds` hops)
    */
  def landmarkDistances(edges: DataFrame, srcCol: String, dstCol: String,
                        landmarks: DataFrame, rounds: Int,
                        broadcastMaxNodes: Long = DriverCsr.MaxNodes): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val spark = edges.sparkSession
    // raw projection: the driver path's adjacency build dedups inside its
    // one int-keyed exchange, so no upstream string distinct (the
    // buildHopGraph economy); the distributed branch distincts below.
    val eRaw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val lmDf = typedSeeds(eRaw, landmarks)
    val lmVals: Array[Any] = lmDf.collect().map(_.get(0))
    require(lmVals.nonEmpty, "landmarks must be non-empty")
    // driver state is n·L longs: the gate admits n <= bound / L
    val g = DriverCsr.build("Bfs.landmarkDistances", DriverCsr.nodesOf(eRaw, "src", "dst"),
        broadcastMaxNodes / lmVals.length) { (srcIds, dstIds) =>
      PageRank.adjacencyPlan(eRaw, srcIds, dstIds)
        .rdd.map(r => (r.getInt(0), r.getSeq[Int](1).toArray))
    }
    try {
      if (g.n == 0)
        g.nodes.withColumn("lm", col("node")).withColumn("dist", lit(0L)).limit(0)
      else if (g.onDriver) landmarkCsrRounds(g, lmVals, rounds)
      else {
        val e = eRaw.distinct()
        val nodesDf = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
        val d0 = nodesDf.join(lmDf.select(col("node").as("lm")),
            nodesDf("node") === col("lm"))
          .select(col("node"), col("lm"), lit(0L).as("dist"))
        landmarkDistributedState(spark, e, d0, rounds)
      }
    } finally g.close()
  }

  private def landmarkCsrRounds(g: DriverCsr.Graph[(Int, Array[Int])],
                                lmVals: Array[Any], rounds: Int): DataFrame = {
    val (spark, adj, n, nodeVals) = (g.nodes.sparkSession, g.adj, g.n.toInt, g.nodeVals)
    val nodeIdx: Map[Any, Int] = nodeVals.zipWithIndex.toMap
    val L = lmVals.length
    // dist(l)(i): landmark l's distance to node i — all L vectors relax
    // in the SAME map-only job per round (one adjacency pass serves
    // every landmark)
    var dist: Array[Array[Long]] = Array.tabulate(L) { l =>
      val a = Array.fill(n)(INF)
      nodeIdx.get(lmVals(l)).foreach(i => a(i) = 0L)
      a
    }
    var r = 0
    while (r < rounds) {
      val bc = spark.sparkContext.broadcast(dist)
      val mins = adj.flatMap { case (did, sids) =>
        val dv = bc.value
        val best = new Array[Long](dv.length)
        var any = false
        var l = 0
        while (l < dv.length) {
          val dl = dv(l)
          var b = INF
          var j = 0
          while (j < sids.length) {
            val d = dl(sids(j))
            if (d != INF && d + 1 < b) b = d + 1
            j += 1
          }
          best(l) = b
          if (b != INF) any = true
          l += 1
        }
        if (any) Iterator.single((did, best)) else Iterator.empty
      }.collect()
      bc.destroy()
      val next = dist.map(_.clone())
      mins.foreach { case (did, best) =>
        var l = 0
        while (l < best.length) {
          if (best(l) < next(l)(did)) next(l)(did) = best(l)
          l += 1
        }
      }
      dist = next
      r += 1
    }
    g.frame(
      for (l <- (0 until L).iterator; i <- (0 until n).iterator
           if dist(l)(i) != INF)
        yield Row(nodeVals(i), lmVals(l), dist(l)(i)),
      StructField("lm", g.nodeType, nullable = true),
      StructField("dist", LongType, nullable = false))
  }

  private def landmarkDistributedState(spark: SparkSession, e: DataFrame,
                                       d0: DataFrame, rounds: Int): DataFrame =
    distributedRelax(spark, e, d0, rounds, Seq("node", "lm"),
      (eC, f) => eC.join(f, eC("src") === f("node"))
        .groupBy(eC("dst").as("node"), col("lm"))
        .agg((min(col("dist")) + 1L).as("dist")))
      .select(col("node"), col("lm"), col("dist"))

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
                        broadcastMaxNodes: Long = DriverCsr.MaxNodes): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val g = buildWeightedGraph(edges, srcCol, dstCol, weightCol,
      broadcastMaxNodes)
    try g.distances(seeds, rounds) finally g.close()
  }

  /** [[buildHopGraph]]'s weighted sibling: dictionary + cached weighted
    * CSR built once, walks (cold or resumed) run over it. The parallel-
    * edge MIN collapse rides the adjacency's one int-keyed exchange
    * ([[weightedAdjacencyPlan]]) instead of a separate upstream
    * string-keyed groupBy exchange; the positive-weight check runs on
    * the raw edges (same min — collapse takes minima), and the overflow
    * bound uses the collapsed maximum read off the cached adjacency
    * (identical to the old post-collapse bound).
    */
  def buildWeightedGraph(edges: DataFrame, srcCol: String, dstCol: String,
                         weightCol: String,
                         broadcastMaxNodes: Long = DriverCsr.MaxNodes): WeightedGraph = {
    val eRaw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast(LongType).as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val g = DriverCsr.build("Bfs.buildWeightedGraph", DriverCsr.nodesOf(eRaw, "src", "dst"),
        broadcastMaxNodes) { (srcIds, dstIds) =>
      weightedAdjacencyPlan(eRaw, srcIds, dstIds)
        .rdd.map { r =>
          val ins = r.getSeq[Row](1)
          val sids = new Array[Int](ins.length)
          val ws = new Array[Long](ins.length)
          var j = 0
          ins.foreach { x => sids(j) = x.getInt(0); ws(j) = x.getLong(1); j += 1 }
          (r.getInt(0), sids, ws)
        }
    }
    if (g.n == 0) return new WeightedGraph(eRaw, g, 0L)
    val wStats = eRaw.agg(min(col("w")).as("lo"), max(col("w")).as("hi")).head()
    val positive = !wStats.isNullAt(0) && wStats.getLong(0) >= 1L
    if (!positive) g.close()
    require(positive, s"edge weights must be positive longs, found min ${wStats.get(0)}")
    // collapsed max weight, one pass over the cached CSR (which it
    // materializes) — the bound the old post-collapse agg computed
    val maxW = if (!g.onDriver) wStats.getLong(1) else g.adj.map { case (_, _, ws) =>
      var m = 0L; var j = 0
      while (j < ws.length) { if (ws(j) > m) m = ws(j); j += 1 }
      m
    }.fold(0L)(math.max)
    new WeightedGraph(eRaw, g, maxW)
  }

  /** Weighted sibling of [[PageRank.adjacencyPlan]] — the same two
    * broadcast id joins and ONE did-partitioned exchange; the parallel-
    * edge MIN collapse is the (did, sid) aggregate riding that exchange
    * (its distribution is satisfied by the did partitioning, so no
    * second exchange appears — PlanSpec pins it).
    */
  private[graft] def weightedAdjacencyPlan(e: DataFrame, srcIds: DataFrame,
                                           dstIds: DataFrame): DataFrame = e
    .join(broadcast(srcIds), e("src") === srcIds("node"))
    .join(broadcast(dstIds), e("dst") === dstIds("node2"))
    .select(col("id").as("sid"), col("id2").as("did"), col("w"))
    .repartition(col("did"))
    .groupBy(col("did"), col("sid")).agg(min(col("w")).as("w"))
    .groupBy(col("did"))
    .agg(collect_list(struct(col("sid"), col("w"))).as("ins"))

  /** The prebuilt-graph handle for weighted (min-plus) walks — see
    * [[buildWeightedGraph]].
    */
  final class WeightedGraph private[operators] (
      eRaw: DataFrame, g: DriverCsr.Graph[(Int, Array[Int], Array[Long])],
      maxW: Long) {
    private val spark = eRaw.sparkSession

    /** [[Bfs.weightedDistances]] over the prebuilt graph. */
    def distances(seeds: DataFrame, rounds: Int): DataFrame = {
      require(rounds >= 0, s"rounds must be >= 0, got $rounds")
      if (g.n == 0) return emptyOut(spark, g.nodeType)
      require(rounds == 0 || maxW <= (Long.MaxValue - 1L) / rounds,
        s"rounds*maxWeight would overflow: rounds=$rounds maxW=$maxW")
      if (g.onDriver) {
        val seedVals = typedSeedVals(seeds, g.nodeType)
        require(seedVals.nonEmpty, "seeds must be non-empty")
        csrRoundsWeighted(g, rounds,
          g.nodeVals.map(v => if (seedVals.contains(v)) 0L else INF))
      } else {
        val e = collapsed
        val seedDf = typedSeeds(e, seeds)
        require(!seedDf.isEmpty, "seeds must be non-empty")
        weightedDistributedState(spark, e, seedsFrame(e, seedDf), rounds)
      }
    }

    /** [[Bfs.resumeWeightedDistances]] over the prebuilt graph. */
    def resumeFrom(prior: DataFrame, rounds: Int): DataFrame = {
      require(rounds >= 0, s"rounds must be >= 0, got $rounds")
      if (g.n == 0) return emptyOut(spark, g.nodeType)
      val p = snapshot(prior, g.nodeType)
      val maxPriorRow = p.agg(max(col("dist"))).head()
      val maxPrior = if (maxPriorRow.isNullAt(0)) 0L else maxPriorRow.getLong(0)
      require(maxPrior >= 0L, s"snapshot distances must be >= 0, max $maxPrior")
      require(rounds == 0 || maxW <= (Long.MaxValue - 1L - maxPrior) / rounds,
        s"maxPrior + rounds*maxWeight would overflow: " +
          s"maxPrior=$maxPrior rounds=$rounds maxW=$maxW")
      if (g.onDriver) {
        val m = collectDists(p)
        csrRoundsWeighted(g, rounds, g.nodeVals.map(m.getOrElse(_, INF)))
      } else {
        val e = collapsed
        val d0 = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
          .join(p, Seq("node")).select(col("node"), col("dist"))
        weightedDistributedState(spark, e, d0, rounds)
      }
    }

    /** Release the graph's caches ([[DriverCsr.Graph.close]]). */
    def close(): Unit = g.close()

    /** The distributed branch's parallel-edge MIN collapse (the driver
      * branch collapses inside the adjacency exchange instead).
      */
    private def collapsed: DataFrame =
      eRaw.groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
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
                              broadcastMaxNodes: Long = DriverCsr.MaxNodes): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val g = buildWeightedGraph(edges, srcCol, dstCol, weightCol,
      broadcastMaxNodes)
    try g.resumeFrom(prior, rounds) finally g.close()
  }

  /** Driver-CSR min-plus rounds over a prebuilt cached weighted
    * adjacency — [[csrRounds]]' weighted sibling; raw d + w is exact
    * because the caller checked the hoisted overflow bound.
    */
  private def csrRoundsWeighted(g: DriverCsr.Graph[(Int, Array[Int], Array[Long])],
                                rounds: Int, init: Array[Long]): DataFrame = {
    val (spark, adj) = (g.nodes.sparkSession, g.adj)
    var dist = init
    var r = 0
    while (r < rounds) {
      val bc = spark.sparkContext.broadcast(dist)
      val mins = adj.map { case (did, sids, ws) =>
        val dv = bc.value
        var best = INF
        var j = 0
        while (j < sids.length) {
          val d = dv(sids(j))
          if (d != INF && d + ws(j) < best) best = d + ws(j)
          j += 1
        }
        (did, best)
      }.filter(_._2 != Long.MaxValue).collect()
      bc.destroy()
      val next = dist.clone()
      mins.foreach { case (did, d) => if (d < next(did)) next(did) = d }
      dist = next
      r += 1
    }
    distFrame(g, dist)
  }

  private def weightedDistributedState(spark: SparkSession, e: DataFrame,
                                       d0: DataFrame, rounds: Int): DataFrame =
    distributedRelax(spark, e, d0, rounds, Seq("node"),
      (eC, f) => eC.join(f, eC("src") === f("node"))
        .groupBy(eC("dst").as("node"))
        .agg(min(col("dist") + col("w")).as("dist")))
      .select(col("node"), col("dist"))

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
                      broadcastMaxNodes: Long = DriverCsr.MaxNodes): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val g = buildHopGraph(edges, srcCol, dstCol, broadcastMaxNodes)
    try g.resumeFrom(prior, rounds) finally g.close()
  }

  // ------------------------------------------------------------------
  // Incremental refresh (the streaming distance-store shape)
  // ------------------------------------------------------------------

  /** FIXPOINT distances from the seeds — [[hopDistances]] with the round
    * cap removed: the delta-frontier loop runs until the frontier
    * empties, which is the true shortest-path fixpoint (termination:
    * distances are non-negative longs and strictly decrease somewhere
    * every continuing round). Unlike the capped form, the result is a
    * pure function of (graph, seeds) alone — independent of any round
    * parameter — which is what makes it SLICING-INVARIANT state for the
    * incremental store: however edge batches arrive, the fixpoint on
    * the union graph is the same table.
    */
  def hopDistancesToFixpoint(edges: DataFrame, srcCol: String, dstCol: String,
                             seeds: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val seedDf = typedSeeds(e, seeds)
    require(!seedDf.isEmpty, "seeds must be non-empty")
    distributedState(spark, e, seedsFrame(e, seedDf), Int.MaxValue)
  }

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
                       broadcastMaxNodes: Long = DriverCsr.MaxNodes)
                      (consume: DataFrame => Unit): Unit = {
    val spark = edges.sparkSession
    // DRIVER-CSR FIXPOINT when the node count fits the bounded contract
    // (the hopDistances dual, measured ~2× the per-batch speed of the
    // distributed delta loop at bench scale): the prior is node-sized by
    // construction (one row per reached node), so collecting it sits
    // inside the same broadcastMaxNodes contract as every driver path
    // here. Init = prior distances with ALL seeds at 0 — prior values
    // are real path lengths on a subgraph of the grown graph, hence
    // upper bounds, and Bellman–Ford relaxation from seed-anchored
    // upper bounds converges to the exact fixpoint, which is the same
    // slicing-invariant table the distributed branch computes
    // (spec-pinned in StreamingSpec's one-shot equivalence).
    val gHandle = buildHopGraph(edges, srcCol, dstCol, broadcastMaxNodes)
    val usedDriver = gHandle.refreshFixpoint(seeds, prior, consume)
    gHandle.close()
    if (usedDriver) return
    // release EXACTLY this call's leaf caches afterwards: the RDDs are
    // tracked as they are created (here and inside distributedRelax via
    // cacheLog) — a registry-wide before/after diff would also sweep up
    // RDDs cached concurrently by other driver threads
    val cacheLog =
      scala.collection.mutable.Buffer.empty[org.apache.spark.rdd.RDD[_]]
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val ne = newEdges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().persist()
    val seedDf = typedSeeds(e, seeds)
    // rebase the prior on a cached RDD leaf (materializeLeaf discipline)
    // rather than a plan-level cache: the caller typically reads the
    // prior FROM the very table the improvements append to, and a
    // plan-level cache would (a) trip the same-table read/write check in
    // the append job and (b) be invalidated — and recomputed against the
    // post-append table — by the append itself
    val p0 = prior.select(
      col("node").cast(e.schema.fields(0).dataType).as("node"),
      col("dist").cast(LongType).as("dist"))
    val pRdd = p0.rdd
    cacheLog += pRdd
    pRdd.cache(); pRdd.count()
    val p = spark.createDataFrame(pRdd, p0.schema)
    // seed activations: seeds first appearing on the graph via this batch
    val newNodes = ne.select(col("src").as("node"))
      .union(ne.select(col("dst").as("node"))).distinct()
    val seedAct = newNodes.join(seedDf, Seq("node"), "left_semi")
      .join(p, Seq("node"), "left_anti")
      .select(col("node"), lit(0L).as("dist"))
    // one relax pass of the batch edges against the prior
    val relaxed = ne.join(p, ne("src") === p("node"))
      .groupBy(ne("dst").as("node")).agg((min(col("dist")) + 1L).as("dist"))
    val f0 = seedAct.unionByName(relaxed)
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
        val fixed = distributedRelax(spark, e, d0, Int.MaxValue, Seq("node"),
          (eC, f) => eC.join(f, eC("src") === f("node"))
            .groupBy(eC("dst").as("node"))
            .agg((min(col("dist")) + 1L).as("dist")),
          frontier0 = Some(f0), cacheLog = Some(cacheLog))
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
