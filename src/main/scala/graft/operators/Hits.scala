package graft.operators

import graft.functions.IntOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg 1999) in exact integer
  * arithmetic — the second classic link-analysis score next to
  * [[PageRank]]: an AUTHORITY is pointed at by good hubs, a HUB points
  * at good authorities. On a part→supplier or page→page graph the two
  * sides answer different questions than PageRank's single stationary
  * score (a part that fans out to many strong suppliers is a hub even
  * if nothing points at it).
  *
  * Determinism: classic HITS normalizes by an L2 norm — a float sqrt
  * that neither replays across engines nor survives reorderings. Here
  * each half-round renormalizes by the MAXIMUM instead:
  *
  *   a_k(v) = ⌊Σ_{u→v} h_{k-1}(u) · scale / max_w Σ h_{k-1}⌋
  *   h_k(u) = ⌊Σ_{u→v} a_k(v)   · scale / max_w Σ a_k⌋
  *
  * max-normalization preserves the RANKING each round exactly (divide
  * by the same positive constant, truncation is monotone) and keeps
  * every value in [0, scale] — the fixed point is the same principal
  * direction, expressed per-unit-of-max rather than per-unit-of-norm.
  * Every step is a commutative long sum and one truncating division, so
  * R rounds unroll in the DuckDB oracle with zero tolerance (the
  * [[KMeans]] fixed-round discipline).
  *
  * Scale shape: within the [[DriverCsr]] gate the edges are collected
  * once, deduplicated into an int CSR on the driver, and both half-rounds
  * run as array loops (no Spark job per round). Above it, the
  * deduplicated edge list persists TWICE, partitioned on each join key
  * (the LabelPropagation lesson applied to a two-sided iteration):
  * rounds exchange only node-sized score frames, and per round the
  * driver collects exactly two longs (the maxima). Overflow bound (ANSI throws):
  * scale² · max-degree < 2⁶³ — at the default 10⁶ scale that admits
  * degrees to ~9·10⁶; lower `scale` for denser graphs.
  */
object Hits {

  /** `rounds` full HITS rounds from the uniform start h₀ = scale;
    * returns (node, hub_q, auth_q). Multi-edges collapse (DISTINCT —
    * HITS on a multigraph double-counts a repeated link; dedup is the
    * documented rule). Nodes appear iff they touch an edge.
    */
  def hubsAuthorities(edges: DataFrame, srcCol: String, dstCol: String,
                      rounds: Int, scale: Long = 1000000L,
                      maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    val g = buildHitsGraph(edges, srcCol, dstCol, maxEdges)
    try g.scores(rounds, scale) finally g.close()
  }

  /** Persist a HITS score frame as a managed table — the
    * [[PageRank.saveRanks]] serving discipline for hub/authority
    * scores: compute once, snapshot, later sessions read the table or
    * [[resumeHubsAuthorities]] from it instead of restarting cold.
    */
  def saveScores(spark: org.apache.spark.sql.SparkSession,
                 scores: DataFrame, table: String): Unit = {
    graft.sources.Sinks.dropTableAndStaleLocation(spark, table)
    scores.select(col("node"), col("hub_q"), col("auth_q"))
      .write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** RESUME the HITS iteration from a prior snapshot: run `rounds` MORE
    * full rounds starting each node's hub score at its snapshot `hub_q`
    * (the hub vector IS the carried state — each round's authority
    * vector derives from it), nodes the snapshot never saw start at the
    * cold value `scale`. The round is a pure function of (graph, hub
    * vector), so on an unchanged graph resume(snapshot of round R, k) ≡
    * a cold run of R+k rounds BIT-IDENTICALLY — the q197 gate (q185's
    * oracle, verbatim arithmetic). On a grown graph it is the
    * incremental-refresh shape, re-converging from the old scores.
    */
  def resumeHubsAuthorities(edges: DataFrame, srcCol: String, dstCol: String,
                            prior: DataFrame, rounds: Int,
                            scale: Long = 1000000L,
                            maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    val g = buildHitsGraph(edges, srcCol, dstCol, maxEdges)
    try g.resumeFrom(prior, rounds, scale) finally g.close()
  }

  private def checkRounds(rounds: Int, scale: Long): Unit = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(scale >= 1, s"scale must be >= 1, got $scale")
  }

  /** The big-graph loop over the null-filtered (s, d) edges. */
  private def hitsDistributed(eF: DataFrame, rounds: Int, scale: Long,
                              priorHubs: Option[DataFrame]): DataFrame = {
    // multi-edge dedup: the per-round sums would double-count otherwise
    val e0 = eF.distinct()
    val eByS = e0.repartition(col("s"))
    eByS.persist()
    val eByD = eByS.repartition(col("d"))
    eByD.persist()

    val (nodes, nodesRdd) = DriverCsr.rebase(
      eByS.select(col("s").as("node"))
        .union(eByS.select(col("d").as("node"))).distinct())

    def normalized(raw: DataFrame, keyCol: String, valCol: String,
                   outCol: String): DataFrame = {
      val mx = raw.agg(max(col(valCol))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
      val scaled =
        if (mx <= 0) lit(0L)
        else IntOps.intDiv(coalesce(col(valCol), lit(0L)) * scale, lit(mx))
      nodes.join(raw.withColumnRenamed(keyCol, "node"), Seq("node"), "left")
        .select(col("node"), scaled.as(outCol))
    }

    var (h, hRdd) = DriverCsr.rebase(priorHubs match {
      case None => nodes.select(col("node"), lit(scale).as("h"))
      case Some(p) => nodes
        .join(p.select(col("node"), col("hub_q").as("__ph")), Seq("node"), "left")
        .select(col("node"), coalesce(col("__ph"), lit(scale)).as("h"))
    })
    var a: DataFrame = null
    var aRdd: org.apache.spark.rdd.RDD[Row] = null
    var r = 0
    while (r < rounds) {
      val araw = eByS
        .join(h.select(col("node").as("s"), col("h")), "s")
        .groupBy(col("d")).agg(sum(col("h")).as("ar"))
      val (a2, aR2) = DriverCsr.rebase(normalized(araw, "d", "ar", "a"))
      a2.count()
      if (aRdd != null) aRdd.unpersist(blocking = false)
      a = a2; aRdd = aR2
      val hraw = eByD
        .join(a.select(col("node").as("d"), col("a")), "d")
        .groupBy(col("s")).agg(sum(col("a")).as("hr"))
      val (h2, hR2) = DriverCsr.rebase(normalized(hraw, "s", "hr", "h"))
      h2.count()
      hRdd.unpersist(blocking = false)
      h = h2; hRdd = hR2
      r += 1
    }
    nodesRdd.unpersist(blocking = false)
    h.join(a, Seq("node"))
      .select(col("node"), col("h").as("hub_q"), col("a").as("auth_q"))
  }

  /** Shared-build handle for the q197 snapshot+resume gate: the gated
    * edges and their CSR built once, cold and resumed walks run over
    * them. Above the gate each walk runs the distributed loop over the
    * cached edges.
    */
  def buildHitsGraph(edges: DataFrame, srcCol: String, dstCol: String,
                     maxEdges: Long = DriverCsr.MaxEdges): HitsGraph =
    new HitsGraph(DriverCsr.edges("Hits.buildHitsGraph",
      edges.select(col(srcCol).as("s"), col(dstCol).as("d"))
        .filter(col("s").isNotNull && col("d").isNotNull), maxEdges))

  /** See [[buildHitsGraph]]. */
  final class HitsGraph private[operators] (g: DriverCsr.Edges) {

    private lazy val adj = DriverCsr.csr(g.nodeVals.length, g.src, g.dst)

    /** [[Hits.hubsAuthorities]] over the prebuilt graph. */
    def scores(rounds: Int, scale: Long = 1000000L): DataFrame = {
      checkRounds(rounds, scale)
      if (g.onDriver) hitsLoop(g, adj, rounds, scale, Map.empty)
      else hitsDistributed(g.cached, rounds, scale, priorHubs = None)
    }

    /** [[Hits.resumeHubsAuthorities]] over the prebuilt graph. */
    def resumeFrom(prior: DataFrame, rounds: Int,
                   scale: Long = 1000000L): DataFrame = {
      checkRounds(rounds, scale)
      val p = prior.select(col("node"), col("hub_q"))
      if (g.onDriver)
        // the snapshot is node-sized, within the driver contract
        hitsLoop(g, adj, rounds, scale, p.collect().map(r => (r.get(0), r.getLong(1))).toMap)
      else hitsDistributed(g.cached, rounds, scale, priorHubs = Some(p))
    }

    /** Release the cached edges ([[DriverCsr.Edges.close]]). */
    def close(): Unit = g.close()
  }

  /** The driver path's rounds over the deduplicated out-adjacency: the
    * authority half-round scatters a[v] += h[u] along every edge u→v,
    * the hub half-round gathers h[u] = Σ a[v] over u's targets; maxima
    * and normalization are O(n) longs. Bit-identical to the distributed
    * loop (HitsSpec pins it).
    */
  private def hitsLoop(g: DriverCsr.Edges, adj: DriverCsr.Csr, rounds: Int, scale: Long,
                       initH: Map[Any, Long]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val (n, off, to) = (adj.n, adj.off, adj.to)

    // Overflow discipline: the distributed path's long sums and ANSI
    // multiply THROW past the documented scale²·max-degree bound — the
    // driver loop must fail the same way, never wrap silently into wrong
    // scores. The proof is HOISTED out of the per-edge loops (the
    // PageRank ranksLoop discipline): every score is in
    // [0, scale] after normalize (raw(j) <= mx ⇒ ⌊raw·scale/mx⌋ <=
    // scale) and starts at scale, so every accumulator slot is bounded
    // by n·scale — one multiplyExact(n, scale) up front proves every
    // raw add below exact. Only if that bound itself overflows (or a
    // warm-start snapshot carries a score past scale, breaking the
    // [0, scale] premise) do the loops run per-edge checked, throwing
    // exactly where the distributed path would.
    def normalize(raw: Array[Long]): Array[Long] = {
      val mx = if (n == 0) 0L else raw.max
      if (mx <= 0) new Array[Long](n)
      // raw(j) <= mx, so one multiplyExact(mx, scale) proves the whole
      // column; the checked tabulate only runs past that bound
      else if (scala.util.Try(Math.multiplyExact(mx, scale)).isSuccess)
        Array.tabulate(n)(j => raw(j) * scale / mx)
      else Array.tabulate(n)(j => Math.multiplyExact(raw(j), scale) / mx)
    }

    // warm start: nodes the snapshot never saw start at the cold value
    var h = Array.tabulate(n)(j => initH.getOrElse(g.nodeVals(j), scale))
    val rawSafe = h.forall(v => v >= 0 && v <= scale) &&
      scala.util.Try(Math.multiplyExact(n.toLong, scale)).isSuccess
    def add(x: Long, y: Long): Long = if (rawSafe) x + y else Math.addExact(x, y)
    var a = new Array[Long](n)
    var r = 0
    while (r < rounds) {
      val aRaw = new Array[Long](n)
      var u = 0
      while (u < n) {
        var j = off(u)
        while (j < off(u + 1)) { aRaw(to(j)) = add(aRaw(to(j)), h(u)); j += 1 }
        u += 1
      }
      a = normalize(aRaw)
      val hRaw = new Array[Long](n)
      u = 0
      while (u < n) {
        var j = off(u)
        while (j < off(u + 1)) { hRaw(u) = add(hRaw(u), a(to(j))); j += 1 }
        u += 1
      }
      h = normalize(hRaw)
      r += 1
    }
    g.nodeFrame(Iterator.tabulate(n)(i => Row(g.nodeVals(i), h(i), a(i))),
      StructField("hub_q", LongType, nullable = false),
      StructField("auth_q", LongType, nullable = false))
  }
}
