package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Synchronous label propagation over an undirected graph (Raghavan et
  * al. 2007, made DETERMINISTIC): community detection for the curation
  * graph shapes [[ConnectedComponents]] is too coarse for — a near-dup /
  * citation / co-occurrence graph is usually ONE giant component, while
  * its communities (template families, topic clusters, spam rings) are
  * what a curation pass actually samples or caps by.
  *
  * Classic LPA is notoriously nondeterministic (random visit order,
  * random tie-breaks). This variant replays bit-identically on any
  * engine: all nodes update SIMULTANEOUSLY each round (synchronous), a
  * node's new label is the most frequent label among its NEIGHBORS from
  * the previous round, and ties break to the SMALLEST label — so round
  * state is a pure function of (graph, round count), and the DuckDB
  * oracle unrolls the same R rounds as plain CTEs (q163). A fixed round
  * budget rather than fixpoint detection: synchronous LPA can 2-cycle on
  * bipartite-ish regions by design, so "fixed R" IS the deterministic
  * semantics, the [[KCore.peel]] oracle-form discipline.
  *
  * Scale shape: within the [[DriverCsr]] gate the edges are collected
  * once into a sorted dictionary (id order is Spark's order of the key
  * type, so the smallest-label tie-break compares ids), symmetrized and
  * collapsed into an int CSR on the driver, and every round is an array
  * loop (no Spark job per round). Above it the symmetric edge list persists
  * HASH-PARTITIONED on the vote key, so R rounds pay ONE edge exchange
  * total — each round joins the cached partitioning against the
  * node-sized label frame (only the label frame exchanges), then a
  * map-side-combined (node, label) count and a struct-min argmax — no
  * driver-side graph state at any point. Labels rebase onto a cached
  * RDD leaf per round (plan size O(1) in rounds) and each superseded
  * leaf is released once its successor materializes (the Closure
  * unpersist discipline). Caller releases the final leaves via
  * [[graft.Storage.releaseAll]] — the Verify/Bench contract.
  */
object LabelPropagation {

  /** `rounds` synchronous rounds from the identity labeling; returns
    * (node, label). Nodes appear iff they have at least one CANONICAL
    * edge — a self-loop or a null endpoint is not an edge here (votes
    * flow between DISTINCT non-null neighbors), so a node whose only
    * rows are self-loops is absent from the output, identically on both
    * scale paths (LabelPropagationSpec pins the self-loop fixture).
    * Labels are the node-id domain, so `label` doubles as a stable
    * community representative.
    */
  def propagate(edges: DataFrame, srcCol: String, dstCol: String,
                rounds: Int, maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    val g = buildLpaGraph(edges, srcCol, dstCol, maxEdges)
    try g.propagate(rounds) finally g.close()
  }

  /** Persist a labeling as a managed table — the [[PageRank.saveRanks]]
    * serving discipline applied to community labels: compute once,
    * snapshot, and later sessions either read the table directly (the
    * q169 curation-cap consumer) or [[resumePropagate]] from it.
    */
  def saveLabels(spark: org.apache.spark.sql.SparkSession,
                 labels: DataFrame, table: String): Unit = {
    graft.sources.Sinks.dropTableAndStaleLocation(spark, table)
    labels.select(col("node"), col("label"))
      .write.mode("overwrite").format("parquet").saveAsTable(table)
  }

  /** RESUME the synchronous propagation from a prior snapshot: run
    * `rounds` MORE rounds with each node starting at its snapshot label.
    * A node the snapshot never saw — and a node whose snapshot label no
    * longer names a node of the CURRENT graph (its representative left)
    * — starts at its own id, the cold value; both rules apply
    * identically on the driver and distributed paths. The round is a
    * pure function of (graph, label vector), so on an unchanged graph
    * resume(snapshot of round R, k) ≡ a cold run of R+k rounds
    * BIT-IDENTICALLY — the q198 gate (q163's oracle, verbatim
    * arithmetic). On a grown graph it is the warm-start refresh shape.
    */
  def resumePropagate(edges: DataFrame, srcCol: String, dstCol: String,
                      prior: DataFrame, rounds: Int,
                      maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    val g = buildLpaGraph(edges, srcCol, dstCol, maxEdges)
    try g.resumeFrom(prior, rounds) finally g.close()
  }

  /** WEIGHTED [[propagate]]: each neighbor's vote counts `weightCol`
    * (an exact integer — a near-dup similarity as a float weight would
    * reintroduce order-sensitive float sums; quantize upstream, e.g.
    * the number of matching MinHash functions). Duplicate edges keep
    * their MAXIMUM weight (a deterministic dedup rule); winner stays
    * (weight-sum desc, label asc). A null weight fails loudly at
    * execution on both sides of the gate.
    */
  def propagateWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                        weightCol: String, rounds: Int,
                        maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    val w = col(weightCol).cast("long")
    val g = lpaGraph(edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"),
      when(w.isNotNull, w).otherwise(raise_error(
        lit("propagateWeighted: weight must not be null")).cast("long")).as("__w")), maxEdges)
    try g.propagate(rounds) finally g.close()
  }

  /** The canonical symmetric edge list (dedup to max weight, both
    * directions), persisted HASH-PARTITIONED ON `v` — the per-round
    * vote join keys on v, so R rounds pay this ONE edge exchange and
    * each round exchanges only the node-sized label frame (the cached
    * partitioning satisfies the join's distribution requirement;
    * LabelPropagationSpec pins the round plan). Columns: (u, v, w).
    */
  private[operators] def symPartitioned(edges: DataFrame): DataFrame = {
    val canon = edges.select(least(col("__s"), col("__d")).as("a"),
        greatest(col("__s"), col("__d")).as("b"), col("__w"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(max(col("__w")).as("w"))
    val sym = canon.select(col("a").as("u"), col("b").as("v"), col("w"))
      .union(canon.select(col("b").as("u"), col("a").as("v"), col("w")))
      .repartition(col("v"))
    sym.persist()
    sym
  }

  /** One synchronous round: each neighbor votes its previous-round
    * label with its edge weight; winner = (weight-sum desc, label asc)
    * via one lexicographic struct-min. Returns the next (node, label).
    */
  private[operators] def voteRound(sym: DataFrame, labels: DataFrame): DataFrame =
    sym
      .join(labels.select(col("node").as("v"), col("label")), "v")
      .groupBy(col("u"), col("label"))
      .agg(sum(col("w")).as("c"))
      .groupBy(col("u"))
      .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("w"))
      .select(col("u").as("node"), col("w.l").as("label"))

  /** The big-graph loop over the (`__s`, `__d`, `__w`) vote edges. */
  private def lpaDistributed(edges: DataFrame, rounds: Int,
                             initLabels: Option[DataFrame]): DataFrame = {
    val sym = symPartitioned(edges)

    val nodesD = sym.select(col("u").as("node")).distinct()
    val startLabels = initLabels match {
      case None => nodesD.select(col("node"), col("node").as("label"))
      case Some(p) =>
        // snapshot label, validated against the CURRENT node inventory:
        // unseen node OR dangling label (its representative left the
        // graph) → own id, matching the driver path's fallback exactly
        nodesD
          .join(p.select(col("node"), col("label").as("__pl")),
            Seq("node"), "left")
          .join(nodesD.select(col("node").as("__vn")),
            col("__pl") === col("__vn"), "left")
          .select(col("node"),
            when(col("__vn").isNotNull, col("__pl")).otherwise(col("node"))
              .as("label"))
    }
    var (labels, labelsRdd) = DriverCsr.rebase(startLabels)

    var r = 0
    while (r < rounds) {
      val (l2, r2) = DriverCsr.rebase(voteRound(sym, labels))
      l2.count() // materializes r2 — the previous leaf is now lineage-only
      labelsRdd.unpersist(blocking = false)
      labels = l2; labelsRdd = r2
      r += 1
    }
    labels
  }

  /** Shared-build handle for the q198 snapshot+resume gate: the gated
    * edges and their CSR built once; cold and resumed propagation runs
    * over them. Above the gate each walk runs the distributed loop over
    * the cached edges.
    */
  def buildLpaGraph(edges: DataFrame, srcCol: String, dstCol: String,
                    maxEdges: Long = DriverCsr.MaxEdges): LpaGraph =
    lpaGraph(edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"),
      lit(1L).as("__w")), maxEdges)

  /** The gate over the vote edges, self-loops and null endpoints dropped
    * first (`=!=` is Spark's equality, the distributed loop's canonical
    * filter), so the dictionary holds exactly the nodes the distributed
    * loop seeds its labels from. Ids are sorted: a smaller id is a
    * smaller label under Spark's ordering, whatever the key type.
    */
  private def lpaGraph(e: DataFrame, maxEdges: Long): LpaGraph =
    new LpaGraph(DriverCsr.edges("LabelPropagation.buildLpaGraph",
      e.filter(col("__s").isNotNull && col("__d").isNotNull && col("__s") =!= col("__d")),
      maxEdges, sorted = true))

  /** See [[buildLpaGraph]]. */
  final class LpaGraph private[operators] (g: DriverCsr.Edges) {

    // both directions of every edge; duplicates keep their maximum weight
    private lazy val adj = {
      val w = g.rows.map(_.getLong(2))
      DriverCsr.csr(g.nodeVals.length, g.src ++ g.dst, g.dst ++ g.src, w ++ w, math.max)
    }

    /** [[LabelPropagation.propagate]] over the prebuilt graph. */
    def propagate(rounds: Int): DataFrame = {
      require(rounds >= 1, s"rounds must be >= 1, got $rounds")
      if (g.onDriver) lpaLoop(g, adj, rounds, Array.tabulate(g.nodeVals.length)(identity))
      else lpaDistributed(g.cached, rounds, initLabels = None)
    }

    /** [[LabelPropagation.resumePropagate]] over the prebuilt graph. */
    def resumeFrom(prior: DataFrame, rounds: Int): DataFrame = {
      require(rounds >= 1, s"rounds must be >= 1, got $rounds")
      val p = prior.select(col("node"), col("label"))
      if (g.onDriver) {
        // the snapshot is node-sized, within the driver contract; an
        // unseen node or a dangling label (no longer a node of the
        // graph) falls back to the node's own id, the cold value
        val t = g.nodeType
        val m = p.select(col("node").cast(t), col("label").cast(t)).collect()
          .map(r => (g.idOf(r.get(0)), g.idOf(r.get(1)))).toMap
        lpaLoop(g, adj, rounds, Array.tabulate(g.nodeVals.length)(j =>
          m.get(j).filter(_ >= 0).getOrElse(j)))
      } else lpaDistributed(g.cached, rounds, initLabels = Some(p))
    }

    /** Release the cached edges ([[DriverCsr.Edges.close]]). */
    def close(): Unit = g.close()
  }

  /** The driver path's rounds: every node tallies its neighbors'
    * previous-round labels by edge weight in one pass over its CSR row,
    * winner = (weight desc, label asc). Bit-identical to the distributed
    * loop (LabelPropagationSpec pins both paths on the same fixtures).
    */
  private def lpaLoop(g: DriverCsr.Edges, adj: DriverCsr.Csr, rounds: Int,
                      init: Array[Int]): DataFrame = {
    import org.apache.spark.sql.types.StructField
    val (n, off, to, w) = (adj.n, adj.off, adj.to, adj.w)
    var labels = init
    var r = 0
    while (r < rounds) {
      val next = new Array[Int](n)
      var u = 0
      while (u < n) {
        // per-node vote tally over the (small) neighbor list
        val labs = new Array[Int](off(u + 1) - off(u))
        val sums = new Array[Long](labs.length)
        var k = 0
        var j = off(u)
        while (j < off(u + 1)) {
          val l = labels(to(j))
          var f = 0
          while (f < k && labs(f) != l) f += 1
          // addExact: the distributed path's long sum throws under ANSI
          // on overflow — the driver loop must fail loudly too
          if (f < k) sums(f) = Math.addExact(sums(f), w(j))
          else { labs(k) = l; sums(k) = w(j); k += 1 }
          j += 1
        }
        var best = 0
        var f = 1
        while (f < k) {
          if (sums(f) > sums(best) || (sums(f) == sums(best) && labs(f) < labs(best))) best = f
          f += 1
        }
        next(u) = labs(best)
        u += 1
      }
      labels = next
      r += 1
    }
    g.nodeFrame(Iterator.tabulate(n)(i => Row(g.nodeVals(i), g.nodeVals(labels(i)))),
      StructField("label", g.nodeType, nullable = false))
  }

  /** Community roll-up: one row per surviving label with its member
    * count — the cap/sample planning view (which template families are
    * big enough to need a per-community cap).
    */
  def communitySizes(edges: DataFrame, srcCol: String, dstCol: String,
                     rounds: Int): DataFrame =
    propagate(edges, srcCol, dstCol, rounds)
      .groupBy(col("label")).agg(count(lit(1)).as("n_members"))
}
