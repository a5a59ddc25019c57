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
  * Scale shape: long-keyed graphs within the [[DriverCsr]] gate run on
  * the driver. Otherwise the symmetric edge list persists
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
                rounds: Int): DataFrame = {
    val g = buildLpaGraph(edges, srcCol, dstCol)
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
                      prior: DataFrame, rounds: Int): DataFrame = {
    val g = buildLpaGraph(edges, srcCol, dstCol)
    try g.resumeFrom(prior, rounds) finally g.close()
  }

  /** WEIGHTED [[propagate]]: each neighbor's vote counts `weightCol`
    * (an exact integer — a near-dup similarity as a float weight would
    * reintroduce order-sensitive float sums; quantize upstream, e.g.
    * the number of matching MinHash functions). Duplicate edges keep
    * their MAXIMUM weight (a deterministic dedup rule); winner stays
    * (weight-sum desc, label asc).
    */
  def propagateWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                        weightCol: String, rounds: Int): DataFrame = {
    val g = lpaGraph(edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"),
      col(weightCol).cast("long").as("__w")))
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
    val spark = edges.sparkSession

    def rebase(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[Row]) = {
      val rdd = df.rdd
      rdd.cache()
      (spark.createDataFrame(rdd, df.schema), rdd)
    }

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
    var (labels, labelsRdd) = rebase(startLabels)

    var r = 0
    while (r < rounds) {
      val (l2, r2) = rebase(voteRound(sym, labels))
      l2.count() // materializes r2 — the previous leaf is now lineage-only
      labelsRdd.unpersist(blocking = false)
      labels = l2; labelsRdd = r2
      r += 1
    }
    labels
  }

  /** Shared-build handle for the q198 snapshot+resume gate: the
    * [[DriverCsr]] graph built once; cold and resumed propagation runs
    * over it. Non-long-keyed or oversized graphs get a fallback handle
    * that runs each walk on the distributed loop.
    */
  def buildLpaGraph(edges: DataFrame, srcCol: String,
                    dstCol: String): LpaGraph =
    lpaGraph(edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"),
      lit(1L).as("__w")))

  /** Long-keyed graphs that fit the gate take the driver loop (one
    * map-only job per round, no per-round shuffle at all): the dictionary
    * is SORTED, so a smaller index is a smaller label and the tie-break
    * carries over. Other key types take the distributed loop, spec-pinned
    * bit-identical.
    */
  private def lpaGraph(e: DataFrame): LpaGraph = {
    val longKeyed = e.schema("__s").dataType ==
      org.apache.spark.sql.types.LongType &&
      e.schema("__d").dataType == org.apache.spark.sql.types.LongType
    if (!longKeyed) return new LpaGraph(e, None)
    // Node inventory from the CANONICAL edge list (self-loops and null
    // endpoints dropped), the exact set the distributed path seeds its
    // labels from (sym.u) — raw endpoints would emit self-loop-only
    // nodes here but not there, breaking the bit-identity contract
    // when a graph grows past the gate.
    val canon0 = e.select(least(col("__s"), col("__d")).as("a"),
        greatest(col("__s"), col("__d")).as("b"))
      .filter(col("a") =!= col("b"))
    val g = DriverCsr.build("LabelPropagation.buildLpaGraph", DriverCsr.nodesOf(canon0, "a", "b"),
        DriverCsr.MaxNodes, sorted = true) { (ids, ids2) =>
      // the weighted symmetric CSR: dedup to max weight, both directions
      val canon = e.select(least(col("__s"), col("__d")).as("a"),
          greatest(col("__s"), col("__d")).as("b"), col("__w"))
        .filter(col("a") =!= col("b"))
        .groupBy(col("a"), col("b")).agg(max(col("__w")).as("w"))
      canon
        .join(broadcast(ids), canon("a") === ids("node"))
        .join(broadcast(ids2), canon("b") === ids2("node2"))
        .select(col("id").as("ai"), col("id2").as("bi"), col("w"))
        .select(explode(array(
          struct(col("ai").as("u"), col("bi").as("v"), col("w")),
          struct(col("bi").as("u"), col("ai").as("v"), col("w")))).as("e"))
        .select(col("e.u"), col("e.v"), col("e.w"))
        .repartition(col("u"))
        .groupBy(col("u"))
        .agg(collect_list(col("v")).as("vs"), collect_list(col("w")).as("ws"))
        .rdd.map(r => (r.getInt(0), r.getSeq[Int](1).toArray,
          r.getSeq[Long](2).toArray))
    }
    new LpaGraph(e, Some(g))
  }

  /** See [[buildLpaGraph]]. */
  final class LpaGraph private[operators] (
      e: DataFrame, g: Option[DriverCsr.Graph[(Int, Array[Int], Array[Long])]]) {

    private def driver = g.filter(_.onDriver)

    /** [[LabelPropagation.propagate]] over the prebuilt graph. */
    def propagate(rounds: Int): DataFrame = {
      require(rounds >= 1, s"rounds must be >= 1, got $rounds")
      driver match {
        case Some(c) => lpaLoop(c, rounds, init = None)
        case None => lpaDistributed(e, rounds, initLabels = None)
      }
    }

    /** [[LabelPropagation.resumePropagate]] over the prebuilt graph. */
    def resumeFrom(prior: DataFrame, rounds: Int): DataFrame = {
      require(rounds >= 1, s"rounds must be >= 1, got $rounds")
      val p = prior.select(col("node"), col("label"))
      driver match {
        case Some(c) =>
          // the snapshot is node-sized, within the driver contract
          val m = p.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
          lpaLoop(c, rounds, init = Some(m))
        case None => lpaDistributed(e, rounds, initLabels = Some(p))
      }
    }

    /** Release the graph's caches ([[DriverCsr.Graph.close]]). */
    def close(): Unit = g.foreach(_.close())
  }

  /** The driver path's rounds: each is ONE map-only job over the cached
    * weighted CSR with the n-int label vector broadcast — votes tally in
    * a per-row open-address pass over the neighbor array, winner =
    * (weight desc, label asc). Bit-identical to the distributed loop
    * (LabelPropagationSpec pins both paths on the same fixtures).
    */
  private def lpaLoop(g: DriverCsr.Graph[(Int, Array[Int], Array[Long])],
                      rounds: Int,
                      init: Option[scala.collection.Map[Long, Long]]): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField}
    val spark = g.nodes.sparkSession
    val (nodeVals, csr, n) = (g.nodeVals, g.adj, g.n.toInt)

    // warm start: snapshot labels dictionary-compress to indexes; an
    // unseen node or a dangling label (no longer in the inventory —
    // binarySearch < 0) falls back to the node's own id, the cold value
    var labels = init match {
      case None => Array.tabulate(n)(identity)
      case Some(m) =>
        val keys = nodeVals.map(_.asInstanceOf[Long])
        Array.tabulate(n) { j =>
          m.get(keys(j)) match {
            case Some(l) =>
              val idx = java.util.Arrays.binarySearch(keys, l)
              if (idx >= 0) idx else j
            case None => j
          }
        }
    }
    var r = 0
    while (r < rounds) {
      val bc = spark.sparkContext.broadcast(labels)
      val next = csr.map { case (u, vs, ws) =>
        val lv = bc.value
        // per-node vote tally over the (small) neighbor list
        val labs = new Array[Int](vs.length)
        val sums = new Array[Long](vs.length)
        var k = 0
        var j = 0
        while (j < vs.length) {
          val l = lv(vs(j))
          var f = 0
          var found = -1
          while (f < k && found < 0) { if (labs(f) == l) found = f; f += 1 }
          // addExact: the distributed path's long sum throws under ANSI
          // on overflow — the driver loop must fail loudly too, never
          // wrap silently (the weighted-vote overflow asymmetry)
          if (found >= 0) sums(found) = Math.addExact(sums(found), ws(j))
          else { labs(k) = l; sums(k) = ws(j); k += 1 }
          j += 1
        }
        var best = 0
        var f = 1
        while (f < k) {
          if (sums(f) > sums(best) ||
              (sums(f) == sums(best) && labs(f) < labs(best))) best = f
          f += 1
        }
        (u, labs(best))
      }.collect()
      bc.destroy()
      val arr = labels.clone()
      next.foreach { case (u, l) => arr(u) = l }
      labels = arr
      r += 1
    }
    g.frame(Iterator.tabulate(n)(i => Row(nodeVals(i), nodeVals(labels(i)))),
      StructField("label", LongType, nullable = false))
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
