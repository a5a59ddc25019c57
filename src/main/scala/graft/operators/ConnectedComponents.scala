package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Connected components over an undirected edge list — the resolution
  * step that turns near-duplicate PAIRS into duplicate CLUSTERS: every
  * document in a component maps to one canonical id (the component's
  * minimum), which is what a dedup pipeline actually deletes against.
  * [[graft.ops.Closure]] covers functional (successor) graphs; this
  * covers the symmetric similarity graph.
  *
  * Two execution paths, picked by the [[DriverCsr.edges]] gate over the
  * symmetric edge list:
  *
  *   - '''Driver union-find''' (within the gate): after LSH blocking the
  *     duplicate graph is edge-sparse — pairs above a 0.5 Jaccard cut
  *     number in the thousands even when the corpus numbers in the
  *     billions — so the common case is a graph that fits in one bounded
  *     driver read. Union-find with path compression over the gate's
  *     sorted dictionary resolves it in one pass, replacing O(log d)
  *     multi-job distributed rounds (seconds of pure scheduling latency)
  *     with milliseconds.
  *   - '''Distributed min-label propagation with POINTER JUMPING''', to
  *     fixpoint, for everything larger: each round every node takes the
  *     minimum of its own label and its neighbors' labels, then
  *     shortcuts through its label's label (a label is always a node id
  *     of the same component, so the jump is sound and only
  *     accelerates); an accumulator counts changed labels so convergence
  *     is detected on the same job that materializes the round. The jump
  *     makes a length-d chain converge in O(log d) rounds rather than
  *     O(d); `maxIter` guards pathological input. Each round rebases
  *     onto a fresh cached-RDD leaf (the Closure pattern —
  *     `localCheckpoint` carries child statistics and a join loop
  *     squares them until planning hangs). The symmetric edge list is
  *     the gate's cached frame.
  *
  * Both paths produce identical results (pinned in
  * ConnectedComponentsSpec across random graphs): the driver's dictionary
  * is sorted under Spark's ordering of the key type, so its minimum id is
  * Spark's `min`. Null endpoints are rejected loudly on both paths, from
  * the gate's count (a null has no defined component). Caller releases
  * storage after its action ([[graft.Storage.releaseAll]] — the
  * Verify/Bench contract).
  */
object ConnectedComponents {

  /** INCREMENTAL maintenance: fold a NEW batch of edges into an existing
    * labeling without re-scanning the accumulated edge set. The prior
    * labeling compresses to STAR edges (node → its component rep, one
    * edge per non-rep node — node-count-sized, independent of how many
    * raw edges produced it), and [[components]] runs over
    * star ∪ batch: the stars connect exactly the old components, the
    * batch edges add/merge, so the result equals the one-shot run over
    * ALL edges ever ingested (min labels are preserved because every
    * node of a non-singleton component appears in its stars — the q180
    * gate discipline: incremental ≡ one-shot IS the hash check).
    * Per-ingest cost is O(nodes + batch), the 100 TB contract.
    *
    * @param labels (`node`, `component`) — a prior [[components]] result,
    *        or any labeling where `component` = min node id
    * @param newEdges two-column frame (`u`, `v`) of the batch
    * @return the updated full labeling, same shape as [[components]]
    *         (nodes of the old labeling that stay isolated keep their
    *         old component)
    */
  def mergeBatch(labels: DataFrame, newEdges: DataFrame,
                 maxIter: Int = 50): DataFrame = {
    val stars = labels.filter(col("node") =!= col("component"))
      .select(col("node").as("u"), col("component").as("v"))
    val merged = components(
      stars.unionByName(newEdges.select(col("u"), col("v"))), maxIter)
    labels.select(col("node"))
      .unionByName(newEdges.select(col("u").as("node")))
      .unionByName(newEdges.select(col("v").as("node")))
      .distinct()
      .join(merged.withColumnRenamed("component", "__c"), Seq("node"), "left")
      .select(col("node"), coalesce(col("__c"), col("node")).as("component"))
  }

  /** @param edges two-column frame (`u`, `v`) of undirected edges
    * @param maxEdges the [[DriverCsr.edges]] bound on symmetric edges
    *        (×2 raw edges) under which the graph resolves driver-side; 0
    *        forces the distributed loop
    * @return (`node`, `component`) for every node incident to an edge,
    *         `component` = the minimum node id of its component
    */
  def components(edges: DataFrame, maxIter: Int = 50,
                 maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    val spark = edges.sparkSession
    val sym0 = edges.select(col("u"), col("v"))
      .union(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    val g = DriverCsr.edges("ConnectedComponents.components", sym0, maxEdges,
      sorted = true)
    require(g.nullEndpoints == 0,
      "ConnectedComponents: null edge endpoints are not allowed")
    if (g.onDriver) return localComponents(g)

    val sym = g.cached
    val l0 = sym.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    var lRdd = l0.rdd
    lRdd.cache()
    lRdd.count()
    var labels = spark.createDataFrame(lRdd, l0.schema)
    var iter = 0
    var changed = true
    while (changed && iter < maxIter) {
      val nbrMin = sym.join(labels, sym("v") === labels("node"))
        .groupBy(sym("u").as("nbr_node")).agg(min(col("label")).as("nbr_label"))
      val stepped = labels.join(nbrMin, labels("node") === col("nbr_node"), "left")
        .select(col("node"), col("label").as("l0"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("l1"))
      val jumpSrc = labels.select(col("node").as("j_node"), col("label").as("j_label"))
      val next = stepped.join(jumpSrc, stepped("l1") === col("j_node"), "left")
        .select(col("node"),
          least(col("l1"), coalesce(col("j_label"), col("l1"))).as("label"),
          (least(col("l1"), coalesce(col("j_label"), col("l1"))) < col("l0")).as("changed"))
      // Accumulator updated inside a TRANSFORMATION: task retries or
      // speculative execution can over-count changed labels. That is
      // benign here by direction — over-counting only schedules an extra
      // (idempotent) round; it can never report 0 while labels are still
      // moving, because a task that observed a change contributes ≥ 1 on
      // every (re)run and an unchanged round adds nothing on any run.
      val acc = spark.sparkContext.longAccumulator("cc-changed")
      val rdd = next.rdd.map { r => if (r.getBoolean(2)) acc.add(1L); r }
      rdd.cache()
      rdd.count()
      changed = acc.value > 0
      lRdd.unpersist(blocking = false)
      lRdd = rdd
      labels = spark.createDataFrame(rdd, next.schema).drop("changed")
      iter += 1
    }
    require(!changed,
      s"ConnectedComponents: not converged after $maxIter rounds")
    labels.select(col("node"), col("label").as("component"))
  }

  /** Union-find with path compression over the gate's interned edges,
    * each root the smallest id of its set: ids follow Spark's ordering,
    * so the root is the component's minimum key. One driver pass over the
    * edges, one over the nodes.
    */
  private def localComponents(g: DriverCsr.Edges): DataFrame = {
    val n = g.nodeVals.length
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    g.src.indices.foreach { i =>
      val ra = find(g.src(i)); val rb = find(g.dst(i))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val keyType = g.schema.fields(0).dataType
    g.rddFrame((0 until n).map(i => Row(g.nodeVals(i), g.nodeVals(find(i)))), StructType(Seq(
      StructField("node", keyType), StructField("component", keyType))))
  }
}
