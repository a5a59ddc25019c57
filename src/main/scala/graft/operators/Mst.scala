package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Minimum spanning forest via Borůvka's algorithm (1926) — the
  * single-linkage backbone of the embedding-curation family: the MSF of
  * the similarity graph IS the single-linkage dendrogram (every
  * agglomerative merge crosses an MSF edge), so one persisted
  * node-bounded artifact answers every "flat clusters at threshold τ"
  * question without touching the raw pair space again — the HDBSCAN
  * core, and the reason a curation pipeline materializes the forest
  * once instead of re-clustering per τ.
  *
  * Determinism: edges are ranked by the STRICT TOTAL ORDER (w, u, v)
  * (canonical u < v orientation; parallel edges pre-collapsed to their
  * minimum weight — the cheapest always wins under any spanning
  * objective). Under a strict total order "all weights are distinct",
  * so the minimum spanning forest is UNIQUE (cut property), Borůvka ≡
  * Kruskal ≡ Prim on it (MstSpec pins Kruskal brute parity incl.
  * weight ties), and a fixed-round prefix is deterministic — the
  * unrolled-round oracle discipline.
  *
  * Round shape (all relational, no driver graph state): label every
  * node with its component of the forest-so-far
  * ([[ConnectedComponents.components]] over the node-bounded forest —
  * pointer jumping, its own dual scale shape), annotate each edge with
  * both endpoint components, keep cross-component edges, and take each
  * component's minimum edge as ONE `min(struct(w, u, v))` AGGREGATE —
  * partial map-side combine, no per-component window, so a giant
  * component funnels nothing into a single task. With a strict total
  * order the selected edge set is acyclic (in any would-be cycle the
  * largest edge is no component's minimum), every component merges
  * with at least one other, and the component count at least halves —
  * fixpoint in ≤ log₂ n rounds. Each round's forest rebases onto a
  * cached RDD leaf (the materializeLeaf discipline); the collapsed
  * edge list is persisted ONCE and released on exit.
  *
  * Weights are exact longs (quantize similarities before calling — the
  * q214/q158 integer discipline); the forest is at most n−1 rows
  * however large the edge list.
  */
object Mst {

  /** Run exactly `rounds` Borůvka rounds (early-exits when a round
    * selects nothing — the result is already the full MSF then).
    *
    * Two execution paths, picked by the [[DriverCsr.edges]] gate over
    * the collapsed edges: within it the IDENTICAL round recurrence runs
    * driver-side over a union-find, with node ids sorted under Spark's
    * ordering so the (w, u, v) order compares ints — one bounded collect
    * replaces ~5 jobs per round of pure scheduling latency (measured: the
    * distributed loop put the whole MST gate family at 16-35 s iso on a
    * 3,800-edge graph whose forest work is milliseconds). Larger graphs
    * run the distributed loop below; MstSpec pins the two paths
    * bit-identical across random graphs, weight ties, string keys, and
    * round prefixes.
    *
    * @param edges undirected weighted edge list; either orientation,
    *              parallel edges and self-loops tolerated (collapsed /
    *              dropped)
    * @return (`u`, `v`, `w`) forest edges, u < v
    */
  def boruvka(edges: DataFrame, srcCol: String, dstCol: String,
              wCol: String, rounds: Int,
              maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    forestCore("Mst.boruvka", edges, srcCol, dstCol, wCol, rounds, maxEdges)
  }

  /** Borůvka to FIXPOINT — the full minimum spanning forest. Component
    * count at least halves per round, so 63 rounds bound any long-id
    * graph; the loop exits on the first round that selects nothing.
    */
  def boruvkaFixpoint(edges: DataFrame, srcCol: String, dstCol: String,
                      wCol: String,
                      maxEdges: Long = DriverCsr.MaxEdges): DataFrame =
    forestCore("Mst.boruvkaFixpoint", edges, srcCol, dstCol, wCol, 63, maxEdges)

  /** INCREMENTAL maintenance: fold a NEW batch of weighted edges into an
    * existing minimum spanning forest without re-scanning the
    * accumulated edge set. Correct by the sparsification lemma:
    * MSF(E₁ ∪ E₂) = MSF(MSF(E₁) ∪ E₂) — an edge outside MSF(E₁) is the
    * strict-total-order maximum of some cycle in E₁, remains so in
    * E₁ ∪ E₂, and the cycle property excludes it from MSF(E₁ ∪ E₂).
    * Under the strict (w, u, v) order both sides are the UNIQUE forest,
    * so incremental ≡ one-shot BIT-IDENTICALLY however the edge stream
    * is sliced (MstSpec pins it; the q186 incremental-CC discipline).
    * Per-ingest cost is O(nodes + batch) — the forest is node-bounded
    * no matter how many edges ever arrived.
    *
    * @param forest a prior [[boruvkaFixpoint]] result (`u`, `v`, `w`)
    * @param batch  new edges in operator input form (any orientation,
    *               parallel edges tolerated)
    */
  def mergeBatch(forest: DataFrame, batch: DataFrame, srcCol: String,
                 dstCol: String, wCol: String,
                 maxEdges: Long = DriverCsr.MaxEdges): DataFrame =
    boruvkaFixpoint(
      forest.select(col("u").as("__ms"), col("v").as("__md"),
          col("w").as("__mw"))
        .unionByName(batch.select(col(srcCol).as("__ms"),
          col(dstCol).as("__md"), col(wCol).cast("long").as("__mw"))),
      "__ms", "__md", "__mw", maxEdges)

  /** Dendrogram cut by cluster COUNT: drop the `cuts` heaviest forest
    * edges by the (w DESC, u, v) total order — the single-linkage cut
    * that asks for "`cuts` more clusters" instead of a distance
    * threshold ([[graft.SparkEntry]] q238's wmax form needs the
    * threshold probed; this form is what a curation budget actually
    * specifies). On a tree, removing an edge adds exactly one
    * component, so the kept forest has base-components + cuts clusters
    * over the forest's node set. The rank window is global but runs on
    * the FOREST (node-bounded by construction — at most n−1 rows),
    * never the pair space; ties replay exactly by the total order.
    */
  def cutHeaviest(forest: DataFrame, cuts: Int): DataFrame = {
    require(cuts >= 0, "cuts must be >= 0")
    if (cuts == 0) forest
    else {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("w").desc, col("u"), col("v"))
      forest.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") > cuts)
        .drop("__rk")
    }
  }

  /** The identical round recurrence over the gate's collected edges: a
    * union-find carries the component partition, each round scans the
    * edge array once recording every component's total-order-minimum
    * cross edge (selection reads the ROUND-START partition — unions
    * apply only after the scan, mirroring the distributed barrier), and
    * the selected set accumulates. Node ids follow Spark's ordering, so
    * comparing ids is comparing keys as `min(struct)` does.
    */
  private def driverForest(g: DriverCsr.Edges, rounds: Int): Seq[Row] = {
    val (u, v) = (g.src, g.dst)
    val w = g.rows.map(_.getLong(2))
    // strict total order (w, u, v)
    def before(i: Int, j: Int): Boolean =
      if (w(i) != w(j)) w(i) < w(j) else if (u(i) != u(j)) u(i) < u(j) else v(i) < v(j)
    val parent = Array.tabulate(g.nodeVals.length)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    val selected = scala.collection.mutable.LinkedHashSet.empty[Int]
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val best = Array.fill(parent.length)(-1)
      def offer(c: Int, i: Int): Unit = if (best(c) < 0 || before(i, best(c))) best(c) = i
      u.indices.foreach { i =>
        val ru = find(u(i)); val rv = find(v(i))
        if (ru != rv) { offer(ru, i); offer(rv, i) }
      }
      val sel = best.filter(_ >= 0).distinct
      if (sel.isEmpty) done = true
      else {
        sel.foreach { i =>
          val ru = find(u(i)); val rv = find(v(i))
          if (ru != rv) parent(ru) = rv
        }
        selected ++= sel
        r += 1
      }
    }
    selected.toSeq.map(g.rows)
  }

  private def forestCore(op: String, edges: DataFrame, srcCol: String, dstCol: String,
                         wCol: String, rounds: Int, maxEdges: Long): DataFrame = {
    val spark = edges.sparkSession
    val g = DriverCsr.edges(op, edges.select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"),
        col(wCol).cast("long").as("w"))
      .filter(col("u") =!= col("v") && col("u").isNotNull)
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w")), maxEdges, sorted = true)
    if (g.onDriver) return g.rddFrame(driverForest(g, rounds), g.schema)
    val e = g.cached
    val nodes = e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node"))).distinct().persist()
    nodes.count()

    var forest = e.limit(0)
    var forestRdd: org.apache.spark.rdd.RDD[Row] = null
    var forestCount = 0L
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val comp = ConnectedComponents.components(
        forest.select(col("u"), col("v")))
      val lblU = nodes.join(comp, nodes("node") === comp("node"), "left")
        .select(nodes("node").as("u"),
          coalesce(col("component"), nodes("node")).as("ca"))
      val lblV = lblU.select(col("u").as("v"), col("ca").as("cb"))
      val ann = e.join(lblU, "u").join(lblV, "v")
        .filter(col("ca") =!= col("cb"))
      val cand = ann.select(col("ca").as("cc"), col("w"), col("u"), col("v"))
        .unionByName(
          ann.select(col("cb").as("cc"), col("w"), col("u"), col("v")))
      val sel = cand.groupBy(col("cc"))
        .agg(min(struct(col("w"), col("u"), col("v"))).as("m"))
        .select(col("m.u").as("u"), col("m.v").as("v"), col("m.w").as("w"))
        .distinct()
      val merged = forest.unionByName(sel)
      val rdd = merged.rdd
      rdd.cache()
      val cnt = rdd.count()
      done = cnt == forestCount
      forestCount = cnt
      val next = spark.createDataFrame(rdd, merged.schema)
      // one-round lag: the superseded leaf goes only after its successor
      // materialized above it (the KCore unpersist discipline)
      if (forestRdd != null) forestRdd.unpersist(blocking = false)
      forestRdd = rdd
      forest = next
      r += 1
    }
    g.close()
    nodes.unpersist(blocking = false)
    // the returned frame reads the final cached forest leaf (node-bounded,
    // never collected to the driver); caller releases via
    // [[graft.Storage.releaseAll]] — the Verify/Bench contract
    forest
  }
}
