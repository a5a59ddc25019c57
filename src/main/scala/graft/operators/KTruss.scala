package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** k-truss decomposition — the EDGE-level sibling of [[KCore]] (Cohen
  * 2008): repeatedly delete edges lying in fewer than k−2 triangles of
  * the current subgraph. A k-truss is a strictly denser certificate
  * than a k-core (every k-truss edge's endpoints share ≥ k−2 common
  * neighbors), the standard community-backbone / spam-ring extractor
  * one notch above [[Triangles]]' per-node counts.
  *
  * [[peel]] runs a FIXED number of rounds (the oracle-gated form, q135:
  * the DuckDB oracle unrolls each round as MATERIALIZED CTEs — the
  * q133 lesson); [[truss]] is the same peel run to its fixpoint
  * (edge-count-stable ⇒ edge-set-stable, since survivors ⊆ current
  * edges).
  *
  * Both run behind the [[DriverCsr.edges]] gate: within it the rounds
  * run on driver arrays over the collected edges. Above it, per round,
  * triangle enumeration is the q118 wedge shape
  * — two equi-joins of the id-oriented canonical edge list against
  * itself (x<y<z, each triangle found once), then each triangle votes
  * for its three edges through ONE explode feeding a map-side-combined
  * count. Edges rebase on cached RDD leaves per round ([[KMeans.fit]]
  * discipline), so plan size is O(1) in rounds and each round reads
  * the previous round's MATERIALIZED survivors, not a growing lineage.
  * (Degree-ordered orientation — [[Triangles]]' O(√m) bound — can
  * replace the id orientation here if a skewed graph demands it; the
  * support aggregation is orientation-agnostic.)
  */
object KTruss {

  /** Per-edge triangle support within the given canonical edge set:
    * (a, b, support), edges in no triangle absent (support 0).
    */
  def supports(canon: DataFrame): DataFrame = {
    val e1 = canon.select(col("a").as("x"), col("b").as("y"))
    val e2 = canon.select(col("a").as("y2"), col("b").as("z"))
    val e3 = canon.select(col("a").as("x3"), col("b").as("z3"))
    val tri = e1.join(e2, col("y") === col("y2"))
      .join(e3, col("x") === col("x3") && col("z") === col("z3"))
      .select(col("x"), col("y"), col("z"))
    tri.select(explode(array(
        struct(col("x").as("a"), col("y").as("b")),
        struct(col("y").as("a"), col("z").as("b")),
        struct(col("x").as("a"), col("z").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
  }

  /** Triangle supports of the alive edges of the gate's collected
    * canonical edge list — the exact multiset [[supports]] computes (each
    * x<y<z triangle credits its three edges once). Per-node FORWARD
    * lists hold the (neighbor id, edge index) pairs of the alive edges
    * (x, y) in canonical orientation, sorted by neighbor id, so a triangle
    * x<y<z is exactly one intersection of forward(x) and forward(y) at
    * edge (x, y), and the two-pointer walk finds every edge index it must
    * credit.
    */
  private def supportsDriver(g: DriverCsr.Edges)(alive: Array[Boolean]): Array[Long] = {
    val (aIds, bIds, nNodes) = (g.src, g.dst, g.nodeVals.length)
    val m = aIds.length
    val cnt = new Array[Int](nNodes)
    var i = 0
    while (i < m) { if (alive(i)) cnt(aIds(i)) += 1; i += 1 }
    val nb = Array.tabulate(nNodes)(v => new Array[Long](cnt(v)))
    val fill = new Array[Int](nNodes)
    i = 0
    while (i < m) {
      if (alive(i)) {
        val x = aIds(i)
        // pack (neighbor id, edge index) into one long for a cheap sort
        nb(x)(fill(x)) = (bIds(i).toLong << 32) | i.toLong
        fill(x) += 1
      }
      i += 1
    }
    var v = 0
    while (v < nNodes) { java.util.Arrays.sort(nb(v)); v += 1 }
    val sup = new Array[Long](m)
    i = 0
    while (i < m) {
      if (alive(i)) {
        val fx = nb(aIds(i)); val fy = nb(bIds(i))
        var p = 0; var q = 0
        while (p < fx.length && q < fy.length) {
          val zx = (fx(p) >>> 32).toInt; val zy = (fy(q) >>> 32).toInt
          if (zx < zy) p += 1
          else if (zx > zy) q += 1
          else {
            // triangle (x, y, zx): credit (x,y), (x,z), (y,z)
            sup(i) += 1
            sup((fx(p) & 0xffffffffL).toInt) += 1
            sup((fy(q) & 0xffffffffL).toInt) += 1
            p += 1; q += 1
          }
        }
      }
      i += 1
    }
    sup
  }

  /** Up to `rounds` peeling rounds on either side of the edge gate: the
    * (a, b, support) survivors and whether a round removed nothing.
    */
  private def peelRun(op: String, edges: DataFrame, srcCol: String, dstCol: String,
                      k: Int, rounds: Int, maxEdges: Long): (DataFrame, Boolean) = {
    val g = DriverCsr.edges(op, DriverCsr.canonical(edges, srcCol, dstCol), maxEdges)
    if (g.onDriver) {
      val (sup, alive, converged) =
        KCore.peelArrays(Array.fill(g.rows.length)(true), k - 2, rounds)(supportsDriver(g))
      val out = g.rows.indices.filter(alive(_)).map(i => Row(g.rows(i).get(0),
        g.rows(i).get(1), sup(i)))
      val nodeType = g.schema.fields(0).dataType
      return (g.frame(out, StructType(Seq(
        StructField("a", nodeType, nullable = true),
        StructField("b", nodeType, nullable = true),
        StructField("support", LongType, nullable = false)))), converged)
    }
    val res = KCore.peelFrom(g.cached, g.cachedRdd, g.count, rounds)(
      supports, col("support") >= k - 2)
    // the result reads the final SUPPORT frame, not the survivor leaf
    res.aliveRdd.unpersist(blocking = false)
    (res.survivors, res.converged)
  }

  /** `rounds` peeling rounds; returns the surviving edges with their
    * support in the final round's input subgraph: (a, b, support),
    * support >= k−2.
    */
  def peel(edges: DataFrame, srcCol: String, dstCol: String,
           k: Int, rounds: Int, maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    require(k >= 3, s"k must be >= 3 (k-2 triangles per edge), got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    peelRun("KTruss.peel", edges, srcCol, dstCol, k, rounds, maxEdges)._1
  }

  /** The true k-truss: [[peel]] run until a round removes nothing.
    * Throws past `maxRounds` rather than return a non-truss.
    */
  def truss(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, maxRounds: Int = 1000,
            maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    require(k >= 3, s"k must be >= 3 (k-2 triangles per edge), got $k")
    val (out, converged) = peelRun("KTruss.truss", edges, srcCol, dstCol, k,
      maxRounds, maxEdges)
    if (!converged)
      throw new IllegalStateException(s"k-truss did not converge within $maxRounds rounds")
    out
  }
}
