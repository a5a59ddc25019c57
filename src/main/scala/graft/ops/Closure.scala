package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** J7 — iterative successor resolution: the transitive closure of an edge
  * list (reference: scripts/org-changes/build_trust_lookup.R:66-84 while-loop;
  * scripts/org-changes/build_all_org_changes.R:62-106 bounded 10 iterations).
  *
  * Re-expressed with pointer doubling over the *edge* relation: iteration k
  * holds a mapping m(x) = the up-to-2^k-step successor of x (terminal
  * absorbed), built by composing m with itself. Multi-successor "splits"
  * multiply rows naturally through the composition (the reference's
  * `unnest`, build_all_org_changes.R:96).
  *
  * Scale posture: succession chains are edge-list-sized (~700 rows in the
  * reference) while the node table being re-keyed can be arbitrarily large.
  * The converged mapping holds at least one row per edge and feeds a
  * broadcast join, so it has to fit on the driver anyway: the doubling runs
  * there, over the collected edges, and the distributed node table meets it
  * in exactly ONE broadcast join — zero shuffles of the big side.
  */
object Closure {

  /** The converged pointer-doubling mapping of `edges` (src → dst): one
    * (src, terminal dst, hops) triple per path, so a diamond lists its
    * terminal once per path. Each round composes the mapping with itself,
    * as a left self-join on dst = src would: a null key never matches.
    * A path that steps onto a successor row with a null dst ends there:
    * it keeps its own dst, adds that row's hops and is terminal, so it
    * composes no further and does not count as an extension. Iterations
    * are bounded to guard against cyclic input.
    */
  def doubling(edges: Seq[(Any, Any)], maxIter: Int = 30): Seq[(Any, Any, Int)] = {
    // (src, dst, hops, terminal)
    var m: Seq[(Any, Any, Int, Boolean)] = edges.map { case (s, d) => (s, d, 1, d == null) }
    var iter = 0
    var extending = true
    while (extending && iter < maxIter) {
      val bySrc = m.filter(_._1 != null).groupBy(_._1)
      extending = false
      m = m.flatMap { case row @ (s, d, h, done) =>
        bySrc.get(d).filter(_ => !done) match {
          case Some(next) =>
            next.map { case (_, nd, nh, ndone) =>
              if (nd == null) (s, d, h + nh, true)
              else { extending = true; (s, nd, h + nh, ndone) }
            }
          case None => Seq(row)
        }
      }
      iter += 1
    }
    require(!extending,
      s"Closure.resolve: still extending after $maxIter doublings (cyclic edges?)")
    m.map { case (s, d, h, _) => (s, d, h) }
  }

  /** Resolve every `node` to its terminal successor(s).
    *
    * @param nodes single-column frame `node`
    * @param edges two-column frame `src`, `dst`; rows multiply on splits
    * @return frame (`old_code`, `final_code`, `hops`)
    */
  def resolve(nodes: DataFrame, edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val mapping = doubling(e.collect().toSeq.map(r => (r.get(0), r.get(1))), maxIter)
    val schema = StructType(e.schema.fields :+ StructField("hops", IntegerType, nullable = false))
    val local = edges.sparkSession.createDataFrame(
      java.util.Arrays.asList(mapping.map { case (s, d, h) => Row(s, d, h) }: _*), schema)
    nodes
      .join(broadcast(local), nodes("node") === local("src"), "left")
      .select(
        col("node").as("old_code"),
        coalesce(col("dst"), col("node")).as("final_code"),
        coalesce(col("hops"), lit(0)).as("hops"))
  }
}
