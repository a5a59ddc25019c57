package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Greedy maximum-coverage selection — pick the k documents whose token
  * union is (approximately) largest. Coverage is submodular, so the
  * greedy sweep carries the classic (1 − 1/e) guarantee (Nemhauser,
  * Wolsey & Fisher 1978) and is the standard diverse-subset move in
  * corpus curation: a seed set that SEES the most vocabulary, not the k
  * longest near-identical documents.
  *
  * Scale shape, two regimes (the KCore/KTruss driver-gate discipline):
  *
  *   - DRIVER SWEEP when the distinct (doc, token) incidence table passes
  *     the [[DriverCsr.edges]] gate (which states the driver-memory
  *     contract): collect once, intern tokens to ints, run the k
  *     rounds over arrays. The distributed sweep's per-round floor is
  *     2 Spark jobs (winner draw + winner-token collect) over a full
  *     pass of the incidence table — 2k jobs of mostly fixed overhead
  *     at bench scale; the driver sweep is one collect. Selection
  *     replays the distributed rule exactly: gain DESC, then LOWEST id
  *     under Spark's own ordering of the id type, nulls first
  *     ([[DriverCsr.ordering]]; unsigned UTF-8 bytes for strings), pinned driver ≡ distributed in
  *     CoverageSpec.
  *   - DISTRIBUTED SWEEP otherwise: k passes over the incidence table,
  *     each ONE anti-join against the covered set plus one
  *     map-side-combined count and a TakeOrdered(1) winner draw. The
  *     covered set lives on the driver and is bounded by construction —
  *     k docs × tokens-per-doc (k is small by the operator's own
  *     definition; a thousand-token budget is kilobytes) — and
  *     re-enters the plan as a BROADCAST anti-join, so no round ever
  *     shuffles on the accumulated state.
  *
  * Ties break to the LOWEST doc id (total order ⇒ the selection replays
  * exactly); selection stops early once no document covers any
  * uncovered token.
  */
object Coverage {

  /** @param tokensCol array-of-string column (duplicates tolerated — the
    *                  incidence table is distinct)
    * @param maxEdges the [[DriverCsr.edges]] bound on distinct
    *                 (doc, token) rows for the driver sweep; 0 forces the
    *                 distributed sweep
    * @return (round 1..k, doc_id, gain) — gain is the count of FIRST-TIME
    *         tokens the round's winner contributed; gains are
    *         non-increasing (submodularity), pinned in CoverageSpec
    */
  def greedyMaxCoverage(df: DataFrame, idCol: String, tokensCol: Column,
                        k: Int, maxEdges: Long = DriverCsr.MaxEdges): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val idType = df.schema(idCol).dataType
    val outSchema = StructType(Seq(
      StructField("round", LongType, nullable = false),
      StructField("doc_id", idType),
      StructField("gain", LongType, nullable = false)))
    // a null token is no vocabulary: dropped once, so both sweeps see
    // the same element set. Doc ids and tokens are two key domains, so
    // the driver sweep takes the gate's rows, not its dictionary.
    val g = DriverCsr.edges("Coverage.greedyMaxCoverage", df
      .select(col(idCol).as("__id"), explode(tokensCol).as("__tok"))
      .filter(col("__tok").isNotNull)
      .distinct(), maxEdges)
    if (g.onDriver) return g.frame(greedyDriver(g.rows, idType, k), outSchema)
    val elems = g.cached
    try {
      val covered = scala.collection.mutable.HashSet.empty[String]
      val picks = scala.collection.mutable.Buffer.empty[Row]
      var r = 1
      var exhausted = false
      while (r <= k && !exhausted) {
        val uncovered =
          if (covered.isEmpty) elems
          else elems.join(
            broadcast(covered.toSeq.toDF("__tok")), Seq("__tok"), "left_anti")
        val winner = uncovered.groupBy(col("__id"))
          .agg(count(lit(1)).as("__gain"))
          .orderBy(col("__gain").desc, col("__id"))
          .limit(1).collect()
        if (winner.isEmpty) exhausted = true
        else {
          val id = winner.head.get(0)
          val gain = winner.head.getLong(1)
          picks += Row(r.toLong, id, gain)
          covered ++= elems.filter(col("__id") <=> lit(id))
            .select(col("__tok")).as[String].collect()
          r += 1
        }
      }
      spark.createDataFrame(java.util.Arrays.asList(picks.toSeq: _*), outSchema)
    } finally g.close()
  }

  /** The k greedy rounds over the collected incidence rows — the same
    * recurrence as the distributed sweep (winner = max uncovered count,
    * tie to lowest id, stop when no doc covers an uncovered token),
    * spec-pinned equal.
    */
  private def greedyDriver(rows: Array[org.apache.spark.sql.Row],
                           idType: org.apache.spark.sql.types.DataType,
                           k: Int): Seq[org.apache.spark.sql.Row] = {
    // the distributed winner draw's ascending id order, nulls first
    val idOrd = DriverCsr.ordering(idType)
    // intern tokens to ints; group incidence rows per doc
    val tokIdx = new java.util.HashMap[String, Integer]()
    val docToks = new java.util.HashMap[Any, scala.collection.mutable.ArrayBuffer[Int]]()
    rows.foreach { row =>
      val id = row.get(0)
      val tok = row.getString(1)
      var ti = tokIdx.get(tok)
      if (ti == null) { ti = tokIdx.size(); tokIdx.put(tok, ti) }
      var buf = docToks.get(id)
      if (buf == null) {
        buf = scala.collection.mutable.ArrayBuffer.empty[Int]
        docToks.put(id, buf)
      }
      buf += ti
    }
    val covered = new Array[Boolean](tokIdx.size())
    val picked = new java.util.HashSet[Any]()
    val picks = Vector.newBuilder[org.apache.spark.sql.Row]
    val docs = docToks.entrySet().toArray(
      Array.empty[java.util.Map.Entry[Any, scala.collection.mutable.ArrayBuffer[Int]]])
    var r = 1
    var exhausted = false
    while (r <= k && !exhausted) {
      var bestId: Any = null
      var bestGain = 0L // 0 until a doc with an uncovered token is seen
      docs.foreach { e =>
        if (!picked.contains(e.getKey)) {
          var g = 0L
          val ts = e.getValue
          var i = 0
          while (i < ts.length) { if (!covered(ts(i))) g += 1; i += 1 }
          // winner = gain DESC, id ASC — docs with zero uncovered tokens
          // never win (the distributed sweep's uncovered groupBy drops
          // them, so an all-covered round is "exhausted", not a 0-gain
          // pick)
          if (g >= 1L && (g > bestGain ||
              (g == bestGain && idOrd.lt(e.getKey, bestId))))
            { bestGain = g; bestId = e.getKey }
        }
      }
      if (bestGain == 0L) exhausted = true
      else {
        picks += org.apache.spark.sql.Row(r.toLong, bestId, bestGain)
        val ts = docToks.get(bestId)
        var i = 0
        while (i < ts.length) { covered(ts(i)) = true; i += 1 }
        picked.add(bestId)
        r += 1
      }
    }
    picks.result()
  }
}
