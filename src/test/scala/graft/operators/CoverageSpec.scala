package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Greedy max coverage vs the hand-walked selection: winner-by-gain with
  * lowest-id ties, first-time-token gains, submodular (non-increasing)
  * gain sequence, and the early stop once nothing new can be covered.
  */
class CoverageSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, Seq[String])*) =
    rows.toSeq.toDF("id", "toks")

  test("greedy picks the hand-computed sequence with first-time gains") {
    // d1 covers {a b c d}, d2 {c d e}, d3 {e f}, d4 {a}
    // round 1: d1 (gain 4). round 2: d2 gains {e}=1, d3 gains {e f}=2 → d3.
    // round 3: d2 gains {}=0 → only d2's e,f covered... d2 has c,d,e all
    // covered → absent; d4 has a covered → absent; stop at 2 picks? No:
    // round 3 scores: d2 → 0 uncovered (c,d,e all seen), d4 → 0 — no rows
    // with uncovered tokens → early stop after round 2.
    val got = Coverage.greedyMaxCoverage(
      docs(1L -> Seq("a", "b", "c", "d"), 2L -> Seq("c", "d", "e"),
        3L -> Seq("e", "f"), 4L -> Seq("a")),
      "id", col("toks"), k = 10)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, 1L, 4L), (2L, 3L, 2L)))
  }

  test("ties break to the lowest doc id, duplicates in the array don't double-count") {
    // d5 and d7 both cover 2 new tokens each round 1 — lowest id wins;
    // d7's duplicated token must count once
    val got = Coverage.greedyMaxCoverage(
      docs(7L -> Seq("x", "y", "x"), 5L -> Seq("p", "q"), 9L -> Seq("p")),
      "id", col("toks"), k = 2)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, 5L, 2L), (2L, 7L, 2L)))
  }

  test("gains are non-increasing (submodularity) and k bounds the rounds") {
    val fixture = (1L to 40L).map(i =>
      i -> (0 until (i % 7 + 1).toInt).map(j => s"t${(i * 3 + j * 5) % 23}"))
    val got = Coverage.greedyMaxCoverage(
      docs(fixture: _*), "id", col("toks"), k = 5)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.size <= 5)
    val gains = got.map(_._3)
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b },
      s"gains must be non-increasing: $gains")
    assert(gains.forall(_ > 0L), "a zero-gain pick must never be emitted")
  }

  test("driver sweep ≡ distributed sweep (gate forced both ways)") {
    val fixture = (1L to 60L).map(i =>
      i -> (0 until (i % 9 + 1).toInt).map(j => s"t${(i * 7 + j * 11) % 41}"))
    // (input, the selection as "round|id|gain", or Nil to check parity only);
    // each tied pair below must break to the LOWER id in Spark's ordering
    // of the id type, nulls first
    val date = java.sql.Date.valueOf(_: String)
    val cases: Seq[(String, org.apache.spark.sql.DataFrame, Seq[String])] = Seq(
      ("long ids", docs(fixture: _*), Nil),
      ("double ids tied on gain",
        Seq(1.75 -> Seq("a", "b"), 1.25 -> Seq("c", "d"), 1.8 -> Seq("e", "f"),
          3.0 -> Seq("a")).toDF("id", "toks"),
        Seq("1|1.25|2", "2|1.75|2", "3|1.8|2")),
      ("decimal ids tied on gain",
        Seq(BigDecimal("2.26") -> Seq("a", "b"), BigDecimal("2.25") -> Seq("c", "d"))
          .toDF("id", "toks").select(col("id").cast("decimal(5,2)"), col("toks")),
        Seq("1|2.25|2", "2|2.26|2")),
      ("date ids tied on gain",
        Seq(date("2024-03-02") -> Seq("a", "b"), date("2024-03-01") -> Seq("c", "d"))
          .toDF("id", "toks"),
        Seq("1|2024-03-01|2", "2|2024-03-02|2")),
      ("a null id tied on gain",
        Seq(Some(3L) -> Seq("a", "b"), None -> Seq("c", "d"), Some(4L) -> Seq("c"))
          .toDF("id", "toks"),
        Seq("1|null|2", "2|3|2")),
      ("null tokens",
        Seq(1L -> Seq("a", null), 2L -> Seq(null, null, "b", "c"), 3L -> Seq[String](null))
          .toDF("id", "toks"),
        Seq("1|2|2", "2|1|1")))
    cases.foreach { case (label, d, want) =>
      def sweep(maxRows: Long): Seq[String] =
        Coverage.greedyMaxCoverage(d, "id", col("toks"), k = 8, maxEdges = maxRows)
          .collect().toSeq.map(_.mkString("|")).sorted
      val driver = sweep(2000000L)
      assert(driver == sweep(0L), s"$label: driver and distributed sweeps differ")
      if (want.nonEmpty) assert(driver == want, label)
      else assert(driver.nonEmpty, label)
    }
  }

  test("driver sweep ≡ distributed sweep on STRING ids (tie-break ordering)") {
    // every id but c ties on gain until it is picked, so the picks follow
    // Spark's unsigned UTF-8 byte order: z (7A) < "é" (C3 A9) < fullwidth
    // "ｚ" U+FF5A (EF BD 9A) < "𝒜" U+1D49C (F0 9D 92 9C). UTF-16 order
    // would put "𝒜" (surrogate D835) before "ｚ".
    val d = Seq(
      "b" -> Seq("x", "y"), "a" -> Seq("p", "q"), "c" -> Seq("p"),
      "é" -> Seq("u", "t"), "z" -> Seq("v", "w"), "\uD835\uDC9C" -> Seq("o", "r"),
      "\uFF5A" -> Seq("m", "n")).toDF("id", "toks")
    val driver = Coverage.greedyMaxCoverage(d, "id", col("toks"), k = 6)
      .as[(Long, String, Long)].collect().toSeq.sorted
    val dist = Coverage.greedyMaxCoverage(d, "id", col("toks"), k = 6,
      maxEdges = 0L)
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(driver == dist)
    assert(driver == Seq((1L, "a", 2L), (2L, "b", 2L), (3L, "z", 2L), (4L, "é", 2L),
      (5L, "\uFF5A", 2L), (6L, "\uD835\uDC9C", 2L)))
  }
}
