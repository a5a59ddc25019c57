package graft.pipelines

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Which name each org-change adjustment attaches to a code, on a panel
  * whose codes change names in file order:
  *
  *  - K reads null, then "K OLD", "K NEW", and "K OLD" again: keep-first
  *    takes the null (the first distinct pair), keep-last takes "K NEW"
  *    (the distinct pair that appeared last, not the last row's name);
  *  - J reads "J A", then "J B" twice: keep-first "J A", keep-last "J B".
  *
  * The `_row_idx` values only order the rows; they are not contiguous.
  */
class AdjustNamesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val names = Seq(
    ("K", null), ("J", "J A"), ("K", "K OLD"), ("J", "J B"),
    ("K", "K NEW"), ("J", "J B"), ("K", "K OLD"))
  private val first = Map("K" -> null, "J" -> "J A")
  private val last = Map("K" -> "K NEW", "J" -> "J B")

  private def lookup = Seq(("Z1", "Z2", 0, 0))
    .toDF("old_code", "final_code", "experiences_split", "problematic")

  private def nameOf(out: DataFrame): Map[String, String] = {
    val pairs = out.select("org_code", "org_name").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(pairs.map(_._1).distinct.length == pairs.length, s"one name per code: ${pairs.toSeq}")
    pairs.toMap
  }

  test("quarterly adjust keeps the first or the last distinct name") {
    val data = names.zipWithIndex.map { case ((c, n), i) => (c, n, 2010, s"Q${i % 4 + 1}", 1.0, 7L * i + 3) }
      .toDF("org_code", "org_name", "year", "quarter", "n", "_row_idx")
    for ((keepLast, want) <- Seq(false -> first, true -> last)) {
      val out = ReferenceAdjust.adjust(data, lookup,
        ReferenceAdjust.Params(Seq("n"), nameKeepLast = keepLast))
      assert(nameOf(out) == want, s"keepLast=$keepLast")
    }
  }

  test("monthly adjust keeps the first or the last distinct name") {
    val data = names.zipWithIndex.map { case ((c, n), i) => (c, n, s"2010-0${i + 1}-01", 1.0, 7L * i + 3) }
      .toDF("org_code", "org_name", "date", "n", "_row_idx")
      .withColumn("date", col("date").cast("date"))
    for ((keepLast, want) <- Seq(false -> first, true -> last)) {
      val out = ReferenceAdjust.adjustMonthly(data, lookup, Seq("n"), nameKeepLast = keepLast)
      assert(nameOf(out) == want, s"keepLast=$keepLast")
    }
  }

  test("wait-times adjust keeps the first distinct name in file order") {
    val b1 = "incomplete_between_0_1"
    val b2 = "incomplete_between_17_18"
    val panel = names.zipWithIndex.map { case ((c, n), i) =>
        (c, n, s"2010-0${i + 1}-01", "100", "General Surgery", 1.0, 1.0, 2.0) }
      .toDF("org_code", "org_name", "date", "treatment_function_code",
        "treatment_function", b1, b2, WaitTimes.totalVar("incomplete"))
      .withColumn("date", col("date").cast("date"))
      .withColumn("year", lit(2010))
    assert(nameOf(WaitTimes.adjust(panel, lookup, "incomplete", Seq(b1, b2))) == first)
  }
}
