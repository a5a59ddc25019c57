package graft.pipelines

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** How the three org-change adjustments classify panel rows against the
  * trust lookup, on a hand-built lookup that needs no reference data:
  *
  *  - M1 is both problematic (M1 → Q) and cleanly merged (M1 → M2): its
  *    rows are re-keyed to M2 and keep `exp_problematic_org_change = 1`;
  *  - the split family a → {b, d}, b → {d, e}, recoded as backwards
  *    mergers, lists D twice (D → A, D → B): D's rows are re-keyed once
  *    per listing, so they count towards both A and B;
  *  - M2, A (clean) and X, Q (problematic) appear only as final codes: M2
  *    and A rows are affected but not re-keyed, X rows are flagged only;
  *  - U is in no lookup row and passes through untouched.
  *
  * Every expected row below is derived by hand from those rules.
  */
class OrgChangeLookupSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  private def lookup = Seq(
    ("M1", "M2", 0, 0),
    ("M1", "Q", 0, 1),
    ("P", "X", 0, 1),
    ("B", "A", 1, 0),
    ("D", "A", 1, 0),
    ("D", "B", 1, 0),
    ("E", "B", 1, 0),
  ).toDF("old_code", "final_code", "experiences_split", "problematic")

  /** The selected columns of every row, as comparable value sequences. */
  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  test("quarterly adjust: flags, per-listing re-key, indicators, names") {
    val data = Seq(
      ("M1", "M ONE", 2010, "Q1", 1.0, 0L),
      ("M2", "M TWO", 2010, "Q1", 2.0, 1L),
      ("M2", "M TWO", 2010, "Q2", 4.0, 2L),
      ("D", "D", 2010, "Q1", 8.0, 3L),
      ("E", "E", 2010, "Q1", 16.0, 4L),
      ("P", "P", 2010, "Q1", 32.0, 5L),
      ("U", "U", 2010, "Q1", 64.0, 6L),
      ("B", "B", 2010, "Q1", 128.0, 7L),
      ("X", "X", 2010, "Q1", 256.0, 8L),
    ).toDF("org_code", "org_name", "year", "quarter", "n", "_row_idx")
    val out = ReferenceAdjust.adjust(data, lookup, ReferenceAdjust.Params(Seq("n")))
    assert(out.columns.toSeq == Seq("org_code", "year", "quarter", "n",
      "exp_problematic_org_change", "unproblematic_org_change",
      "exp_unproblematic_org_change", "org_name"))
    // the merger M1 → M2 changes at the first quarter after M1's last
    // (2010 Q2); the split indicators carry the double "Q" prefix and
    // never match (the reference's bug, replicated)
    assert(rows(out, out.columns.toSeq: _*) == Set(
      Seq("M2", 2010, "Q1", 1.0, 1, 0, 1, "M TWO"),
      Seq("M2", 2010, "Q1", 2.0, 0, 0, 1, "M TWO"),
      Seq("M2", 2010, "Q2", 4.0, 0, 1, 1, "M TWO"),
      Seq("A", 2010, "Q1", 8.0 + 128.0, 0, 0, 0, null),
      Seq("B", 2010, "Q1", 8.0 + 16.0, 0, 0, 0, "B"),
      Seq("P", 2010, "Q1", 32.0, 1, 0, 0, "P"),
      Seq("U", 2010, "Q1", 64.0, 0, 0, 0, "U"),
      Seq("X", 2010, "Q1", 256.0, 1, 0, 0, "X")))
  }

  test("monthly adjust: the same classification with date indicators") {
    val data = Seq(
      ("M1", "M ONE", "2010-01-01", 1.0, 0L),
      ("M2", "M TWO", "2010-01-01", 2.0, 1L),
      ("M2", "M TWO", "2010-02-01", 4.0, 2L),
      ("D", "D", "2010-01-01", 8.0, 3L),
      ("E", "E", "2010-01-01", 16.0, 4L),
      ("P", "P", "2010-01-01", 32.0, 5L),
      ("U", "U", "2010-01-01", 64.0, 6L),
      ("B", "B", "2010-01-01", 128.0, 7L),
      ("X", "X", "2010-01-01", 256.0, 8L),
    ).toDF("org_code", "org_name", "date", "n", "_row_idx")
      .withColumn("date", col("date").cast("date"))
    val out = ReferenceAdjust.adjustMonthly(data, lookup, Seq("n"))
    assert(out.columns.toSeq == Seq("org_code", "date", "n",
      "exp_problematic_org_change", "unproblematic_org_change",
      "exp_unproblematic_org_change", "org_name"))
    // merger: one month after M1's last period; splits: on the last
    // period itself, so A and B are marked in January
    assert(rows(out, out.columns.toSeq: _*) == Set(
      Seq("M2", d("2010-01-01"), 1.0, 1, 0, 1, "M TWO"),
      Seq("M2", d("2010-01-01"), 2.0, 0, 0, 1, "M TWO"),
      Seq("M2", d("2010-02-01"), 4.0, 0, 1, 1, "M TWO"),
      Seq("A", d("2010-01-01"), 8.0 + 128.0, 0, 1, 1, null),
      Seq("B", d("2010-01-01"), 8.0 + 16.0, 0, 1, 1, "B"),
      Seq("P", d("2010-01-01"), 32.0, 1, 0, 0, "P"),
      Seq("U", d("2010-01-01"), 64.0, 0, 0, 0, "U"),
      Seq("X", d("2010-01-01"), 256.0, 1, 0, 0, "X")))
  }

  test("wait-times adjust: the same classification feeding the re-derived measures") {
    val b1 = "incomplete_between_0_1"
    val b2 = "incomplete_between_17_18"
    val tot = WaitTimes.totalVar("incomplete")
    // M1's specialty differs from M2's so its problematic re-keyed rows do
    // not share a band window with M2's own rows
    val panel = Seq(
      ("M1", "M ONE", "2010-01-01", "101", "Urology", 1.0, 1.0, 2.0),
      ("M2", "M TWO", "2010-01-01", "100", "General Surgery", 2.0, 0.0, 2.0),
      ("M2", "M TWO", "2010-02-01", "100", "General Surgery", 1.0, 3.0, 4.0),
      ("D", "D", "2010-01-01", "100", "General Surgery", 1.0, 0.0, 1.0),
      ("E", "E", "2010-01-01", "100", "General Surgery", 0.0, 2.0, 2.0),
      ("P", "P", "2010-01-01", "100", "General Surgery", 5.0, 5.0, 10.0),
      ("U", "U", "2010-01-01", "100", "General Surgery", 3.0, 1.0, 4.0),
      ("B", "B", "2010-01-01", "100", "General Surgery", 1.0, 1.0, 2.0),
      ("X", "X", "2010-01-01", "100", "General Surgery", 2.0, 2.0, 4.0),
    ).toDF("org_code", "org_name", "date", "treatment_function_code",
      "treatment_function", b1, b2, tot)
      .withColumn("date", col("date").cast("date"))
      .withColumn("year", lit(2010))
    val out = WaitTimes.adjust(panel, lookup, "incomplete", Seq(b1, b2))
    val pct = WaitTimes.percentVar("incomplete")
    val med = WaitTimes.medianVar("incomplete")
    // re-keyed rows get the percent at the 17-18 band (null when that band
    // is 0) and the median where the cumulative share crosses one half
    // after the first band; untouched rows carry neither
    assert(rows(out, "org_code", "date", "treatment_function_code", b1, b2, tot,
        "exp_problematic_org_change", pct, med, "org_name", "org_change") == Set(
      Seq("M2", d("2010-01-01"), "101", 1.0, 1.0, 2.0, 1, 1.0, null, "M TWO", 0),
      Seq("M2", d("2010-01-01"), "100", 2.0, 0.0, 2.0, 0, null, null, "M TWO", 0),
      Seq("M2", d("2010-02-01"), "100", 1.0, 3.0, 4.0, 0, 1.0, 17.5, "M TWO", 1),
      Seq("A", d("2010-01-01"), "100", 2.0, 1.0, 3.0, 0, 1.0, null, null, 1),
      Seq("B", d("2010-01-01"), "100", 1.0, 2.0, 3.0, 0, 1.0, 17.5, "B", 1),
      Seq("P", d("2010-01-01"), "100", 5.0, 5.0, 10.0, 1, null, null, "P", 0),
      Seq("U", d("2010-01-01"), "100", 3.0, 1.0, 4.0, 0, null, null, "U", 0),
      Seq("X", d("2010-01-01"), "100", 2.0, 2.0, 4.0, 1, null, null, "X", 0)))
  }

  test("a code in no lookup row and an empty lookup both leave the panel untouched") {
    val data = Seq(("U", "U", 2010, "Q1", 1.0, 0L))
      .toDF("org_code", "org_name", "year", "quarter", "n", "_row_idx")
    val empty = lookup.filter(lit(false))
    for (lk <- Seq(lookup, empty)) {
      val out = ReferenceAdjust.adjust(data, lk, ReferenceAdjust.Params(Seq("n")))
      assert(out.collect().map(_.toSeq).toSeq == Seq(Seq("U", 2010, "Q1", 1.0, 0, 0, 0, "U")))
    }
  }
}
