package graft.ops

import graft.SparkSpec
import graft.pipelines.ReferenceAdjust
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class HeaderAdjustSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("HeaderPromotion.promote slices preamble and promotes header values to names") {
    // raw sheet shape: junk preamble, then the real header, then data
    val staging = Seq(
      ("NHS England Statistics", null, null),
      ("Period: Q1", null, null),
      ("Org Code", "Org Name", "Beds Available"),
      ("RX1", "ALPHA TRUST", "120"),
      ("RY2", "BETA TRUST", "80"),
    ).toDF("c0", "c1", "c2")
    val out = HeaderPromotion.promote(staging, "c0", "^Org Code$")
    assert(out.columns.toSeq == Seq("org_code", "org_name", "beds_available", "_row_idx"))
    val rows = out.orderBy("_row_idx").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "RX1" && rows(1).getString(2) == "80")
  }

  test("HeaderPromotion.promote fails loudly when no header matches") {
    val staging = Seq(("a", "b")).toDF("c0", "c1")
    assertThrows[IllegalArgumentException] {
      HeaderPromotion.promote(staging, "c0", "^Org Code$")
    }
  }

  test("HeaderPromotion.promotePerFile slices at a different offset per file") {
    val staging = Seq(
      ("f1", "junk", "x"),
      ("f1", "Org Code", "Beds"),
      ("f1", "RX1", "10"),
      ("f2", "Org Code", "Beds"),
      ("f2", "RY2", "20"),
      ("f2", "RZ3", "30"),
    ).toDF("fname", "c0", "c1")
    val out = HeaderPromotion.promotePerFile(staging, "fname", "c0", "^Org Code$",
      Seq("org_code", "beds"))
    val rows = out.select("fname", "org_code", "beds").orderBy("org_code").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq ==
      Seq(("f1", "RX1", "10"), ("f2", "RY2", "20"), ("f2", "RZ3", "30")))
  }

  // the panel as ReferenceAdjust reads it: annual rows (null quarter) in
  // file order (`_row_idx`)
  private def panel = Seq(
    // org m1+m2 merged into MM per lookup; u1 untouched; p1 problematic;
    // MM itself reports rows in 2019 — they must merge with m1+m2, not
    // duplicate the (MM, 2019) grain
    ("m1", 2019, Some(10.0), Some(1.0), Some("M ONE")),
    ("m2", 2019, Some(20.0), None, Some("M TWO")),
    ("MM", 2019, Some(40.0), None: Option[Double], Some("MERGED TRUST")),
    ("m1", 2020, None: Option[Double], None: Option[Double], Some("M ONE")),
    ("m2", 2020, None, None, Some("M TWO")),
    ("u1", 2019, Some(5.0), Some(2.0), Some("UNTOUCHED")),
    ("p1", 2019, Some(7.0), Some(3.0), Some("PROBLEMATIC")),
  ).toDF("org_code", "year", "beds", "day_beds", "org_name")
    .withColumn("quarter", lit(null).cast("string"))
    .withColumn("_row_idx", monotonically_increasing_id())

  private def lookup = Seq(
    ("m1", "MM", 0, 0), ("m2", "MM", 0, 0), ("p1", "PX", 0, 1),
  ).toDF("old_code", "final_code", "experiences_split", "problematic")

  private def adjusted =
    ReferenceAdjust.adjust(panel, lookup, ReferenceAdjust.Params(Seq("beds", "day_beds")))

  test("ReferenceAdjust merges clean changes with NA-preserving sums") {
    val out = adjusted.cache()
    val merged2019 = out.filter(col("org_code") === "MM" && col("year") === 2019).collect()
    assert(merged2019.length == 1, "successor's own rows must merge, not duplicate the grain")
    assert(merged2019(0).getAs[Double]("beds") == 70.0) // 10 + 20 + MM's own 40
    assert(merged2019(0).getAs[Double]("day_beds") == 1.0) // null + 1.0 + null = 1.0
    val merged2020 = out.filter(col("org_code") === "MM" && col("year") === 2020).collect()
    assert(merged2020(0).isNullAt(merged2020(0).fieldIndex("beds")),
      "all-null merge must stay null, not become 0")
  }

  test("ReferenceAdjust keeps untouched trusts as-is and flags problematic ones") {
    val out = adjusted.cache()
    val u = out.filter(col("org_code") === "u1").collect()(0)
    assert(u.getAs[Double]("beds") == 5.0)
    assert(u.getAs[Int]("unproblematic_org_change") == 0)
    assert(u.getAs[Int]("exp_problematic_org_change") == 0)
    val p = out.filter(col("org_code") === "p1").collect()(0)
    assert(p.getAs[Double]("beds") == 7.0, "problematic trusts are flagged, never merged")
    assert(p.getAs[Int]("exp_problematic_org_change") == 1)
  }

  test("ReferenceAdjust preserves measure totals for non-problematic rows") {
    val before = panel.filter(col("org_code") =!= "p1").agg(sum("beds")).head().getDouble(0)
    val after = adjusted.filter(col("org_code") =!= "p1").agg(sum("beds")).head().getDouble(0)
    assert(before == after, "merger re-keying must conserve totals")
  }
}
