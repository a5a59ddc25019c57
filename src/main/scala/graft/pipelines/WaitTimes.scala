package graft.pipelines

import graft.ops.{HeaderPromotion, Relational}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** RTT wait-times panel (trust × specialty × month × pathway): the
  * org-change adjustment with its signature re-derivation of
  * percent-within-18-weeks and the binned median from wait-band counts
  * (scripts/wait-times/build_datasets_wait_times.R:433-549). The W1-W4
  * window composition: melt bands → running sum → crossing detection →
  * fill — then re-attached via select+distinct+join (the reference's J3/U4
  * pattern). Raw vintages aren't in the snapshot; WaitTimesSpec pins the
  * semantics on synthetic fixtures.
  *
  * Faithfully replicated reference quirks (flagged here because the golden
  * outputs depend on them):
  *  - the percent numerator row is matched by the LITERAL name
  *    `incomplete_between_17_18` (R:523), so for the admitted/non-admitted
  *    pathways the percent column is derived all-null;
  *  - the percent is only taken when that band's count is non-zero (R:523);
  *  - cumulative percent against a zero total propagates ±Inf (R division),
  *    which never satisfies the crossing test's `lag < 0.5` arm the way a
  *    real crossing does.
  */
object WaitTimes {

  def percentVar(pathway: String) = s"${pathway}_percent_within_18_weeks"
  def medianVar(pathway: String) = s"${pathway}_average_median_waiting_time_in_weeks"
  def totalVar(pathway: String): String =
    if (pathway == "incomplete") s"${pathway}_total_number_of_${pathway}_pathways"
    else s"${pathway}_total_number_of_completed_pathways_all"

  /** R-style division: 0/0 → null (NaN never matches), x/0 → ±Inf. */
  private def rDiv(num: Column, den: Column): Column =
    when(num.isNull || den.isNull, lit(null))
      .when(den === 0d && num === 0d, lit(null))
      .when(den === 0d && num > 0d, lit(Double.PositiveInfinity))
      .when(den === 0d, lit(Double.NegativeInfinity))
      .otherwise(num / den)

  /** @param panel   pathway rows in file order: org_code, org_name, date,
    *                year, treatment_function_code, treatment_function,
    *                band columns (`*_between_*`), total column
    * @param lookup  trust lookup (old_code, final_code, experiences_split,
    *                problematic)
    * @param pathway "incomplete" | "admitted" | "non_admitted"
    * @param binCols the band columns in wait-order (the melt order the
    *                cumulative sum runs in)
    */
  def adjust(panel: DataFrame, lookup: DataFrame, pathway: String,
             binCols: Seq[String]): DataFrame = {
    val pct = percentVar(pathway)
    val med = medianVar(pathway)
    val tot = totalVar(pathway)

    val indexed = HeaderPromotion.withRowIndex(panel)

    // name lookup: first distinct pair in file order (R:449-453)
    val names = ReferenceAdjust.names(indexed, keepLast = false)
    // problematic flag + affected split (R:459-478)
    val (joined, unaffected) =
      ReferenceAdjust.splitByLookup(indexed.drop("org_name", "_row_idx"), lookup)

    // change indicator: +1 month for mergers, in place for splits (R:487-496)
    val wChain = Window.partitionBy(col("org_code"), col("final_code"))
    val ci = joined.filter(col("final_code").isNotNull)
      .withColumn("change_date", max(col("date")).over(wChain))
      .withColumn("change_date",
        when(col("experiences_split") === 0, add_months(col("change_date"), 1))
          .otherwise(col("change_date")))
      .select(col("final_code").as("org_code"), col("change_date").as("date"),
        col("experiences_split"))
      .distinct()

    // re-key + NA-preserving sums over band and total columns (R:499-505)
    val measures = joined.columns.filter(c => c.contains("between") || c.contains("total")).toSeq
    val sums = Relational.naPreservingSum(measures)
    val groupKeys = Seq("date", "org_code", "treatment_function_code",
      "treatment_function", "year", "exp_problematic_org_change")
    val merged = joined
      .withColumn("org_code", coalesce(col("final_code"), col("org_code")))
      .groupBy(groupKeys.map(col): _*)
      .agg(sums.head, sums.tail: _*)

    // melt bands in wait-order with an explicit index (R pivot_longer keeps
    // column order; a distributed frame needs the key spelled out)
    val bandStructs = array(binCols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("bin_idx"), lit(c).as("name"), col(c).cast("double").as("count"))
    }: _*)
    val long = merged.select(
      col("date"), col("org_code"), col("treatment_function"),
      col("treatment_function_code"), col(tot).cast("double").as("__total"),
      explode(bandStructs).as("b"))
      .select(col("date"), col("org_code"), col("treatment_function"),
        col("treatment_function_code"), col("__total"),
        col("b.bin_idx"), col("b.name"), col("b.count"))

    val grp = Seq(col("date"), col("org_code"), col("treatment_function"))
    val wCum = Window.partitionBy(grp: _*).orderBy(col("bin_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOrd = Window.partitionBy(grp: _*).orderBy(col("bin_idx"))

    val withCum = long.withColumn("cum_freq", sum(col("count")).over(wCum))
      // percent: cumulative at the (literally) incomplete 17-18 band (R:521-526)
      .withColumn(pct,
        when(col("name") === "incomplete_between_17_18" && col("count") =!= 0,
          rDiv(col("cum_freq"), col("__total"))))
      .withColumn("cumulative_percent", rDiv(col("cum_freq"), col("__total")))
      .withColumn(med,
        when(col("cumulative_percent") >= 0.5 &&
          lag(col("cumulative_percent"), 1).over(wOrd) < 0.5,
          regexp_extract(col("name"), "_([0-9]+)", 1).cast("double") + 0.5))

    val filled = graft.ops.Fill.upDown(
      graft.ops.Fill.upDown(withCum, Seq(pct),
        Seq("date", "org_code", "treatment_function"), Seq(col("bin_idx"))),
      Seq(med), Seq("date", "org_code", "treatment_function"), Seq(col("bin_idx")))

    val derived = filled.select(col("date"), col("org_code"),
        col("treatment_function"), col("treatment_function_code"), col(pct), col(med))
      .distinct()

    val mergedWithDerived = merged.join(derived,
      Seq("date", "org_code", "treatment_function", "treatment_function_code"), "left")

    // union back, names, org_change indicator (R:539-546)
    val together = Relational.unionByNameFill(Seq(unaffected, mergedWithDerived))
    together
      .join(broadcast(names), Seq("org_code"), "left")
      .join(broadcast(ci), Seq("org_code", "date"), "left")
      .withColumn("org_change", when(col("experiences_split").isNotNull, 1).otherwise(0))
      .drop("experiences_split")
  }
}
