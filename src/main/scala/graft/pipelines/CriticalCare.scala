package graft.pipelines

import graft.ops.HeaderPromotion
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Critical-care beds trust × month panel: the org-change adjustment stage
  * (scripts/critical-care-beds/build_datasets_critical_care_beds.R:273-371)
  * on the monthly [[ReferenceAdjust.adjustMonthly]] template. The raw Excel
  * vintages aren't in the snapshot (only the final output CSV is committed),
  * so the adjustment is pinned by CriticalCareSpec's synthetic fixtures
  * rather than a golden diff.
  */
object CriticalCare {

  private val categories = Seq(
    "adult_critical_care_beds",
    "paediatric_intensive_care_beds",
    "neonatal_critical_care_cots_or_beds")

  /** Measures: columns ending "open", "s_occupied" or "transfers" (R:343). */
  def measureCols(df: DataFrame): Seq[String] =
    df.columns.filter(c =>
      c.endsWith("open") || c.endsWith("s_occupied") || c.endsWith("transfers")).toSeq

  /** Percent recompute after merging (R:346-355): 0/0 → null, x/0 → ±Inf
    * kept (the reference's string-compare NaN cleanup), spelled out per case
    * for ANSI mode.
    */
  private def recomputePercents(df: DataFrame): DataFrame =
    df.withColumns(ListMap.from(categories.map { cat =>
      val occ = col(s"number_of_${cat}_occupied")
      val av = col(s"number_of_${cat}_open")
      s"${cat}_percent_occupied" ->
        when(occ.isNull || av.isNull, lit(null))
          .when(av === 0d && occ === 0d, lit(null))
          .when(av === 0d && occ > 0d, lit(Double.PositiveInfinity))
          .when(av === 0d, lit(Double.NegativeInfinity))
          .otherwise(occ / av)
    }))

  /** @param panel  trust × month rows in file order: org_code, date (month
    *               start), month, year, org_name, measure columns (strings OK)
    * @param lookup trust_lookup_uncomplicated_changes.csv
    */
  def adjust(panel: DataFrame, lookup: DataFrame): DataFrame = {
    val indexed = HeaderPromotion.withRowIndex(panel)
    val measures = measureCols(indexed)
    val typed = indexed.withColumns(ListMap.from(
      Seq("year" -> expr("try_cast(year AS INT)"), "date" -> col("date").cast("date")) ++
        measures.map(m => m -> expr(s"try_cast($m AS DOUBLE)"))))

    ReferenceAdjust.adjustMonthly(typed, lookup,
      measureCols = measures,
      extraGroupCols = Seq("year", "month"),
      nameKeepLast = false, // slice(1), R:277-281
      mergedPost = recomputePercents)
  }
}
