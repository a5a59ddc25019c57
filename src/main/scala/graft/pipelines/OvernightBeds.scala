package graft.pipelines

import graft.ops.{HeaderPromotion, Relational}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Overnight + day beds 2000–24 panel: merge the two committed clean
  * vintages (annual 2000–10, quarterly 2010–24) and apply the org-change
  * adjustment — reconstructing the reference's 2000–24 output (whose
  * committed copy is a stripped large blob, .MISSING_LARGE_BLOBS:2).
  * Re-expression of scripts/available-and-occupied-beds/
  * build_datasets_overnight_day_beds.R:447-558 on the shared
  * [[ReferenceAdjust]] template. With no golden file available, the
  * invariants are pinned by BedsPanelSpec instead (grain, totals,
  * NaN policy, vintage fill).
  */
object OvernightBeds {

  /** Measures: columns ending "available" or "s_occupied" — the reference's
    * suffix trick that captures `*_beds_occupied` but not
    * `*_percent_occupied` (R:526).
    */
  def measureCols(df: DataFrame): Seq[String] =
    df.columns.filter(c => c.endsWith("available") || c.endsWith("s_occupied")).toSeq

  private val categories =
    Seq("total_", "general_acute_", "learn_disabil_", "maternity_", "mental_illness_")

  /** Percent-occupied recompute after merging (R:529-539): NaN (0/0) → null,
    * but Infinity (x/0) is KEPT — the reference's cleanup compares the value
    * against the string "NaN", which Infinity fails. Replicated faithfully;
    * [[graft.ops.Relational.safeDiv]] is the fixed-policy alternative.
    */
  private def recomputePercents(df: DataFrame): DataFrame =
    df.withColumns(ListMap.from(for (cat <- categories; typ <- Seq("day_", "on_")) yield {
      val occ = col(s"${cat}${typ}beds_occupied")
      val av = col(s"${cat}${typ}beds_available")
      // explicit case split: ANSI mode errors on double /0, so the R
      // outcomes are spelled out (0/0 → null, x/0 → ±Inf, NA → null)
      s"${cat}${typ}beds_percent_occupied" ->
        when(occ.isNull || av.isNull, lit(null))
          .when(av === 0d && occ === 0d, lit(null))
          .when(av === 0d && occ > 0d, lit(Double.PositiveInfinity))
          .when(av === 0d, lit(Double.NegativeInfinity))
          .otherwise(occ / av)
    }))

  /** @param beds1024 raw string frame of overnight_day_beds_2010_24_clean.csv
    * @param beds0010 raw string frame of overnight_day_beds_2000_10_clean.csv
    * @param lookup   trust_lookup_uncomplicated_changes.csv
    */
  def assembleAdjusted(beds1024: DataFrame, beds0010: DataFrame, lookup: DataFrame): DataFrame = {
    // rbind(beds_1024, beds_0010, fill=TRUE) then arrange(org_code, year,
    // quarter) (R:447-449): the row order every order-dependent step sees is
    // the SORTED order, so index after sorting. String year sorts like
    // numeric for 4-digit years; R's arrange puts NA quarters last.
    val unioned = Relational.unionByNameFill(Seq(beds1024, beds0010))
      .orderBy(col("org_code"), col("year"), col("quarter").asc_nulls_last)
    val indexed = HeaderPromotion.withRowIndex(unioned)

    val measures = measureCols(indexed)
    val typed = indexed.withColumns(ListMap.from(
      ("year" -> expr("try_cast(year AS INT)")) +:
        measures.map(m => m -> expr(s"try_cast($m AS DOUBLE)"))))

    ReferenceAdjust.adjust(typed, lookup, ReferenceAdjust.Params(
        measureCols = measures,
        extraGroupCols = Seq("period_end"),
        nameKeepLast = false, // slice(1), R:457-461
        mergedPost = recomputePercents))
  }
}
