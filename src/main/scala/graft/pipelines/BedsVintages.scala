package graft.pipelines

import graft.ops.Relational
import graft.sources.SourceSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** The per-vintage overnight/day beds extraction + harmonisation programs
  * (scripts/available-and-occupied-beds/build_datasets_overnight_day_beds.R:
  * 41-444) as declarative rename tables and column programs over staged
  * frames — the stage BEFORE [[OvernightBeds.assembleAdjusted]]'s org-change
  * adjustment, mirroring [[WaitTimesVintages]].
  *
  * Staged-frame contract (same as WaitTimesVintages): column names are the
  * reference's post-readxl/post-make_clean_names names — readxl suffixes
  * duplicated headers by SHEET POSITION (`Total...6` → `total_6`), which is
  * what the reference's rename tables key on. BedsVintagesSpec drives both
  * vintages from staged strings to the panel [[OvernightBeds]] consumes and
  * pins the assembled column order against the committed clean CSV headers.
  *
  * Spark shape: the reference loops file-by-file; here each homogeneous file
  * family is one staged scan, the program is pure plan-time renames and
  * projections, and families union by name (U1).
  */
object BedsVintages {

  // ---- source specs (R:41-62 / R:278-298) ----

  /** 2000-10 annual family: sheet 1, skip 3 for the 2000-01/2001-02 files,
    * skip 4 after, `na = c("-", "")` (R:49-58); filename must carry both the
    * 200x vintage and the NHS_Organisations_in_England marker (R:45-46).
    */
  def spec0010(paths: Seq[String], early: Boolean): SourceSpec = SourceSpec(
    paths = paths,
    format = "excel",
    excelSheetIndex = 0,
    skipRows = if (early) 3 else 4,
    cleanNames = false, // the clean* programs snake_case the staged names
    naSentinels = Seq("-", ""),
    fileNameFilter = Some("(?=.*20(0[0-9]))(?=.*NHS_Organisations_in_England)"))

  /** 2010-24 quarterly family: sheet "NHS Trust by Sector", skip 5 for
    * Q1/Q2 2010-11, skip 14 after, `na = "-"` (R:285-294); 200x files are
    * excluded (R:282).
    */
  def spec1024(paths: Seq[String], early: Boolean): SourceSpec = SourceSpec(
    paths = paths,
    format = "excel",
    excelSheet = Some("^NHS Trust by Sector$"),
    skipRows = if (early) 5 else 14,
    cleanNames = false, // the clean* programs snake_case the staged names
    naSentinels = Seq("-"),
    fileNameFilter = Some("^(?!.*20(0[0-9]))"))

  // ---- rename tables ----

  /** 2000-01 overnight vintage: descriptive headers (R:82-87). */
  val OvernightRenames200001: Seq[(String, String)] = Seq(
    "available_all_sectors" -> "total_on_beds_available",
    "occupied_all_sectors" -> "total_on_beds_occupied",
    "available_general_acute" -> "general_acute_on_beds_available",
    "occupied_general_acute" -> "general_acute_on_beds_occupied",
    "available_learning_disability" -> "learn_disabil_on_beds_available",
    "occupied_learning_disability" -> "learn_disabil_on_beds_occupied",
    "available_maternity" -> "maternity_on_beds_available",
    "occupied_maternity" -> "maternity_on_beds_occupied",
    "available_mental_illness" -> "mental_illness_on_beds_available",
    "occupied_mental_illness" -> "mental_illness_on_beds_occupied")

  /** 2001-02 → 2009-10 overnight vintage: position-suffixed headers
    * (R:89-93).
    */
  val OvernightRenamesNumbered: Seq[(String, String)] = Seq(
    "total_5" -> "total_on_beds_available",
    "total_14" -> "total_on_beds_occupied",
    "total_23" -> "total_on_beds_percent_occupied",
    "general_acute_6" -> "general_acute_on_beds_available",
    "general_acute_15" -> "general_acute_on_beds_occupied",
    "general_acute_24" -> "general_acute_on_beds_percent_occupied",
    "learning_disability_11" -> "learn_disabil_on_beds_available",
    "learning_disability_20" -> "learn_disabil_on_beds_occupied",
    "learning_disability_29" -> "learn_disabil_on_beds_percent_occupied",
    "maternity_12" -> "maternity_on_beds_available",
    "maternity_21" -> "maternity_on_beds_occupied",
    "maternity_30" -> "maternity_on_beds_percent_occupied",
    "mental_illness_10" -> "mental_illness_on_beds_available",
    "mental_illness_19" -> "mental_illness_on_beds_occupied",
    "mental_illness_28" -> "mental_illness_on_beds_percent_occupied")

  /** 2010-24 rename table, `on_`/`day_` keyed by which directory the family
    * came from (R:314-331).
    */
  def renames1024(overnight: Boolean): Seq[(String, String)] = {
    val t = if (overnight) "on" else "day"
    Seq(
      "total_6" -> s"total_${t}_beds_available",
      "total_12" -> s"total_${t}_beds_occupied",
      "total_18" -> s"total_${t}_beds_percent_occupied",
      "general_acute_7" -> s"general_acute_${t}_beds_available",
      "general_acute_13" -> s"general_acute_${t}_beds_occupied",
      "general_acute_19" -> s"general_acute_${t}_beds_percent_occupied",
      "learning_disabilities_8" -> s"learn_disabil_${t}_beds_available",
      "learning_disabilities_14" -> s"learn_disabil_${t}_beds_occupied",
      "learning_disabilities_20" -> s"learn_disabil_${t}_beds_percent_occupied",
      "maternity_9" -> s"maternity_${t}_beds_available",
      "maternity_15" -> s"maternity_${t}_beds_occupied",
      "maternity_21" -> s"maternity_${t}_beds_percent_occupied",
      "mental_illness_10" -> s"mental_illness_${t}_beds_available",
      "mental_illness_16" -> s"mental_illness_${t}_beds_occupied",
      "mental_illness_22" -> s"mental_illness_${t}_beds_percent_occupied")
  }

  private val categories =
    Seq("total", "general_acute", "learn_disabil", "maternity", "mental_illness")

  /** The reference's exact regional-column removal chain (R:117-135) — an
    * if/ELSE-if cascade, so a frame with both `form` and `sha` loses only
    * `form`. Replicated as written.
    */
  private def dropRegional0010(df: DataFrame): DataFrame = {
    val c = df.columns.toSet
    if (c("form") && c("nhs_region")) df.drop("form", "nhs_region")
    else if (c("form")) df.drop("form")
    else if (c("nhs_region")) df.drop("nhs_region")
    else if (c("sha")) df.drop("sha")
    else df
  }

  /** Shared 0010 tail: uppercase names, drop nameless rows, drop leftover
    * position-suffixed columns (any digit in the name, R:112-116), regional
    * cascade, year → its leading 4 digits (R:168-171).
    */
  private def tail0010(df0: DataFrame): DataFrame = {
    var df = df0
      .withColumn("org_name", upper(col("org_name")))
      .filter(col("org_name").isNotNull)
    df = df.drop(df.columns.filter(_.exists(_.isDigit)): _*)
    df = dropRegional0010(df)
    df.withColumn("year", regexp_extract(col("year"), "^[0-9]{4}", 0))
  }

  /** Overnight 2000-10 cleaning (R:66-179) for ONE homogeneous family. The
    * vintage is detected from the staged schema (the reference tests
    * `"2000-01" %in% x$year`). For the 2000-01 vintage the reference derives
    * the percent-occupied columns as `available / occupied` — INVERTED
    * relative to every later vintage's occupied/available — with only exact
    * +Inf mapped to NA (`na_if(..., Inf)`, R:152-156), so 0/0 stays NaN.
    * Replicated bit-for-bit; [[Relational.safeDiv]] is the sane policy.
    */
  def overnight0010(staged: DataFrame): DataFrame = {
    var df = Relational.renameSeq(Relational.cleanNames(staged),
      Seq("org_id" -> "org_code", "name" -> "org_name"))
    val early = df.columns.contains("available_all_sectors")
    df = Relational.renameSeq(df,
      if (early) OvernightRenames200001 else OvernightRenamesNumbered)
    df = tail0010(df)
    val measures = df.columns.filterNot(
      Seq("fname", "org_code", "org_name", "year").contains)
    df = df.withColumns(ListMap.from(measures.map(m => m -> expr(s"try_cast($m AS DOUBLE)"))))
    if (early) {
      df = df.withColumns(ListMap.from(categories.map { cat =>
        val av = col(s"${cat}_on_beds_available")
        val occ = col(s"${cat}_on_beds_occupied")
        s"${cat}_on_beds_percent_occupied" ->
          when(av.isNull || occ.isNull, lit(null))
            .when(occ === 0d && av > 0d, lit(null)) // +Inf → na_if
            .when(occ === 0d && av === 0d, lit(Double.NaN)) // 0/0 NaN KEPT
            .when(occ === 0d, lit(Double.NegativeInfinity)) // -Inf survives na_if
            .otherwise(av / occ)
      }))
      df = df.drop("available_acute", "available_geriatric",
        "occupied_acute", "occupied_geriatric")
    }
    df
  }

  /** Day 2000-10 cleaning (R:182-275): single total column under two
    * possible names, age-split columns dropped when present, NO numeric
    * cast (the reference's day cleaner has none — the values stay as read).
    */
  def day0010(staged: DataFrame): DataFrame = {
    var df = Relational.renameSeq(Relational.cleanNames(staged),
      Seq("org_id" -> "org_code", "name" -> "org_name"))
    df = if (df.columns.contains("available_beds"))
      df.withColumnRenamed("available_beds", "total_day_beds_available")
    else df.withColumnRenamed("total", "total_day_beds_available")
    if (df.columns.contains("other_ages"))
      df = df.drop("neonates_and_children", "other_ages")
    tail0010(df)
  }

  /** 2010-24 cleaning (R:301-411) for one homogeneous family. Blank spacer
    * columns x11/x17 are dropped by name, the SHA/region column by POSITION
    * (P4 — the 4th staged column, R:355-357), and the NHS fiscal quarter is
    * re-keyed so Q4 (period ending March) wears the END year (R:369-389).
    */
  def clean1024(staged: DataFrame, overnight: Boolean): DataFrame = {
    var df = Relational.cleanNames(staged).drop("x11", "x17")
    df = Relational.renameSeq(df, renames1024(overnight))
    if (df.columns.contains("period"))
      df = df.withColumnRenamed("period", "period_end")
    df = df.withColumn("org_name", upper(col("org_name")))
    df = df.drop(df.columns(3)) // SHA/AT/region, lookup lost (R:353-357)
    df = df.filter(col("period_end").isNotNull)
      .withColumn("start_year", regexp_extract(col("year"), "^[0-9]{4}", 0))
      .withColumn("end_year",
        (regexp_extract(col("year"), "[0-9]{2}$", 0).cast("int") + 2000).cast("string"))
      .withColumn("quarter",
        when(col("period_end") === "June", "Q1")
          .when(col("period_end") === "September", "Q2")
          .when(col("period_end") === "December", "Q3")
          .otherwise("Q4"))
    df.withColumn("year",
        when(col("quarter") === "Q4", col("end_year")).otherwise(col("start_year")))
      .drop("start_year", "end_year")
  }

  // ---- family assembly (the frames OvernightBeds.assembleAdjusted takes) ----

  /** rbindlist(use.names=TRUE) over cleaned families, fname off, sorted —
    * column order follows the FIRST family, which is why the committed CSV
    * header starts with the 2000-01 file's layout (R:174-178).
    */
  def assemble0010(overnightFamilies: Seq[DataFrame],
                   dayFamilies: Seq[DataFrame]): DataFrame = {
    val on = Relational.unionByNameFill(overnightFamilies.map(overnight0010))
      .drop("fname")
    val day = Relational.unionByNameFill(dayFamilies.map(day0010))
      .drop("fname")
    naturalLeftJoin(on, day).orderBy(col("org_code"), col("year"))
  }

  def assemble1024(overnightFamilies: Seq[DataFrame],
                   dayFamilies: Seq[DataFrame]): DataFrame = {
    val on = Relational.unionByNameFill(
      overnightFamilies.map(clean1024(_, overnight = true))).drop("fname")
    val day = Relational.unionByNameFill(
      dayFamilies.map(clean1024(_, overnight = false))).drop("fname")
    naturalLeftJoin(on, day)
      .orderBy(col("org_code"), col("year"), col("quarter"))
  }

  /** plyr::join (R:435-436, 441-442): natural left join on the shared
    * columns, KEEPING the left frame's column order (Spark's using-columns
    * join hoists the keys to the front; plyr does not — and the committed
    * CSV headers prove it, e.g. `quarter` sits between the overnight and day
    * blocks in the 2010-24 file).
    */
  private def naturalLeftJoin(left: DataFrame, right: DataFrame): DataFrame = {
    val common = left.columns.toSeq.intersect(right.columns.toSeq)
    left.join(right, common, "left")
      .select((left.columns.toSeq ++
        right.columns.toSeq.filterNot(common.contains)).map(col): _*)
  }
}
