package graft.pipelines

import graft.ops.{Fill, Relational}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

/** The reference's org-change adjustment template, shared by all four panel
  * scripts (wait times, overnight/day beds, critical care, supporting
  * facilities) — the reference copy-pastes it with small parameter changes;
  * here those parameters are explicit and the logic exists once:
  *
  *  - name lookup: first or last distinct (code, name) pair in file order
  *    (`slice(1)` vs `slice_tail(n=1)`);
  *  - problematic trusts flagged, never merged;
  *  - affected = codes on either side of a clean change;
  *  - the change-indicator derivation, replicated bug-for-bug (group-wide
  *    max quarter, and the split-path double "Q"-prefix that prevents split
  *    indicators from ever matching — see SupportingFacilities history);
  *  - re-key + NA-preserving sums over the measure columns, with optional
  *    extra grouping columns (e.g. the beds panel's `period_end`);
  *  - a per-pipeline post-aggregation hook on the merged slice only
  *    (e.g. recomputing percent-occupied columns);
  *  - indicator join back on (org_code, year, quarter) — null-safe on
  *    quarter, since annual vintages carry no quarter.
  *
  * Inputs must already carry `org_code`, numeric `year`, string `quarter`
  * (nullable), optional `org_name`, and a `_row_idx` file-order key
  * (SURVEY §7 hard part 1).
  */
object ReferenceAdjust {

  final case class Params(
      measureCols: Seq[String],
      extraGroupCols: Seq[String] = Nil,
      nameKeepLast: Boolean = true,
      mergedPost: DataFrame => DataFrame = identity)

  /** Classify every code the lookup mentions, once, on the driver (the
    * lookup is a bounded, driver-collected artifact — see [[OrgChanges]]):
    * one row per clean lookup row listing the code as `old_code`, or a
    * single row with null `final_code`/`experiences_split` for a code that
    * is only problematic or only a clean final code. An old code listed
    * twice keeps both rows, so its panel rows are re-keyed once per
    * listing (GoldenOrgChangesSpec pins that lookup shape).
    */
  private def lookupTable(lookup: DataFrame): DataFrame = {
    val rows = lookup.select(col("old_code"), col("final_code"), col("experiences_split"),
      col("problematic") === 1, col("problematic") === 0).collect()
    def where(i: Int) = rows.filter(r => !r.isNullAt(i) && r.getBoolean(i))
    def codes(rs: Array[Row]): Set[Any] = rs.iterator.flatMap(r => Seq(r.get(0), r.get(1))).toSet
    val clean = where(4)
    val problematic = codes(where(3))
    val affected = codes(clean)
    val cleanByOld = clean.groupBy(_.get(0))
    val out = (problematic ++ affected - null).toSeq.flatMap { c =>
      val flags = Seq(c, problematic(c), affected(c))
      cleanByOld.get(c) match {
        case Some(rs) => rs.toSeq.map(r => Row.fromSeq(flags ++ Seq(r.get(1), r.get(2))))
        case None => Seq(Row.fromSeq(flags ++ Seq(null, null)))
      }
    }
    val f = lookup.schema
    val schema = StructType(Seq(
      StructField("org_code", f("old_code").dataType),
      StructField("__problematic", BooleanType, nullable = false),
      StructField("__affected", BooleanType, nullable = false),
      StructField("final_code", f("final_code").dataType),
      StructField("experiences_split", f("experiences_split").dataType)))
    lookup.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }

  /** The shared first step of every org-change adjustment (R:459-478 in
    * the wait-times script): flag rows of problematic trusts
    * (`exp_problematic_org_change`), then split the panel into the rows a
    * clean change touches — joined to their `final_code` and
    * `experiences_split` — and the untouched rest (without `_row_idx`).
    * One broadcast join against [[lookupTable]], split by a predicate.
    */
  private[pipelines] def splitByLookup(body: DataFrame, lookup: DataFrame): (DataFrame, DataFrame) = {
    val j = body.join(broadcast(lookupTable(lookup)), Seq("org_code"), "left")
    val flagged = ("org_code" +: body.columns.filterNot(_ == "org_code"))
      .map(c => col(s"`$c`")) :+
      when(col("__problematic"), 1).otherwise(0).as("exp_problematic_org_change")
    val isAffected = coalesce(col("__affected"), lit(false))
    (j.filter(isAffected).select(flagged ++ Seq(col("final_code"), col("experiences_split")): _*),
      j.filter(!isAffected).select(flagged: _*).drop("_row_idx"))
  }

  def adjust(data: DataFrame, lookup: DataFrame, params: Params): DataFrame = {
    val hasName = data.columns.contains("org_name")

    // ---- name lookup: first/last distinct pair in file order ----
    val names =
      if (!hasName) null
      else Relational.firstPerGroup(
        data.select(col("org_code"), col("org_name"), col("_row_idx"))
          .groupBy(col("org_code"), col("org_name"))
          .agg(min(col("_row_idx")).as("first_idx")),
        Seq("org_code"),
        Seq(if (params.nameKeepLast) col("first_idx").desc else col("first_idx").asc))
        .select(col("org_code"), col("org_name"))

    val (joined, unaffected) = splitByLookup(data.drop("org_name"), lookup)

    // ---- change indicator (first period under the new arrangement) ----
    val w = Window.partitionBy(col("org_code"), col("final_code"))
    val qnum = expr("try_cast(regexp_extract(quarter, '[0-9]+', 0) AS DOUBLE)")
    val ci0 = joined.filter(col("final_code").isNotNull)
      .withColumn("change_year", max(col("year")).over(w))
      .withColumn("__qnum", qnum)
      .withColumn("__maxq", max(col("__qnum")).over(w))
      .withColumn("change_quarter",
        when(col("year") === col("change_year") && col("__qnum").isNotNull, col("__maxq")))
    val ci = Fill.up(ci0, Seq("change_quarter"), Seq("org_code", "final_code"), Seq(col("_row_idx")))
      .select(col("final_code"), col("change_year"), col("change_quarter"), col("experiences_split"))
      .distinct()
      .withColumnRenamed("final_code", "org_code")
      .withColumn("__q1",
        when(col("change_quarter").isNotNull,
          concat(lit("Q"), col("change_quarter").cast("int"))))
      .withColumn("year",
        when(col("__q1").isNull && col("experiences_split") === 0,
          col("change_year") + 1).otherwise(col("change_year")))
      .withColumn("__date",
        when(col("__q1").isNotNull && col("experiences_split") === 0,
          add_months(make_date(col("year"),
            (col("change_quarter").cast("int") - 1) * 3 + 1, lit(1)), 3)))
      .withColumn("__q2",
        when(col("__date").isNotNull, quarter(col("__date")).cast("string"))
          .otherwise(col("__q1")))
      .withColumn("year", when(col("__date").isNotNull, year(col("__date"))).otherwise(col("year")))
      .withColumn("quarter", when(col("__q2").isNotNull, concat(lit("Q"), col("__q2"))))
      .select(col("org_code"), col("year"), col("quarter"), col("experiences_split"))
      .distinct()

    // ---- re-key + NA-preserving sums (+ pipeline-specific post step) ----
    val groupCols = Seq("year", "quarter", "org_code") ++ params.extraGroupCols :+
      "exp_problematic_org_change"
    val sums = Relational.naPreservingSum(params.measureCols)
    val merged = params.mergedPost(
      joined
        .withColumn("org_code", coalesce(col("final_code"), col("org_code")))
        .groupBy(groupCols.map(col): _*)
        .agg(sums.head, sums.tail: _*))

    val together = Relational.unionByNameFill(Seq(unaffected, merged))

    // ---- names + indicators (null-safe quarter join: annual rows) ----
    val ciJoinCond: Column =
      together("org_code") === ci("org_code") &&
        together("year") === ci("year") &&
        (together("quarter") <=> ci("quarter"))
    val withCi = together
      .join(broadcast(ci), ciJoinCond, "left")
      .drop(ci("org_code")).drop(ci("year")).drop(ci("quarter"))
      .withColumn("unproblematic_org_change",
        when(col("experiences_split").isNotNull, 1).otherwise(0))
      .drop("experiences_split")
      .withColumn("exp_unproblematic_org_change",
        max(col("unproblematic_org_change")).over(Window.partitionBy(col("org_code"))))

    if (hasName) withCi.join(broadcast(names), Seq("org_code"), "left") else withCi
  }

  /** Monthly-grain variant (critical-care beds,
    * scripts/critical-care-beds/build_datasets_critical_care_beds.R:273-371):
    * the change indicator is date-based — max(date) per (old, final) chain,
    * shifted +1 month for mergers (first period under the new arrangement)
    * and left at the last pre-change period for splits — and joins back on
    * (org_code, date). Inputs carry `org_code`, `date` (month start),
    * optional `org_name`, and `_row_idx`.
    *
    * @param extraGroupCols additional aggregation keys (the reference groups
    *                       by year, month and date alongside org_code)
    */
  def adjustMonthly(data: DataFrame, lookup: DataFrame, measureCols: Seq[String],
                    extraGroupCols: Seq[String] = Nil,
                    nameKeepLast: Boolean = false,
                    mergedPost: DataFrame => DataFrame = identity): DataFrame = {
    val hasName = data.columns.contains("org_name")
    val names =
      if (!hasName) null
      else Relational.firstPerGroup(
        data.select(col("org_code"), col("org_name"), col("_row_idx"))
          .groupBy(col("org_code"), col("org_name"))
          .agg(min(col("_row_idx")).as("first_idx")),
        Seq("org_code"),
        Seq(if (nameKeepLast) col("first_idx").desc else col("first_idx").asc))
        .select(col("org_code"), col("org_name"))

    val (joined, unaffected) = splitByLookup(data.drop("org_name"), lookup)

    // date-based change indicator: +1 month for mergers, in-place for splits
    val w = Window.partitionBy(col("org_code"), col("final_code"))
    val ci = joined.filter(col("final_code").isNotNull)
      .withColumn("change_date", max(col("date")).over(w))
      .withColumn("change_date",
        when(col("experiences_split") === 0, add_months(col("change_date"), 1))
          .otherwise(col("change_date")))
      .select(col("final_code").as("org_code"), col("change_date").as("date"),
        col("experiences_split"))
      .distinct()

    val groupCols = Seq("org_code", "date") ++ extraGroupCols :+ "exp_problematic_org_change"
    val sums = Relational.naPreservingSum(measureCols)
    val merged = mergedPost(
      joined
        .withColumn("org_code", coalesce(col("final_code"), col("org_code")))
        .groupBy(groupCols.map(col): _*)
        .agg(sums.head, sums.tail: _*))

    val together = Relational.unionByNameFill(Seq(unaffected, merged))

    val withCi = together
      .join(broadcast(ci), Seq("org_code", "date"), "left")
      .withColumn("unproblematic_org_change",
        when(col("experiences_split").isNotNull, 1).otherwise(0))
      .drop("experiences_split")
      .withColumn("exp_unproblematic_org_change",
        max(col("unproblematic_org_change")).over(Window.partitionBy(col("org_code"))))

    if (hasName) withCi.join(broadcast(names), Seq("org_code"), "left") else withCi
  }
}
