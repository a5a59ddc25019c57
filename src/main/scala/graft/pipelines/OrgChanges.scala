package graft.pipelines

import graft.ops.Closure
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full re-derivation of the succession-paths table from a raw successor
  * edge list — scripts/org-changes/build_all_org_changes.R:62-231, the
  * richest relational program in the reference: iterative path expansion
  * with per-hop dates and change types, name-change vs merger refinement,
  * split detection, and the complicated/adjacent-path classification.
  *
  * Scale posture: the edge list (organisational changes) is tiny relative
  * to any fact table — change-EVENT-sized, thousands of rows for a national
  * registry over decades — and the finished table is a driver-side local
  * relation for downstream broadcast use (the same bounded-artifact contract
  * as the closure mapping and IVF centroids). Every step reads only the
  * edges or the paths the expansion yields, so the whole derivation runs on
  * the driver over the collected edges: at most ONE Spark job (the edge
  * collect; none for a local edge frame), and a job costs fixed scheduling
  * latency at any data size. GoldenDerivePathsSpec pins all 677 rows
  * byte-exact.
  *
  * Input schema: (old_code, new_code, change_date) — one row per
  * succession edge; multiple rows per old_code encode a split.
  * Output schema = the committed all_org_changes_paths CSV.
  */
object OrgChangePaths {

  def derivePaths(successors: DataFrame, maxHops: Int = 3): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val spark = successors.sparkSession

    val in = successors.select(col("old_code"), col("new_code"), col("change_date"))
    val edges = in.collect()
    // a src with >1 successors is a split — every branch row is typed 'split'
    // (build_all_org_changes.R:100-102: lengths(new_code_var) > 1)
    val bySrc = edges.filter(!_.isNullAt(0)).groupBy(_.get(0))

    // Every code ever seen starts its own chain (R:62-68); each hop is a
    // left join on the chain's last code (a null code matches nothing).
    var chains: Seq[(Vector[String], Vector[Any], Vector[String])] = edges.toSeq
      .flatMap(e => Seq(e.getString(0), e.getString(1))).filter(_ != null).distinct
      .map(c => (Vector(c), Vector(), Vector()))
    for (_ <- 1 to maxHops) chains = chains.flatMap { case (nc, dates, cts) =>
      bySrc.get(nc.last) match {
        case Some(next) => next.toSeq.map { e =>
          val ct = if (e.isNullAt(1)) null
            else if (next.length > 1) "split" else "merger_or_name_change"
          (nc :+ e.getString(1), dates :+ e.get(2), cts :+ ct)
        }
        case None => Seq((nc :+ null, dates :+ null, cts :+ null))
      }
    }

    // One mutable record per chain; ct is the refinement's working copy.
    final class Chain(val nc: Vector[String], val dates: Vector[Any], cts: Vector[String]) {
      val old: String = nc(0)
      val ct: Array[String] = (null +: cts).toArray
      def hasCt(v: String): Boolean = (1 to maxHops).exists(i => ct(i) == v)
      var finalCode: String = _
      var split: Boolean = false
      var dpc: String = "no"
      var adj: Int = 0
      var inCompl: Boolean = false
    }
    // codes that never changed drop out (the !is.na(new_code_1) filter)
    val paths = chains.collect { case (nc, dates, cts) if nc(1) != null => new Chain(nc, dates, cts) }

    // original paths = chains not contained in a longer one (R:112-117)
    val succCodes: Set[String] =
      paths.iterator.flatMap(c => (1 to maxHops).iterator.map(c.nc(_))).filter(_ != null).toSet
    val o = paths.filter(c => !succCodes.contains(c.old))

    // name-change refinement (R:119-144): a merger target reached from only
    // ONE distinct predecessor is a pure renaming, not a merger — every row
    // with that target is relabeled (whatever its own change type), then
    // the remaining merger_or_name_change downgrade to merger. Rounds are
    // independent: round i writes only ct(i) and reads nc(i-1)/nc(i)/ct(i).
    for (i <- 1 to maxHops) {
      val nameChanged: Set[String] = o.filter(_.nc(i) != null).groupBy(_.nc(i))
        .collect { case (target, rows)
          if rows.iterator.map(_.nc(i - 1)).distinct.size == 1 &&
            rows.exists(_.ct(i) == "merger_or_name_change") => target }
        .toSet
      o.foreach { c =>
        if (c.nc(i) != null && nameChanged.contains(c.nc(i))) c.ct(i) = "name_change"
        else if (c.ct(i) == "merger_or_name_change") c.ct(i) = "merger"
      }
    }

    o.foreach { c =>
      c.finalCode = (maxHops to 1 by -1).iterator.map(c.nc(_)).find(_ != null).orNull
      c.split = c.hasCt("split")
    }

    // complicated-path classification (R:152-231), on the chains touching
    // any code of a splitting chain
    val linked: Set[String] = o.iterator.filter(_.split)
      .flatMap(c => (c.old +: (1 to maxHops).map(c.nc(_))).filter(_ != null)).toSet
    val compl = o.filter(c =>
      (c.old +: (1 to maxHops).map(c.nc(_))).exists(x => x != null && linked.contains(x)))
    compl.foreach { c =>
      c.inCompl = true
      c.dpc =
        if (c.hasCt("merger") && c.split) "later_merger"
        else if (c.hasCt("name_change") && c.split) "later_name_change"
        else "no"
      c.adj = if (!c.split) 1 else 0
    }

    // a target multiple distinct trusts split INTO is itself complicated
    // (R:196-216); rounds are sequential — round i reads round i-1's labels
    for (i <- 1 to maxHops) {
      val sfm: Set[String] = compl.iterator
        .filter(c => c.ct(i) == "split" && c.dpc == "no").toSeq
        .groupBy(_.nc(i))
        .collect { case (target, rows)
          if rows.iterator.map(_.nc(i - 1)).distinct.size > 1 => target }
        .toSet
      compl.foreach { c =>
        if (c.nc(i) != null && sfm.contains(c.nc(i)) && c.adj == 0)
          c.dpc = "split_from_multiple"
      }
    }

    // a clean split with one branch feeding a split_from_multiple target is
    // adjacent to the complication (R:218-226)
    val sic: Set[String] =
      compl.iterator.filter(_.dpc == "split_from_multiple").map(_.old).toSet
    compl.foreach { c => if (sic.contains(c.old) && c.dpc == "no") c.adj = 1 }

    // chains ending cleanly everywhere are NOT complicated (R:228-236);
    // everything else sharing that final code is
    val ncs: Set[String] = compl.groupBy(_.finalCode)
      .collect { case (f, rows)
        if rows.forall(_.adj == 0) && rows.forall(_.dpc == "no") => f }.toSet
    val pcp: Set[String] = compl.iterator.map(_.finalCode).toSet -- ncs

    // re-attach the classification by full code chain (plyr::join on the
    // common columns, R:239-244): only chains whose final code is part of
    // a complicated path keep their labels; everything else resets to the
    // clean defaults.
    val rows = o.map { c =>
      val keep = c.inCompl && pcp.contains(c.finalCode)
      val hopVals = (1 to maxHops).flatMap(i => Seq(c.nc(i), c.dates(i - 1), c.ct(i)))
      Row.fromSeq(
        Seq(c.old, c.old) ++ hopVals ++ Seq(
          c.finalCode,
          if (c.split) 1 else 0,
          if (keep) c.dpc else "no",
          if (keep) c.adj else 0,
          if (pcp.contains(c.finalCode)) 1 else 0))
    }
    val code = in.schema("old_code").dataType
    val outSchema = StructType(
      Seq(StructField("old_code", code), StructField("new_code_0", code)) ++
        (1 to maxHops).flatMap(i => Seq(StructField(s"new_code_$i", code),
          StructField(s"date_change_$i", in.schema("change_date").dataType),
          StructField(s"change_type_$i", StringType))) ++
        Seq(StructField("final_code", code),
          StructField("experiences_split", IntegerType, nullable = false),
          StructField("direct_path_complicated", StringType, nullable = false),
          StructField("adjacent_to_complicated", IntegerType, nullable = false),
          StructField("part_of_complicated_path", IntegerType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
  }
}

/** Org-change lookup derivations over the committed succession-paths table
  * (`data/org-changes/all_org_changes_paths_2000_2018.csv`), re-expressing
  * scripts/org-changes/build_trust_lookup.R. The paths table is collected
  * once and everything runs on the driver: the closure on the
  * [[graft.ops.Closure.doubling]] kernel, and the results are local frames.
  * GoldenOrgChangesSpec pins both stages against the committed outputs.
  */
object OrgChanges {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

  /** One row per chain: its codes new_code_0..3 (NA-terminated),
    * final_code, experiences_split, whether it is outside every complicated
    * path, and old_code.
    */
  private def chains(paths: DataFrame): Seq[Row] =
    paths.select(col("new_code_0"), col("new_code_1"), col("new_code_2"), col("new_code_3"),
      col("final_code"), col("experiences_split").cast("int"),
      col("part_of_complicated_path") === "0", col("old_code")).collect().toSeq

  private def present(v: Any): Boolean = v != null && v != "NA"

  /** (old_code, final_code, hops) for every code appearing anywhere in a
    * chain, over the edges the chains' consecutive hops spell out.
    */
  private def resolveChains(rows: Seq[Row]): Seq[(Any, Any, Int)] = {
    val edges = rows.flatMap(r =>
      (1 to 3).collect { case i if present(r.get(i)) => (r.get(i - 1), r.get(i)) }).distinct
    val bySrc = Closure.doubling(edges).groupBy(_._1)
    rows.flatMap(r => Seq(7, 1, 2, 3).map(r.get)).filter(present).distinct.flatMap { c =>
      bySrc.get(c).fold(Seq((c, c, 0)))(_.map { case (_, d, h) => (c, d, h) })
    }
  }

  private def codeType(paths: DataFrame) = paths.schema("old_code").dataType

  /** (old_code, final_code, hops): closure of every known code. */
  def resolved(paths: DataFrame): DataFrame = {
    val rows = resolveChains(chains(paths)).map { case (o, f, h) => Row(o, f, h) }
    paths.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("old_code", codeType(paths)), StructField("final_code", codeType(paths)),
      StructField("hops", IntegerType, nullable = false))))
  }

  /** Re-derivation of trust_lookup_uncomplicated_changes.csv
    * (build_trust_lookup.R:66-109): closure mapping, minus identity rows,
    * joined to the unproblematic path classification, clean splits re-coded
    * as backwards mergers by swapping old/final (the reference's U6 value
    * swap, build_trust_lookup.R:104-107).
    */
  def trustLookup(paths: DataFrame): DataFrame = {
    val rows = chains(paths)
    val mapping = resolveChains(rows).collect { case (o, f, _) if o != f => (o, f) }.distinct
    // (final_code → experiences_split) of the unproblematic paths
    val unproblematic = rows.filter(r => !r.isNullAt(6) && r.getBoolean(6))
      .map(r => (r.get(4), r.get(5))).distinct.groupBy(_._1)
    val out = mapping.flatMap { case (o, f) =>
      unproblematic.get(f).fold(Seq(Row(o, f, null, 1)))(_.map {
        // U6 value swap: clean splits become backwards mergers
        case (_, 1) => Row(f, o, 1, 0)
        case (_, split) => Row(o, f, split, if (split == null) 1 else 0)
      })
    }
    paths.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), StructType(Seq(
      StructField("old_code", codeType(paths)), StructField("final_code", codeType(paths)),
      StructField("experiences_split", IntegerType),
      StructField("problematic", IntegerType, nullable = false))))
  }
}
