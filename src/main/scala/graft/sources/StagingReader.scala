package graft.sources

import graft.ops.Relational
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration
import scala.collection.immutable.ListMap

/** Declarative per-vintage source spec: the canonical ingestion path
  * replacing the reference's copy-pasted read/rename blocks
  * (S4-S8, P5-P7 in SURVEY §2). Excel is read natively with NO external
  * jars — OOXML (.xlsx) via [[Excel]] and legacy BIFF8 and BIFF5/7 (.xls) via [[Xls]],
  * dispatched per file by extension — alongside CSV/Parquet staging.
  *
  * @param paths            file or glob paths (multi-path scan, S6)
  * @param format           "csv" | "parquet"
  * @param header           CSV header row present
  * @param naSentinels      strings mapped to null after read (§1.4; CSV
  *                         readers accept only one nullValue, the reference
  *                         needs several: `na = c("-", "", "NULL")`)
  * @param fileNameFilter   regex a file's basename must match (S6 pruning —
  *                         evaluated on `input_file_name`, so at scan time
  *                         prefer encoding vintages in directory layout for
  *                         true partition pruning)
  * @param renames          tolerant canonical-schema renames (P5)
  * @param cleanNames       snake_case all columns first (P6)
  * @param fileDateRegex    capture group over the basename + java date
  *                         format, yielding a `file_date` column (S7/S8,
  *                         e.g. `("([A-Z][a-z]+\\d{4})", "MMMMyyyy")`)
  * @param prefixNonKey     prefix every non-key column (P7 pathway renames)
  * @param excelSheet       format="excel": sheet-name regex, case-insensitive
  *                         (the reference's `^providers?$` selection); a
  *                         file with NO matching sheet contributes no rows
  *                         (the reference skips such files)
  * @param excelSheetIndex  format="excel": 0-based sheet position, used
  *                         only when excelSheet is unset
  * @param skipRows         format="excel": leading rows dropped before the
  *                         header (readxl `skip = 13`)
  * @param excelRenderDates format="excel": render date-formatted numeric
  *                         cells as ISO date/datetime strings (readxl
  *                         behaviour, 1900 + 1904 systems); false surfaces
  *                         raw serial strings
  * @param excelAllSheets   format="excel": read EVERY sheet (regex-filtered
  *                         by excelSheet when set) and attach a
  *                         `sheet_name` column — the pre-2009 All_quarters
  *                         shape (one workbook per fiscal year, one sheet
  *                         per quarter; pair with
  *                         [[StagingReader.quarterFromSheet]])
  */
final case class SourceSpec(
    paths: Seq[String],
    format: String = "csv",
    header: Boolean = true,
    naSentinels: Seq[String] = Seq("", "-", "NULL", "NA"),
    fileNameFilter: Option[String] = None,
    renames: Map[String, String] = Map.empty,
    cleanNames: Boolean = true,
    fileDateRegex: Option[(String, String)] = None,
    prefixNonKey: Option[(String, Seq[String])] = None,
    excelSheet: Option[String] = None,
    excelSheetIndex: Int = 0,
    skipRows: Int = 0,
    excelRenderDates: Boolean = true,
    excelAllSheets: Boolean = false)

object StagingReader {

  /** One lazy scan: all-string staging columns + `fname` + optional
    * `file_date`, sentinel nulls applied, names canonicalised.
    */
  def read(spark: SparkSession, spec: SourceSpec): DataFrame = {
    val base = spec.format match {
      case "csv" =>
        spark.read.option("header", spec.header.toString).csv(spec.paths: _*)
      case "parquet" =>
        spark.read.parquet(spec.paths: _*)
      case "excel" =>
        // the filter is applied INSIDE the excel read — before any parse —
        // so excluded files can neither fail the job nor drive the schema
        readExcelStaging(spark, spec.paths, spec.excelSheet, spec.excelSheetIndex,
          spec.skipRows, spec.header, spec.excelRenderDates, spec.excelAllSheets,
          spec.fileNameFilter)
      case other => throw new IllegalArgumentException(s"unsupported format: $other")
    }
    // the excel path attaches fname during the per-file parse (its rows no
    // longer carry file lineage); file formats get it from the scan
    val withName = if (spec.format == "excel") base
    else base.withColumn("fname",
      regexp_extract(input_file_name(), "[^/]+$", 0))
    val filtered = spec.fileNameFilter
      .filter(_ => spec.format != "excel") // excel: already pruned pre-parse
      .map(re => withName.filter(col("fname").rlike(re)))
      .getOrElse(withName)

    val cleaned0 = if (spec.cleanNames) Relational.cleanNames(filtered) else filtered
    val renamed = Relational.renameTolerant(cleaned0, spec.renames)

    // sentinel → null on every string column (post-read, codegen'd)
    val stringCols = renamed.schema.fields
      .filter(f => f.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).filterNot(Set("fname", "sheet_name"))
    // backtick-quoted: staged names may carry readxl-style `...N` suffixes
    // (dots would otherwise parse as nested-field access)
    val nulled = renamed.withColumns(ListMap.from(stringCols.map(c =>
      c -> Relational.nullifySentinels(col(s"`$c`"), spec.naSentinels))))

    val dated = spec.fileDateRegex match {
      case Some((re, fmt)) =>
        nulled.withColumn("file_date", to_date(regexp_extract(col("fname"), re, 1), fmt))
      case None => nulled
    }

    spec.prefixNonKey match {
      case Some((prefix, keep)) =>
        val keepSet = keep.toSet ++ Set("fname", "file_date")
        val renameMap = dated.columns.filterNot(keepSet).map(c => c -> s"$prefix$c").toMap
        dated.withColumnsRenamed(renameMap)
      case None => dated
    }
  }

  /** S4 — distributed Excel scan (.xlsx AND legacy .xls) with NO external
    * jars: each workbook's bytes are read on an executor, where [[Excel]]
    * StAX-parses (xlsx) or [[Xls]] BIFF-parses (.xls) the selected sheet —
    * per-file dispatch, so one glob covers the mixed vintages the reference
    * collects. Workbook containers are not splittable, so the unit of work
    * is a whole file: the path-sorted file list is cut into at most one
    * contiguous slice per core, and each task opens its files through the
    * Hadoop `FileSystem` (any configured scheme) with a configuration
    * broadcast once per read.
    *
    * Nothing runs on the cluster before the first action: the globs are
    * expanded and the schema probed on the driver, which opens the leading
    * candidate files itself, one at a time.
    *
    * Selection semantics (matching the reference's readers):
    *  - Paths follow the file source's listing rules: globs are expanded,
    *    directories are listed recursively, and names starting with `_` or
    *    `.` are skipped.
    *  - `sheetName` set: a file WITHOUT a matching sheet contributes no
    *    rows — the reference skips such files outright
    *    (build_datasets_critical_care_beds.R:47-57); `sheetIndex` is used
    *    only when no name pattern is given.
    *  - `fileNameFilter` prunes files BEFORE any parse, so excluded (and
    *    possibly unparseable) files can neither fail the read nor leak
    *    into the schema.
    *  - Column names come from the first file (path order) that yields a
    *    non-empty selected sheet, with readxl's unique-name repair applied.
    *  - Rows come out in path order, each file's rows in sheet order.
    *  - A row carrying NON-NULL cells beyond that schema fails loudly
    *    (silent truncation would drop data — staging families are
    *    homogeneous by contract); all-null padding from an oversized
    *    sheet bounding box truncates harmlessly.
    */
  def readExcelStaging(spark: SparkSession, paths: Seq[String],
                       sheetName: Option[String] = None, sheetIndex: Int = 0,
                       skip: Int = 0, header: Boolean = true,
                       renderDates: Boolean = true,
                       allSheets: Boolean = false,
                       fileNameFilter: Option[String] = None): DataFrame = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val nameFilter = fileNameFilter.map(_.r)
    val files: Seq[(String, Long)] = paths.flatMap(p => listFiles(new Path(p), hadoopConf))
      .filter(f => nameFilter.forall(_.findFirstIn(f._1.replaceAll(".*/", "")).isDefined))
      .sortBy(_._1)
    require(files.nonEmpty, s"no files matched: $paths")

    // container dispatch by extension behind one neutral view: legacy
    // BIFF (.xls) and OOXML (.xlsx/.xlsm) expose the same
    // (sheet names, grid-by-index) surface, so selection logic exists once.
    // `allSheets` returns EVERY matching sheet with its name — the
    // pre-2009 All_quarters shape, one workbook per fiscal year with a
    // sheet per quarter (build_datasets_main.py:69-86)
    def sheetsOf(path: String, bytes: Array[Byte]): Iterator[(String, Vector[Array[String]])] = {
      val (names, gridOf): (Seq[String], Int => Vector[Array[String]]) =
        if (path.toLowerCase.endsWith(".xls")) {
          val wb = Xls.open(bytes)
          (wb.sheetNames, i => Xls.sheetGrid(wb, i, renderDates))
        } else {
          val wb = Excel.open(bytes)
          (wb.sheetNames, i => Excel.sheetGrid(wb, wb.sheets(i)._2, renderDates))
        }
      val re = sheetName.map(n => ("(?i)" + n).r)
      val picked: Seq[Int] = (re, allSheets) match {
        case (Some(r), true) =>
          names.indices.filter(i => r.findFirstIn(names(i)).isDefined)
        case (None, true) => names.indices
        case (Some(r), false) =>
          // no matching sheet → the FILE is skipped (reference semantics)
          names.indexWhere(n => r.findFirstIn(n).isDefined) match {
            case -1 => Nil
            case i => Seq(i)
          }
        case (None, false) =>
          require(sheetIndex < names.length,
            s"no sheet $sheetIndex in $path (sheets: $names)")
          Seq(sheetIndex)
      }
      // lazy: the schema probe inspects only the first non-empty sheet,
      // so later sheets of a workbook are never gridded for it
      picked.iterator.map(i => names(i) -> gridOf(i).drop(skip))
    }

    // schema from the first file (path order) yielding a non-empty selected
    // sheet — same contract as the CSV reader's first-file header, but a
    // leading file the sheet filter skips cannot poison the schema. The
    // driver opens candidates one at a time and stops at the first hit, so
    // driver memory holds one workbook.
    val firstGrid = files.iterator
      .flatMap { case (p, len) =>
        sheetsOf(p, readFile(p, len, hadoopConf)).map(_._2).find(_.nonEmpty) }
      .nextOption().getOrElse(Vector.empty)
    require(firstGrid.nonEmpty,
      s"no file yields a non-empty sheet (name=$sheetName) after skip=$skip")
    val width = firstGrid.head.length
    // readxl-style unique name repair: any existing `...<digits>` suffix is
    // stripped first, then empty or DUPLICATED header cells get a `...<pos>`
    // positional suffix (1-based, every occurrence) — the shape the
    // per-vintage rename tables key on after snake_casing ("Total...5" →
    // total_5, "...11" → x11). The reference's position-suffixed vintage
    // programs (build_datasets_overnight_day_beds.R:98-131) only work if
    // staging reproduces this repair; strip-then-repair also makes
    // re-staging an already-repaired export idempotent.
    val names =
      if (header) {
        val raw = firstGrid.head.map(h =>
          if (h == null) "" else h.trim.replaceAll("\\.\\.\\.\\d+$", ""))
        val dupes = raw.filter(_.nonEmpty).groupBy(identity)
          .collect { case (k, vs) if vs.length > 1 => k }.toSet
        raw.zipWithIndex.map { case (h, i) =>
          if (h.isEmpty || dupes(h)) s"$h...${i + 1}" else h
        }
      }
      else (0 until width).map(i => s"...${i + 1}").toArray
    val metaCols =
      if (allSheets) Seq("fname", "sheet_name") else Seq("fname")
    val schema = org.apache.spark.sql.types.StructType(
      metaCols.map(org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType, nullable = false)) ++
        names.map(n => org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.StringType, nullable = true)).toSeq)

    val dataRows = if (header) 1 else 0
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))
    val slices = math.min(files.length, spark.sparkContext.defaultParallelism)
    val rdd = spark.sparkContext.parallelize(files, slices).flatMap { case (path, len) =>
      val fname = path.replaceAll(".*/", "")
      sheetsOf(path, readFile(path, len, conf.value.value)).flatMap { case (sn, grid) =>
        grid.drop(dataRows).map { cells =>
          // loud only when truncation would drop a NON-NULL cell: sheet
          // bounding boxes often exceed the data region via footnote cells,
          // and padding nulls away is not data loss
          if (cells.length > width) {
            var k = width
            while (k < cells.length) {
              require(cells(k) == null,
                s"$fname sheet '$sn' has a non-empty cell '${cells(k)}' in " +
                  s"column ${k + 1}, beyond the ${width}-column schema — " +
                  "refusing to truncate data (widen the first file or fix the spec)")
              k += 1
            }
          }
          val padded = java.util.Arrays.copyOf(cells, width)
          val meta = if (allSheets) Seq(fname, sn) else Seq(fname)
          org.apache.spark.sql.Row.fromSeq(meta ++ padded.toSeq)
        }
      }
    }
    spark.createDataFrame(rdd, schema)
  }

  /** The file source's listing rules on the driver: globs expanded,
    * directories listed recursively, `_`/`.`-prefixed and in-flight
    * `._COPYING_` names skipped. Returns (qualified path, length) per file.
    */
  private def listFiles(pattern: Path, conf: Configuration): Seq[(String, Long)] = {
    val fs = pattern.getFileSystem(conf)
    def visible(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_"))
    }
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(visible).flatMap(leaves)
      else Seq(st)
    val roots = Option(fs.globStatus(pattern)).map(_.toSeq).getOrElse(Nil)
    if (roots.isEmpty) throw new java.io.FileNotFoundException(s"Path does not exist: $pattern")
    roots.filter(st => st.isDirectory || visible(st)).flatMap(leaves)
      .map(st => st.getPath.toString -> st.getLen)
  }

  private def readFile(path: String, len: Long, conf: Configuration): Array[Byte] = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    try {
      val bytes = new Array[Byte](Math.toIntExact(len))
      in.readFully(bytes)
      bytes
    } finally in.close()
  }

  /** S8 — first 19xx/20xx year in a filename-ish string, "" when absent
    * (reference: scripts/build_datasets_main.py:66). Shared by
    * [[quarterFromSheet]] and the staging programs so year extraction can
    * never drift between the quarter map and the derived year column.
    */
  def yearFromName(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(c, "(19[5-9]\\d|20[0-2]\\d)", 1)

  /** S8 — quarter extraction from a filename-ish string: `Quarter_3`,
    * `Q3`, etc → "Q3" (reference: scripts/build_datasets_main.py:62-92).
    */
  def quarterFromName(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val q = coalesce(
      nullif(regexp_extract(c, "Quarter[_\\s]?(\\d)", 1), lit("")),
      nullif(regexp_extract(c, "Q(\\d)", 1), lit("")))
    when(q.isNotNull, concat(lit("Q"), q))
  }

  /** S8, pre-2009 variant (scripts/build_datasets_main.py:69-86): before
    * 2009-10 a fiscal year ships as ONE `All_quarters` workbook with a
    * sheet per quarter, labeled by fiscal-quarter-END month — June<yy>=Q1,
    * Sep<yy>=Q2, Dec<yy>=Q3, Mar<yy+1>=Q4 (the Q4 sheet wears the NEXT
    * calendar year's suffix). The year+1 suffix is zero-padded only below
    * 10, exactly as the reference formats it. Non-All_quarters inputs fall
    * back to [[quarterFromName]].
    */
  def quarterFromSheet(fname: org.apache.spark.sql.Column,
                       sheet: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val year = yearFromName(fname)
    val yy = substring(year, 3, 2)
    val next = substring(year, 3, 2).cast("int") + 1
    val yyPlus = when(next < 10, concat(lit("0"), next.cast("string")))
      .otherwise(next.cast("string"))
    when(fname.contains("All_quarters") && year =!= "",
      when(sheet === concat(lit("June"), yy), "Q1")
        .when(sheet === concat(lit("Sep"), yy), "Q2")
        .when(sheet === concat(lit("Dec"), yy), "Q3")
        .when(sheet === concat(lit("Mar"), yyPlus), "Q4"))
      .otherwise(quarterFromName(fname))
  }
}

/** K1 — sinks. Parquet partitioned-by-key is the primary format; single-file
  * CSV only as the reference-compatible export (its coalesce(1) serialises
  * the write — never use it for large outputs).
  */
object Sinks {
  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Bucketed + sorted parquet table: the storage layout that makes big
    * fact⋈fact joins and re-aggregations SHUFFLE-FREE at read time — when
    * two tables share bucket columns and count, Spark plans their join
    * with no Exchange on either side (BucketingSpec pins exactly that).
    * At 100 TB this is the difference between re-shuffling both fact
    * tables per query and never shuffling them again after ingest; pick
    * `buckets` so one bucket ≈ one task's worth of data at target scale.
    */
  def parquetBucketed(df: DataFrame, table: String, buckets: Int,
                      bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  def csvSingleFile(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Drop `table` and clear any stale MANAGED location a previous session
    * orphaned — the rebuild discipline every store/model writer shares
    * (phrase store, KMV store, IVF-PQ store and model), factored here so
    * the sites cannot drift. Dropping a KNOWN managed table removes its
    * data with it; the hazard is a warehouse directory surviving without
    * catalog metadata (in-memory catalog + durable warehouse), where
    * overwrite-saveAsTable errors LOCATION_ALREADY_EXISTS. That orphan is
    * removed through the HADOOP FileSystem API — resolving file:, hdfs://,
    * s3a://, or any other configured scheme alike — and ONLY when the
    * catalog did not know the table (a non-file warehouse with a healthy
    * catalog is never touched).
    */
  def dropTableAndStaleLocation(spark: SparkSession, table: String): Unit = {
    require(!table.contains("."),
      s"dropTableAndStaleLocation expects an unqualified table name, got '$table'")
    val wasKnown = spark.catalog.tableExists(table)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    if (!wasKnown) {
      val db = spark.catalog.getDatabase("default").locationUri
      val loc = new org.apache.hadoop.fs.Path(db, table.toLowerCase)
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }

  /** The name a [[rewriteStaged]] writes its rewrite under before the
    * swap. A crash between the swap's drop and rename leaves the rewrite
    * here, so the crash guards name it in their recovery message.
    */
  def stageName(table: String): String = table + "__compacting"

  /** Rewrite a store table in place to `rows`, the rows of it that
    * survive, preserving its layout: the one staged swap every
    * compaction, fold, collapse and purge shares, so each of those only
    * says which rows survive.
    *
    * Every `mode("append")` adds one file per (bucket or partition ×
    * writing task), and at the 100 TB steady state the small-file count,
    * not the data, becomes the scan cost. The rewrite writes one file per
    * non-empty bucket or partition under the layout the catalog records,
    * so every shuffle-free join and pruned probe the store's consumers
    * pin survives (IncrementalDedupSpec / IncrementalAnnSpec pin results
    * AND plan shape across compaction):
    *  - bucketed: each row is routed by the WRITER'S bucket-id expression,
    *    pmod(murmur3(bucketCols), buckets), so every bucket lands wholly
    *    in one task. A plain repartition(buckets, bucketCols) is not
    *    reliable here: its shuffle can be elided against the bucketed
    *    scan's reported partitioning while the actual read runs on file
    *    splits, leaving buckets spread across tasks;
    *  - partitioned: each partition value's rows hash into one task, and
    *    `MSCK REPAIR` runs after the swap — the rename moves the table
    *    DIRECTORY but the catalog's per-partition locations still
    *    reference the stage path, so every scan would read empty;
    *  - neither: a plain rewrite.
    * The stage is written completely before the table is dropped and
    * renamed into its place, and the table's `graft.*` properties (the
    * family parameters the ingests stamp) are re-applied, since the swap
    * would lose them. Run between ingests — the single-writer contract
    * covers maintenance too.
    */
  def rewriteStaged(spark: SparkSession, table: String, rows: DataFrame): Unit = {
    require(!table.contains("."),
      s"rewriteStaged expects an unqualified table name, got '$table'")
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val pcols = meta.partitionColumnNames
    val w = meta.bucketSpec match {
      case Some(spec) =>
        val b = rows
          .repartition(spec.numBuckets,
            pmod(hash(spec.bucketColumnNames.map(col): _*), lit(spec.numBuckets)))
          .write.bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
            spec.bucketColumnNames.tail: _*)
        if (spec.sortColumnNames.nonEmpty)
          b.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
        else b
      case None if pcols.nonEmpty =>
        rows.repartition(pcols.map(col): _*).write.partitionBy(pcols: _*)
      case None => rows.write
    }
    val stage = stageName(table)
    spark.sql(s"DROP TABLE IF EXISTS `$stage`")
    w.mode("overwrite").format("parquet").saveAsTable(stage)
    spark.sql(s"DROP TABLE `$table`")
    spark.sql(s"ALTER TABLE `$stage` RENAME TO `$table`")
    if (meta.bucketSpec.isEmpty && pcols.nonEmpty)
      spark.sql(s"MSCK REPAIR TABLE `$table`")
    val props = meta.properties.filter(_._1.startsWith("graft."))
    if (props.nonEmpty)
      spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES " +
        props.map { case (k, v) => s"'$k'='$v'" }.mkString("(", ", ", ")"))
  }
}
