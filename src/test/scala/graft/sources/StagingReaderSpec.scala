package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StagingReaderSpec extends AnyFunSuite with SparkSpec {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft_staging").toFile
    d.deleteOnExit()
    Files.writeString(d.toPath.resolve("beds_April2013.csv"),
      "Org Code,NR. Beds,Extra\nRX1,10,-\nRY2,-,ok\n")
    Files.writeString(d.toPath.resolve("beds_May2013.csv"),
      "Org Code,NR. Beds,Extra\nRZ3,30,NULL\n")
    Files.writeString(d.toPath.resolve("adjusted_beds_June2013.csv"),
      "Org Code,NR. Beds,Extra\nQQ9,99,x\n")
    d.getAbsolutePath
  }

  test("reads multi-file staging with fname, sentinel nulls, clean names, renames") {
    val spec = SourceSpec(
      paths = Seq(s"$dir/*.csv"),
      fileNameFilter = Some("^beds_"), // S6: exclude the 'adjusted' vintage
      renames = Map("nr_beds" -> "beds_available", "absent_col" -> "ignored"),
      fileDateRegex = Some(("([A-Z][a-z]+\\d{4})", "MMMMyyyy")))
    val df = StagingReader.read(spark, spec).cache()
    assert(df.columns.toSet == Set("org_code", "beds_available", "extra", "fname", "file_date"))
    assert(df.count() == 3, "adjusted vintage must be pruned")
    val byOrg = df.collect().map(r => r.getAs[String]("org_code") -> r).toMap
    assert(byOrg("RY2").isNullAt(byOrg("RY2").fieldIndex("beds_available")),
      "'-' sentinel must read as null")
    assert(byOrg("RZ3").isNullAt(byOrg("RZ3").fieldIndex("extra")))
    assert(byOrg("RX1").getAs[java.sql.Date]("file_date").toString == "2013-04-01")
    assert(byOrg("RZ3").getAs[java.sql.Date]("file_date").toString == "2013-05-01")
  }

  test("prefixNonKey applies pathway-style prefixes to measure columns (P7)") {
    val spec = SourceSpec(
      paths = Seq(s"$dir/beds_April2013.csv"),
      prefixNonKey = Some(("admitted_", Seq("org_code"))))
    val df = StagingReader.read(spark, spec)
    assert(df.columns.toSet ==
      Set("org_code", "admitted_nr_beds", "admitted_extra", "fname", "file_date") -- Set("file_date"))
  }

  test("quarterFromName handles Quarter_N and QN shapes") {
    import spark.implicits._
    val out = Seq("file_Quarter_3_final", "report_Q1.xls", "nothing_here")
      .toDF("s").select(StagingReader.quarterFromName(col("s")).as("q"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(out.toSeq == Seq("Q3", "Q1", null))
  }

  test("quarterFromSheet maps pre-2009 All_quarters sheet labels, falls back otherwise") {
    import spark.implicits._
    val out = Seq(
      ("Beds_Open_All_quarters_2007", "June07"),  // Q1
      ("Beds_Open_All_quarters_2007", "Sep07"),   // Q2
      ("Beds_Open_All_quarters_2007", "Dec07"),   // Q3
      ("Beds_Open_All_quarters_2007", "Mar08"),   // Q4 wears next year's suffix
      ("Beds_Open_All_quarters_2009", "Mar10"),   // 09 + 1 -> "10", no padding
      ("Beds_Open_All_quarters_2007", "Mar07"),   // wrong suffix: no quarter
      ("Beds_Open_Quarter_2_2012", "ignored"),    // post-2009 filename path
    ).toDF("f", "s")
      .select(StagingReader.quarterFromSheet(col("f"), col("s")).as("q"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(out.toSeq == Seq("Q1", "Q2", "Q3", "Q4", "Q4", null, "Q2"))
  }

  test("sinks round-trip: parquet partitioned + single-file csv") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_sink").toFile.getAbsolutePath
    val df = Seq(("a", 2019, 1.0), ("b", 2020, 2.0)).toDF("k", "year", "v")
    Sinks.parquet(df, s"$out/p", partitionBy = Seq("year"))
    assert(spark.read.parquet(s"$out/p").count() == 2)
    Sinks.csvSingleFile(df, s"$out/c")
    val files = new java.io.File(s"$out/c").listFiles.filter(_.getName.endsWith(".csv"))
    assert(files.length == 1, "reference-compatible export is exactly one csv file")
    assert(spark.read.option("header", "true").csv(s"$out/c").count() == 2)
  }

  test("excel read: no job before the first action, one task per core, same rows over 40 workbooks") {
    import ExcelFixtures.xlsx
    import XlsFixtures.xls
    val dir = Files.createTempDirectory("graft_staging_many")
    def put(name: String, bytes: Array[Byte]): Unit = Files.write(dir.resolve(name), bytes)
    def sheet(rows: Seq[Seq[Any]]) = Seq("Front" -> Seq(Seq("title")),
      "Provider" -> (Seq(Seq("org_code", "n_beds"): Seq[Any]) ++ rows))
    // first in path order, but without the selected sheet: it must neither
    // drive the schema nor contribute rows
    put("a_summary.xlsx", xlsx(Seq("Notes" -> Seq(Seq("junk", "junk2", "junk3")))))
    // excluded by the filename filter; not a workbook, so parsing it fails
    put("England_totals.xlsx", "this is not a zip".getBytes("UTF-8"))
    // hidden: the file source's listing skips it; parsed, it would fail the
    // read with a non-null cell beyond the schema
    put("_hidden.xlsx", xlsx(sheet(Seq(Seq("HID", 1, "overflow")))))
    val data = (1 to 37).map { i =>
      val rows = Seq(Seq(f"R$i%02dA", i), Seq(f"R$i%02dB", 100 + i))
      val name = f"beds_$i%02d"
      if (i % 3 == 0) { put(s"$name.xls", xls(sheet(rows))); s"$name.xls" -> rows }
      else { put(s"$name.xlsx", xlsx(sheet(rows))); s"$name.xlsx" -> rows }
    }
    assert(dir.toFile.listFiles().length == 40, "above the 32-path parallel-listing threshold")

    val (df, readJobs) = bodyJobsOf(StagingReader.readExcelStaging(spark, Seq(s"$dir/*"),
      sheetName = Some("^providers?$"), fileNameFilter = Some("^(?!England)")))
    val (got, actionJobs) = bodyJobsOf(
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq)
    assert(readJobs.isEmpty, s"readExcelStaging started jobs before any action: $readJobs")
    assert(actionJobs.map(_.tasks).sum <= spark.sparkContext.defaultParallelism,
      s"the parse runs one task per core, not per file: $actionJobs")

    assert(df.columns.toSeq == Seq("fname", "org_code", "n_beds"))
    // path order across files, sheet order within each
    assert(got == data.flatMap { case (f, rows) =>
      rows.map(r => (f, r(0).toString, r(1).toString)) })
  }
}
