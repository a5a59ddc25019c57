package nhsbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Random
import graft.sources.{ExcelFixtures, StagingReader, XlsFixtures}
import graft.pipelines._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `workbook_ingest`: the reference's real traffic shape — many small
  * workbooks with junk preambles and headers that drift between vintages,
  * at the reference's volumes (BASELINE.md): ~12.6k supporting-facilities
  * rows, ~16k overnight/day beds rows, ~19.6k critical-care rows and ~700
  * org-change successor edges. Workbooks are written once per generation
  * with the repository's own fixture writers (OOXML, BIFF8, BIFF5); each
  * iteration stages every family, runs the vintage programs, derives the
  * org-change lookup and re-keys the three panels, collecting the panels
  * as the sink.
  *
  * Checks, on every iteration: each clean panel has the generator's row
  * count (per family too when tracing, where the staged frames are cached
  * anyway); the org-change lookup equals the one the generator's change
  * events imply; and each re-keyed panel holds exactly the codes and the
  * measure total that lookup implies for the generated rows, so no
  * re-keyed old code survives.
  */
final class WorkbookIngest extends Workload {
  val name = "workbook_ingest"

  private val universe = 1600
  private def code(i: Int) = f"R$i%04d"
  private val months = Seq("January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December")

  private var root: Path = _
  private var edges: Seq[(String, String, java.sql.Date)] = Nil
  /** generator truth: rows per family, measure per panel and code, and the
    * lookup rows (old, final, experiences_split, problematic) the change
    * events imply
    */
  private var familyRows: Map[String, Long] = Map.empty
  private val measure = Map("sf" -> mutable.Map.empty[String, Double],
    "beds" -> mutable.Map.empty[String, Double], "cc" -> mutable.Map.empty[String, Double])
  private var expectedLookup: Seq[(String, String, Option[Int], Int)] = Nil
  private var workbooks = 0
  private var bytesIn = 0L
  private var last: Map[String, (Long, Double, Set[String])] = Map.empty

  private def credit(panel: String, i: Int, v: Double): Unit = {
    val m = measure(panel)
    m(code(i)) = m.getOrElse(code(i), 0.0) + v
  }

  private def write(dir: Path, file: String, bytes: Array[Byte]): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(file), bytes)
    workbooks += 1
    bytesIn += bytes.length
  }

  private def junk(rnd: Random, n: Int, title: String): Seq[Seq[Any]] =
    (0 until n).map(i => if (i == 0) Seq[Any](title)
      else Seq[Any](s"Source: NHS England, table ${rnd.nextInt(40)}"))

  /** `n` distinct reporting codes for one period. */
  private def reporters(rnd: Random, n: Int): Seq[Int] =
    rnd.shuffle((0 until universe).toVector).take(n).sorted

  // ---- supporting facilities: All_quarters .xls (2001-08), quarterly .xlsx (2009-23)
  private def supportingFacilities(rnd: Random, dir: Path): Unit = {
    var allQ = 0L
    var quarterly = 0L
    // the SHA column first appears in the 2009-10 quarterly publications
    def sheet(title: String, pre: Int, year: Int): Seq[Seq[Any]] = {
      val sha = if (year < 2009) Nil else Seq[Any]("SHA")
      val header = sha ++ Seq[Any](if (year < 2012) "Org Code" else "Organisation Code",
        if (year < 2015) "Org Name" else "Organisation Name",
        "Number of operating theatres", "Of which, number of dedicated day case theatres")
      val rows = reporters(rnd, 137).map { i =>
        if (year < 2009) allQ += 1 else quarterly += 1
        val t = 1 + rnd.nextInt(30)
        credit("sf", i, t)
        (if (year < 2009) Nil else Seq[Any](s"Q${rnd.nextInt(9)}")) ++
          Seq[Any](code(i), s"TRUST ${code(i)}", t, rnd.nextInt(t + 1))
      }
      junk(rnd, pre, title) ++ (header +: rows)
    }
    for (y <- 2001 to 2008) {
      val yy = f"${y % 100}%02d"
      val next = f"${(y + 1) % 100}%02d"
      val quarters = Seq(s"June$yy", s"Sep$yy", s"Dec$yy", s"Mar$next")
        .map(q => q -> sheet(s"Operating theatres $q", 1 + rnd.nextInt(5), y))
      write(dir, s"All_quarters_$y.xls",
        XlsFixtures.xls(("Notes" -> Seq(Seq[Any]("definitions"))) +: quarters))
    }
    for (y <- 2009 to 2023; q <- 1 to 4) {
      val s = sheet(s"Operating theatres $y Q$q", 1 + rnd.nextInt(5), y)
      write(dir, s"Theatres_Quarter_${q}_$y.xlsx", ExcelFixtures.xlsx(Seq("Data" -> s)))
    }
    familyRows ++= Map("sf_all_quarters" -> allQ, "sf_quarterly" -> quarterly)
  }

  // ---- overnight/day beds: 2000-10 annual BIFF5/8, 2010-24 quarterly .xlsx
  private val block = Seq("Total", "General Acute", "Acute", "Geriatric", "Single Specialty",
    "Mental Illness", "Learning Disability", "Maternity")

  private def beds(rnd: Random, dir: Path): Unit = {
    var rows0010 = 0L
    var rows1024 = 0L
    for (y <- 2000 to 2009) {
      val fy = f"$y-${(y + 1) % 100}%02d"
      val early = y <= 2001
      val skip = if (early) 3 else 4
      val who = reporters(rnd, 364)
      val overnight: Seq[Seq[Any]] = who.map { i =>
        val av = Seq.fill(8)(rnd.nextInt(400))
        val occ = av.map(a => if (a == 0) 0 else rnd.nextInt(a + 1))
        credit("beds", i, av.head)
        if (y == 2000)
          Seq[Any](fy, code(i), s"Trust ${code(i)}", av(0), av(1), av(5), av(6), av(7), av(2),
            av(3), occ(0), occ(1), occ(5), occ(6), occ(7), occ(2), occ(3))
        else
          Seq[Any](fy, code(i), s"Trust ${code(i)}", "London") ++ av.map(x => x: Any) ++
            Seq[Any](null) ++ occ.map(x => x: Any) ++ Seq[Any](null) ++
            av.zip(occ).map { case (a, o) => if (a == 0) 0.0 else math.rint(o * 1e4 / a) / 1e4 }
      }
      val header: Seq[Any] =
        if (y == 2000) Seq("Year", "OrgID", "Name", "Available All Sectors",
          "Available General Acute", "Available Mental Illness", "Available Learning Disability",
          "Available Maternity", "Available Acute", "Available Geriatric",
          "Occupied All Sectors", "Occupied General Acute", "Occupied Mental Illness",
          "Occupied Learning Disability", "Occupied Maternity", "Occupied Acute",
          "Occupied Geriatric")
        else Seq[Any]("Year", "OrgID", "Name", "SHA") ++ block ++ Seq(null) ++ block ++
          Seq(null) ++ block
      val day: Seq[Seq[Any]] = who.map { i =>
        val d = rnd.nextInt(60)
        if (early) Seq[Any](fy, code(i), s"Trust ${code(i)}", d, d / 3, d - d / 3)
        else Seq[Any](fy, code(i), s"Trust ${code(i)}", "London", d)
      }
      val dayHeader: Seq[Any] =
        if (early) Seq("Year", "OrgID", "Name", "Available Beds", "Neonates and children",
          "Other ages")
        else Seq("Year", "OrgID", "Name", "SHA", "Total")
      val fam = if (y == 2000) "2000" else if (early) "2001" else "2002"
      val fname = s"NHS_Organisations_in_England_$fy.xls"
      def book(title: String, h: Seq[Any], rows: Seq[Seq[Any]]) = {
        val s = Seq("Data" -> (junk(rnd, skip, title) ++ (h +: rows)))
        if (early) XlsFixtures.xls5(s) else XlsFixtures.xls(s)
      }
      // the legacy writer caps a workbook at one FAT sector (~63 KB), so the
      // wide overnight table ships as one workbook per region
      overnight.grouped(91).zipWithIndex.foreach { case (part, r) =>
        write(dir.resolve(s"overnight0010/$fam"), fname.replace(".xls", s"_region$r.xls"),
          book(s"Beds open overnight $fy", header, part))
      }
      write(dir.resolve(s"day0010/${if (early) "early" else "late"}"), fname,
        book(s"Beds open day only $fy", dayHeader, day))
      rows0010 += who.size
    }
    val header1024: Seq[Any] = Seq[Any]("Year", "Period", "Region", "Org Code", "Org Name") ++
      Seq.fill(3)(Seq[Any]("Total", "General Acute", "Learning Disabilities", "Maternity",
        "Mental Illness")).reduce(_ ++ Seq(null) ++ _)
    val periods = Seq("June", "September", "December", "March")
    for (y <- 2010 to 2023; (period, q) <- periods.zipWithIndex) {
      val fy = f"$y-${(y + 1) % 100}%02d"
      val early = y == 2010 && q < 2
      val who = reporters(rnd, 224)
      Seq("overnight", "day").foreach { kind =>
        val rows = who.map { i =>
          val av = Seq.fill(5)(rnd.nextInt(if (kind == "day") 60 else 400))
          val occ = av.map(a => if (a == 0) 0 else rnd.nextInt(a + 1))
          if (kind == "overnight") credit("beds", i, av.head)
          Seq[Any](fy, period, "London", code(i), s"Trust ${code(i)}") ++ av.map(x => x: Any) ++
            Seq[Any](null) ++ occ.map(x => x: Any) ++ Seq[Any](null) ++
            av.zip(occ).map { case (a, o) => if (a == 0) 0.0 else math.rint(o * 1e4 / a) / 1e4 }
        }
        val sheet = junk(rnd, if (early) 5 else 14, s"Beds $kind $period $fy") ++
          (header1024 +: rows)
        write(dir.resolve(s"${kind}1024/${if (early) "early" else "late"}"),
          s"Beds-Timeseries-$kind-Q${q + 1}-$fy.xlsx",
          ExcelFixtures.xlsx(Seq("Notes" -> Seq(Seq[Any]("notes")), "NHS Trust by Sector" -> sheet)))
      }
      rows1024 += who.size
    }
    familyRows ++= Map("beds_2000_10" -> rows0010, "beds_2010_24" -> rows1024)
  }

  // ---- critical care: 2002-10 "Level of care by Trust", 2010-20 monthly
  private def criticalCare(rnd: Random, dir: Path): Unit = {
    var rows0210 = 0L
    var rows1020 = 0L
    for (y <- Seq(2004, 2008)) {
      val who = reporters(rnd, 150)
      val rows = who.map { i =>
        val n = rnd.nextInt(40)
        credit("cc", i, n)
        Seq[Any](code(i), s"Trust ${code(i)}", f"${y - 1}-${y % 100}%02d", "London", n)
      }
      write(dir.resolve("cc0210"), s"cc_january_$y.xls", XlsFixtures.xls(Seq(
        "Notes" -> Seq(Seq[Any]("Critical care capacity, definitions")),
        "Level of care by Trust" -> (Seq(
          Seq[Any](s"Open and staffed adult critical care beds January $y"),
          Seq[Any]("Org ID", "Name", "Year", "SHA", "Open and staffed adult critical care beds"))
          ++ rows))))
      rows0210 += rows.size
    }
    val header: Seq[Any] = Seq("Code", "Org Name", "Region", "Year", "Month", "Notes",
      "Adult CC beds open", "Paediatric IC beds open", "Neonatal cots open",
      "Adult CC beds occupied", "Paediatric IC beds occupied", "Neonatal cots occupied",
      "Adult % occupied", "Paediatric % occupied", "Neonatal % occupied", "Transfers")
    for (k <- 0 until 120) {
      val m = (7 + k) % 12 // August 2010 onwards
      val startYear = 2010 + (k + 7) / 12 - (if (m < 3) 1 else 0)
      val fy = f"$startYear-${(startYear + 1) % 100}%02d"
      val early = k < 4
      val who = reporters(rnd, 153)
      val rows = who.map { i =>
        val o = Seq.fill(3)(rnd.nextInt(40))
        val occ = o.map(x => if (x == 0) 0 else rnd.nextInt(x + 1))
        credit("cc", i, o.head)
        Seq[Any](code(i), s"Trust ${code(i)}", "London", fy, months(m), null) ++
          (o ++ occ).map(x => x: Any) ++
          o.zip(occ).map { case (a, b) => if (a == 0) 0.0 else math.rint(b * 1e4 / a) / 1e4 } ++
          Seq[Any](rnd.nextInt(5))
      }
      write(dir.resolve(s"cc1020/${if (early) "early" else "late"}"),
        s"MSitRep_Critical_Care_${months(m)}_$fy.xlsx",
        ExcelFixtures.xlsx(Seq("Critical Care Beds" ->
          (junk(rnd, if (early) 7 else 14, s"Critical care beds ${months(m)} $fy") ++
            (header +: rows)))))
      rows1020 += rows.size
    }
    // an England summary publication the family filter must exclude
    write(dir.resolve("cc1020/late"), "MSitRep_Critical_Care_England_Summary.xlsx",
      ExcelFixtures.xlsx(Seq("Critical Care Beds" -> Seq(Seq[Any]("England total", 1)))))
    familyRows ++= Map("cc_2002_10" -> rows0210, "cc_2010_20" -> rows1020)
  }

  /** ~700 successor edges in change events that share no code with each
    * other. Each event's lookup rows follow from `OrgChanges.trustLookup`'s
    * documented derivation (closure over every code, joined to the
    * unproblematic paths, clean splits swapped into backwards mergers):
    *  - merger of one to three predecessors `p` into `t`: (p, t, 0, 0);
    *  - two-step chain a→b→c: (a, c, 0, 0) and (b, c, 0, 0);
    *  - split a→{b, c}: (b, a, 1, 0) and (c, a, 1, 0);
    *  - split a→{b, c} with a merger d→b: b is reached by both, so the
    *    paths through b are complicated: (a, b, -, 1), (d, b, -, 1) and
    *    the clean (c, a, 1, 0);
    *  - split a→{b, d} whose successor b splits again into {d, e}: d is
    *    reached from both splits and the closure runs from a and from b,
    *    so d and e are each listed twice, (d, a), (d, b), (e, a), (e, b),
    *    all (1, 0), and their rows are re-keyed to both a and b.
    * The mix of event kinds is a guess: the registry's change events are
    * not in the repository to check it against.
    */
  private def orgChanges(rnd: Random): Unit = {
    val codes = rnd.shuffle((0 until universe).toVector).iterator
    def next() = code(codes.next())
    def date(y0: Int) = java.sql.Date.valueOf(f"${y0 + rnd.nextInt(8)}-${1 + rnd.nextInt(12)}%02d-01")
    val e = Seq.newBuilder[(String, String, java.sql.Date)]
    val lk = Seq.newBuilder[(String, String, Option[Int], Int)]
    def clean(old: String, fin: String, split: Int) = lk += ((old, fin, Some(split), 0))
    var n = 0
    while (n < 700) {
      val kind = rnd.nextInt(40)
      val d = date(2001)
      val got =
        if (kind < 20) {
          val to = next()
          val from = Seq.fill(1 + rnd.nextInt(3))(next())
          from.foreach(clean(_, to, 0))
          from.map(f => (f, to, d))
        } else if (kind < 28) {
          val Seq(a, b, c) = Seq.fill(3)(next())
          Seq(a, b).foreach(clean(_, c, 0))
          Seq((a, b, d), (b, c, date(2010)))
        } else if (kind < 34) {
          val Seq(a, b, c) = Seq.fill(3)(next())
          Seq(b, c).foreach(clean(_, a, 1))
          Seq((a, b, d), (a, c, d))
        } else if (kind < 37) {
          val Seq(a, b, c, m) = Seq.fill(4)(next())
          lk ++= Seq(a, m).map(x => (x, b, None, 1))
          clean(c, a, 1)
          Seq((a, b, d), (a, c, d), (m, b, d))
        } else {
          val Seq(a, b, c, x) = Seq.fill(4)(next())
          for (o <- Seq(c, x); f <- Seq(a, b)) clean(o, f, 1)
          val d2 = date(2010)
          Seq((a, b, d), (a, c, d), (b, c, d2), (b, x, d2))
        }
      e ++= got
      n += got.size
    }
    edges = e.result()
    expectedLookup = lk.result()
  }

  def generate(ctx: Ctx): Unit = {
    val rnd = new Random(ctx.seed)
    root = ctx.freshDir("workbooks")
    workbooks = 0
    bytesIn = 0L
    familyRows = Map.empty
    measure.values.foreach(_.clear())
    orgChanges(rnd)
    supportingFacilities(rnd, root.resolve("sf"))
    beds(rnd, root.resolve("beds"))
    criticalCare(rnd, root.resolve("cc"))
  }

  private def glob(rel: String): Seq[String] = Seq(root.resolve(rel).toString + "/*")

  /** 2010-20 staging: month and fiscal year come from the FILENAME and lead
    * the sheet columns, as the reference's reader arranges them.
    */
  private def withFileDate(staged: DataFrame): DataFrame = {
    val monthRe = months.mkString("(", "|", ")")
    val rest = staged.columns.filterNot(_ == "fname").map(c => col(s"`$c`"))
    staged.select((Seq(col("fname"),
      regexp_extract(col("fname"), monthRe, 1).as("month"),
      regexp_extract(col("fname"), "([0-9]{4}-[0-9]{2})", 1).as("year")) ++ rest): _*)
  }

  def iterate(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    def read(spec: graft.sources.SourceSpec) =
      ctx.layer("sources.read")(StagingReader.read(spark, spec))
    // each clean panel is collected and handed to its adjustment as a local
    // frame, as the reference writes `*_clean.csv` and the adjustment script
    // reads it back
    val panelRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    def handOff(df: => DataFrame): DataFrame = ctx.call("pipelines.harmonise") {
      val d = df
      val rows = d.collect()
      panelRows += rows.length.toLong
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), d.schema)
    }

    // org-change lookup, collected once as the reference saves its CSV
    // before the three panel scripts read it
    val lk = ctx.call("pipelines.org_paths") {
      val succ = edges.toDF("old_code", "new_code", "change_date")
      OrgChanges.trustLookup(OrgChangePaths.derivePaths(succ)).collect()
    }
    val lookup = spark.createDataFrame(java.util.Arrays.asList(lk: _*),
      StructType(Seq(StructField("old_code", StringType), StructField("final_code", StringType),
        StructField("experiences_split", IntegerType), StructField("problematic", IntegerType))))

    // supporting facilities
    val measures = Seq("organisation_code", "organisation_name",
      "nr_operating_theatres", "nr_day_case_theatres")
    val sfAll = ctx.layer("sources.read")(SupportingFacilitiesStaging.readFamily(spark,
      SupportingFacilitiesStaging.allQuartersSpec(glob("sf")), measures))
    val sfQ = ctx.layer("sources.read")(SupportingFacilitiesStaging.readFamily(spark,
      SupportingFacilitiesStaging.quarterlySpec(glob("sf")), "SHA" +: measures))
    val sfPanel = handOff(SupportingFacilitiesStaging.assemble(Seq(sfAll, sfQ)))
    val sf = ctx.layer("pipelines.adjust")(SupportingFacilities.adjust(sfPanel, lookup))

    // overnight/day beds
    val on0010 = Seq("2000" -> true, "2001" -> true, "2002" -> false).map { case (f, early) =>
      read(BedsVintages.spec0010(glob(s"beds/overnight0010/$f"), early)) }
    val day0010 = Seq("early" -> true, "late" -> false).map { case (f, early) =>
      read(BedsVintages.spec0010(glob(s"beds/day0010/$f"), early)) }
    val on1024 = Seq("early" -> true, "late" -> false).map { case (f, early) =>
      read(BedsVintages.spec1024(glob(s"beds/overnight1024/$f"), early)) }
    val day1024 = Seq("early" -> true, "late" -> false).map { case (f, early) =>
      read(BedsVintages.spec1024(glob(s"beds/day1024/$f"), early)) }
    val beds0010 = handOff(BedsVintages.assemble0010(on0010, day0010))
    val beds1024 = handOff(BedsVintages.assemble1024(on1024, day1024))
    val beds = ctx.layer("pipelines.adjust")(
      OvernightBeds.assembleAdjusted(beds1024, beds0010, lookup))

    // critical care: one read per 2002-10 file (each carries its own date)
    val cc0210 = Files.list(root.resolve("cc/cc0210")).toArray.map(_.toString).sorted.toSeq
      .map(p => read(CriticalCareVintages.spec0210(Seq(p))) -> "^Org ID$")
    val cc1020 = Seq("early" -> true, "late" -> false).map { case (f, early) =>
      withFileDate(read(CriticalCareVintages.spec1020(glob(s"cc/cc1020/$f"), early))) }
    val ccPanel = handOff(CriticalCareVintages.assemble(cc0210, cc1020))
    val cc = ctx.layer("pipelines.adjust")(CriticalCare.adjust(ccPanel, lookup))

    // sink: the three re-keyed panels, collected
    val (sfRows, bedsRows, ccRows) = ctx.call("sink")((
      sf.select("org_code", "nr_operating_theatres").collect(),
      beds.select("org_code", "total_on_beds_available").collect(),
      cc.select("org_code", "number_of_adult_critical_care_beds_open").collect()))

    val failures = Seq.newBuilder[String]
    ctx.untimed {
      // clean panels on every iteration; each family inside them when
      // tracing, where the staged frames are cached anyway
      val panels = Seq(
        "sf" -> Seq("sf_all_quarters", "sf_quarterly"), "beds_2000_10" -> Seq("beds_2000_10"),
        "beds_2010_24" -> Seq("beds_2010_24"), "cc" -> Seq("cc_2002_10", "cc_2010_20"))
      panels.zip(panelRows).foreach { case ((k, fams), n) =>
        val want = fams.map(familyRows).sum
        if (n != want) failures += s"$k clean panel: $n rows, generator wrote $want"
      }
      if (ctx.traced) {
        val got = Map(
          "sf_all_quarters" -> sfAll.count(), "sf_quarterly" -> sfQ.count(),
          "cc_2002_10" -> cc0210.map(_._1).map(CriticalCareVintages.clean0210(_, "^Org ID$")
            .count()).sum,
          "cc_2010_20" -> cc1020.map(CriticalCareVintages.clean1020(_).count()).sum)
        got.foreach { case (k, n) =>
          if (n != familyRows(k)) failures += s"$k: $n rows, generator wrote ${familyRows(k)}" }
      }
      val gotLookup = lk.toSeq.map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)), r.getInt(3))).sorted
      if (ctx.warmup) {
        val twice = gotLookup.filter(_._4 == 0).groupBy(_._1).count(_._2.size > 1)
        println(s"[nhsbench] org-change lookup lists $twice old codes more than once; " +
          "their rows are re-keyed once per listing")
      }
      if (gotLookup != expectedLookup.sorted)
        failures += s"org-change lookup: ${gotLookup.size} rows, the change events imply " +
          s"${expectedLookup.size}; ${gotLookup.diff(expectedLookup).take(3)} unexpected, " +
          s"${expectedLookup.diff(gotLookup).take(3)} missing"
      Seq("sf" -> sfRows, "beds" -> bedsRows, "cc" -> ccRows).foreach { case (k, rows) =>
        val total = rows.map(r => if (r.isNullAt(1)) 0.0 else r.getDouble(1)).sum
        val codes = rows.map(_.getString(0)).toSet
        last += k -> ((rows.length.toLong, total, codes))
        failures ++= check(k, rows.length.toLong, total, codes)
      }
    }
    Outcome(sfRows.length.toLong + bedsRows.length + ccRows.length, 1, failures.result())
  }

  /** Old code → the codes its rows are re-keyed to, from the generator's
    * lookup: once per listing, so a code listed twice is counted twice.
    */
  private def rekeyed: Map[String, Seq[String]] =
    expectedLookup.collect { case (o, f, _, 0) => o -> f }.groupMap(_._1)(_._2)

  private def check(panel: String, rows: Long, total: Double, codes: Set[String]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val to = rekeyed
    val wantTotal = measure(panel).toSeq
      .map { case (c, v) => v * to.get(c).fold(1)(_.size) }.sum
    val wantCodes = measure(panel).keySet.flatMap(c => to.getOrElse(c, Seq(c)))
    if (rows == 0) errs += s"$panel: empty panel"
    if (total != wantTotal)
      errs += s"$panel: measure total $total, the generated rows re-keyed give $wantTotal"
    // a re-keyed old code that survives is one of the unexpected codes
    if (codes != wantCodes)
      errs += s"$panel: ${codes.size} codes, the generated rows re-keyed give " +
        s"${wantCodes.size}; ${codes.diff(wantCodes).take(3)} unexpected, " +
        s"${wantCodes.diff(codes).take(3)} missing"
    errs.result()
  }

  def checkerCatchesAlteredOutput(ctx: Ctx): Boolean = {
    // the beds panel with one re-keyed old code put back, and one with a
    // measure off by one bed
    val (rows, total, codes) = last("beds")
    check("beds", rows, total, codes + rekeyed.keys.min).nonEmpty &&
      check("beds", rows, total + 1, codes).nonEmpty
  }

  def inputSizes: Seq[(String, Double)] = Seq(
    "rows" -> familyRows.values.sum.toDouble, "edges" -> edges.size.toDouble,
    "workbooks" -> workbooks.toDouble, "mb" -> bytesIn / 1048576.0)

  override def layerMetrics(ctx: Ctx): Seq[(String, Double)] = Seq(
    "sources.workbooks" -> workbooks.toDouble, "sources.mb_in" -> bytesIn / 1048576.0,
    "pipelines.rows_in" -> familyRows.values.sum.toDouble,
    "pipelines.rows_out" -> last.values.map(_._1).sum.toDouble)
}
