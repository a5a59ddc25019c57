package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants (SURVEY §5): closure idempotence, union-fill
  * schema invariance, and sum preservation under merge re-keying. Uses raw
  * ScalaCheck generators with fixed seeds (the scalatest/scalacheck bridge
  * artifact isn't in the offline cache); each case round-trips Spark jobs,
  * so the sample counts are kept small.
  */
class PropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val codeGen = Gen.choose(0, 25).map(i => s"c$i")

  // acyclic edge sets: only "upward" edges ci -> cj with i < j
  private val edgesGen: Gen[List[(String, String)]] =
    Gen.listOfN(8, for {
      i <- Gen.choose(0, 24)
      j <- Gen.choose(i + 1, 25)
    } yield (s"c$i", s"c$j")).map(_.distinct)

  test("closure: re-keying already-final codes is the identity (idempotence)") {
    samples(edgesGen, 5).filter(_.nonEmpty).foreach { edges =>
      val nodes = edges.map(_._1).distinct.toDF("node")
      val e = edges.toDF("src", "dst")
      val finals = Closure.resolve(nodes, e)
        .select(col("final_code").as("node")).distinct()
      val again = Closure.resolve(finals, e).collect()
      assert(again.forall(r => r.getString(0) == r.getString(1) && r.getInt(2) == 0),
        s"edges=$edges")
    }
  }

  test("unionByNameFill: column set is the union, row count the sum") {
    val colsGen = Gen.someOf(Seq("a", "b", "c", "d")).map(_.toList).suchThat(_.nonEmpty)
    val caseGen = for {
      c1 <- colsGen; c2 <- colsGen
      n1 <- Gen.choose(1, 5); n2 <- Gen.choose(1, 5)
    } yield (c1, c2, n1, n2)
    def mk(cols: List[String], n: Int) =
      (1 to n).map(Tuple1(_)).toDF("i")
        .select(cols.map(c => col("i").cast("string").as(c)): _*)
    samples(caseGen, 6).foreach { case (c1, c2, n1, n2) =>
      val d1 = mk(c1, n1)
      val d2 = mk(c2, n2)
      val u = Relational.unionByNameFill(Seq(d1, d2))
      assert(u.columns.toSet == (c1 ++ c2).toSet)
      assert(u.count() == n1 + n2)
    }
  }

  test("org-change adjust preserves non-problematic measure totals and grain") {
    // unique (code, year) input grain: passthrough rows are not deduped by
    // the adjustment (reference behavior), so duplicated input grain would
    // trivially violate the output-grain property
    val panelGen = Gen.listOfN(20, for {
      code <- codeGen
      year <- Gen.choose(2018, 2020)
      v <- Gen.option(Gen.choose(0, 100).map(_.toDouble))
    } yield (code, year, v)).map(_.distinctBy(r => (r._1, r._2)))
    val lookupGen = Gen.listOfN(6, for {
      old <- Gen.choose(0, 12).map(i => s"c$i")
      fin <- Gen.choose(13, 25).map(i => s"c$i")
      prob <- Gen.oneOf(0, 0, 1)
    } yield (old, fin, prob)).map(_.distinctBy(_._1))
    val caseGen = for { p <- panelGen; l <- lookupGen } yield (p, l)

    samples(caseGen, 5).filter(_._1.nonEmpty).foreach { case (rows, lk) =>
      val data = rows.toDF("org_code", "year", "beds")
        .withColumn("quarter", lit(null).cast("string"))
        .withColumn("_row_idx", monotonically_increasing_id())
      val lookup = lk.map { case (o, f, p) => (o, f, 0, p) }
        .toDF("old_code", "final_code", "experiences_split", "problematic")
      val out = graft.pipelines.ReferenceAdjust.adjust(data, lookup,
        graft.pipelines.ReferenceAdjust.Params(Seq("beds")))
      val before = data.agg(sum("beds")).head()
      val after = out.agg(sum("beds")).head()
      val b = if (before.isNullAt(0)) 0.0 else before.getDouble(0)
      val a = if (after.isNullAt(0)) 0.0 else after.getDouble(0)
      assert(a == b, s"total beds must be conserved: before=$b after=$a lk=$lk")
      // a successor named in both a clean and a problematic change keeps
      // one row per problematic flag (the reference's grouping)
      val both = lk.filter(_._3 == 0).map(_._2).toSet.intersect(lk.filter(_._3 == 1).map(_._2).toSet)
      val dup = out.filter(!col("org_code").isin(both.toSeq: _*))
        .groupBy("org_code", "year").count().filter(col("count") > 1).count()
      assert(dup == 0, s"adjusted panel must have unique (key, time) grain; lk=$lk")
    }
  }

  test("topNgramFraction / dupNgramFraction match their naive definitions") {
    // small vocabulary forces gram repeats; the sorted-run folds must agree
    // with the brute-force groupBy-count definitions on every random doc
    val docGen: Gen[List[String]] =
      Gen.choose(0, 40).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf("aa", "bb", "cc", "dd", "ee")))
    val docs = samples(docGen, 40)
    val df = docs.map(_.mkString(" ")).toDF("t")
    for (n <- Seq(2, 3)) {
      val got = df.select(
        graft.functions.TextFunctions.topNgramFraction(col("t"), n).as("top"),
        graft.functions.TextFunctions.dupNgramFraction(col("t"), n).as("dup")).collect()
      docs.zip(got).foreach { case (toks, row) =>
        if (toks.size < n) {
          assert(row.isNullAt(0) && row.isNullAt(1), s"toks=$toks n=$n")
        } else {
          val grams = toks.sliding(n).map(_.mkString(" ")).toList
          val counts = grams.groupBy(identity).map(_._2.size)
          val expTop = counts.max.toDouble * n / toks.size
          val expDup = counts.filter(_ > 1).sum.toDouble / grams.size
          assert(row.getDouble(0) == expTop, s"top mismatch: toks=$toks n=$n")
          assert(row.getDouble(1) == expDup, s"dup mismatch: toks=$toks n=$n")
        }
      }
    }
  }
}
