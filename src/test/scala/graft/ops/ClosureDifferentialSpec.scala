package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Try

/** [[Closure.resolve]] (pointer doubling on the driver) against the
  * relational form it replaced, kept here as the reference: the same
  * doubling as a distributed left self-join per round, each round rebased
  * on a cached RDD leaf. Both must give the same multiset of
  * (old_code, final_code, hops) rows — diamonds list a terminal once per
  * path — or both must reject the input.
  */
class ClosureDifferentialSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def relational(nodes: DataFrame, edges: DataFrame, maxIter: Int = 30): DataFrame = {
    val m0 = edges.select(col("src"), col("dst"), lit(1).as("hops"),
      col("dst").isNull.as("done"))
    var mRdd = m0.rdd
    mRdd.cache()
    mRdd.count()
    var m = spark.createDataFrame(mRdd, m0.schema)
    var iter = 0
    var extending = true
    while (extending && iter < maxIter) {
      // a terminal row (its path stepped onto a null dst) composes no
      // further; stepping onto a null dst is not an extension
      val a = m.select(col("src"), col("dst"), col("hops"), col("done"))
      val b = m.select(col("src").as("b_src"), col("dst").as("b_dst"), col("hops").as("b_hops"),
        col("done").as("b_done"))
      val composed = a.join(b, a("dst") === b("b_src") && !col("done"), "left")
        .select(
          col("src"),
          coalesce(col("b_dst"), col("dst")).as("dst"),
          (col("hops") + coalesce(col("b_hops"), lit(0))).as("hops"),
          (col("done") || (col("b_src").isNotNull &&
            (col("b_dst").isNull || col("b_done")))).as("done"),
          (col("b_src").isNotNull && col("b_dst").isNotNull).as("extended"))
      val acc = spark.sparkContext.longAccumulator("closure-extended")
      val rdd = composed.rdd.map { r => if (r.getBoolean(4)) acc.add(1L); r }
      rdd.cache()
      rdd.count()
      extending = acc.value > 0
      mRdd.unpersist(blocking = false)
      mRdd = rdd
      m = spark.createDataFrame(rdd, composed.schema).drop("extended")
      iter += 1
    }
    require(!extending,
      s"Closure.resolve: still extending after $maxIter doublings (cyclic edges?)")
    val mapping = m.drop("done")
    val local = spark.createDataFrame(java.util.Arrays.asList(mapping.collect(): _*),
      mapping.schema)
    mRdd.unpersist(blocking = false)
    nodes
      .join(broadcast(local), nodes("node") === local("src"), "left")
      .select(
        col("node").as("old_code"),
        coalesce(col("dst"), col("node")).as("final_code"),
        coalesce(col("hops"), lit(0)).as("hops"))
  }

  private def rows(df: DataFrame): Seq[(String, String, Int)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .sortBy(_.toString)

  /** Same rows, or the same rejection; true when both resolved. */
  private def sameAsRelational(nodes: Seq[String], edges: Seq[(String, String)]): Boolean = {
    val n = nodes.toDF("node")
    val e = edges.toDF("src", "dst")
    val want = Try(rows(relational(n, e)))
    val got = Try(rows(Closure.resolve(n, e)))
    (want.toEither, got.toEither) match {
      case (Right(w), Right(g)) => assert(g == w, s"edges=$edges"); true
      case (Left(w), Left(g)) =>
        assert(w.isInstanceOf[IllegalArgumentException] && g.getMessage == w.getMessage,
          s"edges=$edges: $g vs $w")
        false
      case (w, g) => fail(s"edges=$edges: relational $w, driver $g")
    }
  }

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // random DAGs: upward edges ci -> cj (i < j) with repeats, so codes
  // split, paths reconverge into diamonds, and duplicate edges multiply;
  // a few edges carry a null src or dst
  private val code = (i: Int) => s"c$i"
  private val edgeGen: Gen[(String, String)] = Gen.frequency(
    12 -> (for { i <- Gen.choose(0, 14); j <- Gen.choose(i + 1, 15) } yield (code(i), code(j))),
    1 -> Gen.choose(0, 15).map(j => (null, code(j))),
    1 -> Gen.choose(0, 15).map(i => (code(i), null)))
  private val dagGen = Gen.choose(1, 14).flatMap(n => Gen.listOfN(n, edgeGen))

  test("random DAGs: same multiset as the relational loop, nulls and isolated nodes included") {
    val nodes = (0 to 17).map(code) :+ null // c16, c17: isolated
    val dags = samples(dagGen, 12)
    assert(dags.count(_.exists { case (s, d) => s == null || d == null }) >= 3)
    assert(dags.map(edges => sameAsRelational(nodes, edges)).count(identity) >= 6)
  }

  test("null keys never match; a reached null dst is terminal in both") {
    assert(sameAsRelational(Seq("a", "b", null), Seq((null, "a"), ("a", "b"), ("c", null))))
    val acyclic = Seq(("a", "b"), ("b", null))
    assert(sameAsRelational(Seq("a", "b"), acyclic))
    assert(rows(Closure.resolve(Seq("a", "b").toDF("node"), acyclic.toDF("src", "dst"))) ==
      Seq(("a", "b", 2), ("b", "b", 1)))
    // a split into a null dst and a live successor keeps both paths
    val split = Seq(("a", "b"), ("b", null), ("b", "c"))
    assert(sameAsRelational(Seq("a", "b", "c"), split))
    assert(rows(Closure.resolve(Seq("a").toDF("node"), split.toDF("src", "dst"))) ==
      Seq(("a", "b", 2), ("a", "c", 2)))
  }

  test("diamonds and splits list one row per path") {
    val edges = Seq("a" -> "b", "a" -> "c", "b" -> "d", "c" -> "d", "d" -> "e", "d" -> "f", "b" -> "d")
    assert(sameAsRelational(Seq("a", "b", "c", "d", "e", "z"), edges))
    assert(rows(Closure.resolve(Seq("a").toDF("node"), edges.toDF("src", "dst"))) ==
      Seq(("a", "e", 3), ("a", "e", 3), ("a", "e", 3), ("a", "f", 3), ("a", "f", 3), ("a", "f", 3)))
  }

  test("a 1000-deep chain and a cycle") {
    val chain = (0 until 1000).map(i => (s"n$i", s"n${i + 1}"))
    assert(sameAsRelational(Seq("n0", "n1", "n500", "n999", "n1000"), chain))
    assert(!sameAsRelational(Seq("a"), Seq("a" -> "b", "b" -> "c", "c" -> "a", "x" -> "a")))
  }
}
