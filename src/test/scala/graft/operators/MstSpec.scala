package graft.operators

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class MstSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Kruskal under the SAME strict total order (w, u, v) — with a total
    * order the MSF is unique, so Borůvka must reproduce it exactly.
    */
  private def kruskal(edges: Seq[(Long, Long, Long)]): Set[(Long, Long, Long)] = {
    val canon = edges
      .filter { case (a, b, _) => a != b }
      .map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
      .groupBy(e => (e._1, e._2))
      .map { case ((u, v), es) => (u, v, es.map(_._3).min) }
      .toSeq.sortBy(e => (e._3, e._1, e._2))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    canon.flatMap { case (u, v, w) =>
      val (ru, rv) = (find(u), find(v))
      if (ru == rv) None
      else { parent(math.max(ru, rv)) = math.min(ru, rv); Some((u, v, w)) }
    }.toSet
  }

  private def runFix(edges: Seq[(Long, Long, Long)],
                     parts: Int = 4): Set[(Long, Long, Long)] = {
    val df = edges.toDF("src", "dst", "w").repartition(parts)
    Mst.boruvkaFixpoint(df, "src", "dst", "w")
      .as[(Long, Long, Long)].collect().toSet
  }

  test("hand case: the unique MST of a small weighted graph") {
    // Classic 5-node graph; MST = {1-2(1), 2-3(2), 1-4(3), 4-5(2)}
    val edges = Seq(
      (1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 4L),
      (1L, 4L, 3L), (4L, 5L, 2L), (3L, 5L, 7L))
    assert(runFix(edges) ==
      Set((1L, 2L, 1L), (2L, 3L, 2L), (1L, 4L, 3L), (4L, 5L, 2L)))
  }

  test("weight ties resolve by the (w, u, v) total order, matching Kruskal") {
    // a 4-cycle with ALL weights equal: the kept pair is order-determined
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 5L), (3L, 4L, 5L), (4L, 1L, 5L))
    val got = runFix(edges)
    assert(got == kruskal(edges))
    assert(got == Set((1L, 2L, 5L), (1L, 4L, 5L), (2L, 3L, 5L)))
  }

  test("disconnected graph yields a spanning forest per component") {
    val edges = Seq(
      (1L, 2L, 1L), (2L, 3L, 1L),
      (10L, 11L, 1L), (11L, 12L, 1L), (10L, 12L, 9L))
    assert(runFix(edges) == kruskal(edges))
    assert(runFix(edges).size == 4)
  }

  test("parallel edges collapse to their min; self-loops drop; orientation free") {
    val edges = Seq(
      (2L, 1L, 7L), (1L, 2L, 3L), // parallel, reversed orientation
      (3L, 3L, 1L),               // self loop
      (2L, 3L, 5L))
    assert(runFix(edges) == Set((1L, 2L, 3L), (2L, 3L, 5L)))
  }

  test("fixed-round prefixes are contained in the fixpoint forest; round 1 = per-node min") {
    val rnd = new Random(7)
    val edges = (0 until 200).map(_ =>
      (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong, rnd.nextInt(20).toLong))
    val df = edges.toDF("src", "dst", "w")
    val full = runFix(edges)
    val r1 = Mst.boruvka(df, "src", "dst", "w", rounds = 1)
      .as[(Long, Long, Long)].collect().toSet
    val r2 = Mst.boruvka(df, "src", "dst", "w", rounds = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(r1.subsetOf(r2) && r2.subsetOf(full))
    assert(Mst.boruvka(df, "src", "dst", "w", rounds = 0)
      .collect().isEmpty)
  }

  test("matches Kruskal on random graphs with heavy weight ties, any partitioning") {
    val rnd = new Random(11)
    for (trial <- 0 until 3) {
      val n = 60
      val edges = (0 until 300).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong,
          rnd.nextInt(5).toLong)) // only 5 distinct weights: ties everywhere
      val want = kruskal(edges)
      assert(runFix(edges, parts = 1) == want, s"trial $trial parts=1")
      assert(runFix(edges, parts = 17) == want, s"trial $trial parts=17")
    }
  }

  test("driver and distributed paths are bit-identical, including ties, prefixes, and string keys") {
    val rnd = new Random(23)
    for (trial <- 0 until 2) {
      val edges = (0 until 250).map(_ =>
        (rnd.nextInt(45).toLong, rnd.nextInt(45).toLong, rnd.nextInt(4).toLong))
      val df = edges.toDF("src", "dst", "w")
      // threshold 0 forces the distributed loop (the CC spec discipline)
      assert(Mst.boruvkaFixpoint(df, "src", "dst", "w", maxEdges = 0)
        .as[(Long, Long, Long)].collect().toSet ==
        Mst.boruvkaFixpoint(df, "src", "dst", "w")
          .as[(Long, Long, Long)].collect().toSet, s"fixpoint trial $trial")
      for (r <- Seq(1, 2)) {
        assert(Mst.boruvka(df, "src", "dst", "w", r, maxEdges = 0)
          .as[(Long, Long, Long)].collect().toSet ==
          Mst.boruvka(df, "src", "dst", "w", r)
            .as[(Long, Long, Long)].collect().toSet, s"rounds $r trial $trial")
      }
    }
    // string keys: driver compares UTF-8 bytes, matching min(struct)
    val sEdges = Seq(("b", "a", 2L), ("c", "b", 2L), ("a", "c", 2L),
      ("zz", "a", 1L), ("Z", "a", 3L)) // 'Z' < 'a' in UTF-8
    val sdf = sEdges.toDF("src", "dst", "w")
    assert(Mst.boruvkaFixpoint(sdf, "src", "dst", "w", maxEdges = 0)
      .as[(String, String, Long)].collect().toSet ==
      Mst.boruvkaFixpoint(sdf, "src", "dst", "w")
        .as[(String, String, Long)].collect().toSet)
  }

  test("mergeBatch: incremental MSF equals the one-shot fixpoint, however sliced") {
    val rnd = new Random(17)
    val edges = (0 until 300).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong, rnd.nextInt(8).toLong))
    val want = runFix(edges)
    for (nSlices <- Seq(2, 3, 5)) {
      val slices = edges.zipWithIndex.groupBy(_._2 % nSlices)
        .toSeq.sortBy(_._1).map(_._2.map(_._1))
      var forest: org.apache.spark.sql.DataFrame = null
      for (s <- slices) {
        val df = s.toDF("src", "dst", "w")
        forest =
          if (forest == null) Mst.boruvkaFixpoint(df, "src", "dst", "w")
          else Mst.mergeBatch(forest, df, "src", "dst", "w")
      }
      assert(forest.as[(Long, Long, Long)].collect().toSet == want,
        s"$nSlices slices")
    }
  }

  test("mergeBatch: replaying an already-folded batch is a no-op") {
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 3L))
    val df = edges.toDF("src", "dst", "w")
    val f1 = Mst.boruvkaFixpoint(df, "src", "dst", "w")
    val f2 = Mst.mergeBatch(f1, df, "src", "dst", "w")
    assert(f2.as[(Long, Long, Long)].collect().toSet ==
      f1.as[(Long, Long, Long)].collect().toSet)
  }

  test("single-linkage cut property: components of forest edges <= t equal components of ALL edges <= t") {
    val rnd = new Random(13)
    val edges = (0 until 250).map(_ =>
      (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong,
        rnd.nextInt(30).toLong))
    val forest = runFix(edges)
    def comps(es: Set[(Long, Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (u, v, _) =>
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      val nodes = es.flatMap(e => Seq(e._1, e._2))
      nodes.map(nd => nd -> find(nd)).toMap
    }
    val all = kruskal(edges) // canonicalized full graph is implicit in kruskal
    for (t <- Seq(5L, 12L, 20L)) {
      val viaForest = comps(forest.filter(_._3 <= t))
      val viaAll = comps(edges
        .filter { case (a, b, _) => a != b }
        .map { case (a, b, w) => (math.min(a, b), math.max(a, b), w) }
        .filter(_._3 <= t).toSet)
      // nodes reachable at threshold t must cluster identically
      assert(viaForest == viaAll, s"threshold $t")
    }
    assert(all == forest) // and the fixpoint really is the full MSF
  }

  test("cutHeaviest: each cut adds exactly one component; ties replay by the total order") {
    // path 1-2-3-4-5 with weights 10, 30, 20, 30 — two weight-30 ties
    val forest = Seq((1L, 2L, 10L), (2L, 3L, 30L), (3L, 4L, 20L), (4L, 5L, 30L))
      .toDF("u", "v", "w")
    def clusters(cuts: Int): Set[Set[Long]] = {
      val kept = Mst.cutHeaviest(forest, cuts)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // driver closure over the kept edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      for ((a, b) <- kept) {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (1L to 5L).groupBy(find).values.map(_.toSet).toSet
    }
    assert(clusters(0) == Set(Set(1L, 2L, 3L, 4L, 5L)))
    // cut 1: the (30, 2, 3) edge goes FIRST (w DESC, u, v — lowest
    // endpoints win the tie), splitting {1,2} from {3,4,5}
    assert(clusters(1) == Set(Set(1L, 2L), Set(3L, 4L, 5L)))
    // cut 2: both 30s gone
    assert(clusters(2) == Set(Set(1L, 2L), Set(3L, 4L), Set(5L)))
    // cut 3: only the lightest edge remains
    assert(clusters(3) == Set(Set(1L, 2L), Set(3L), Set(4L), Set(5L)))
    // cutting more than the forest has leaves all singletons, no error
    assert(clusters(9) == (1L to 5L).map(Set(_)).toSet)
  }
}
