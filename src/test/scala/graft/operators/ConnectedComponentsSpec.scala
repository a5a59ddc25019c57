package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

class ConnectedComponentsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Resolve on BOTH paths (driver union-find and the distributed
    * pointer-jumping loop, forced via maxEdges = 0), assert
    * they agree, return the shared result.
    */
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val df = edges.toDF("u", "v")
    val local = ConnectedComponents.components(df)
      .as[(Long, Long)].collect().toMap
    val dist = ConnectedComponents.components(df, maxEdges = 0L)
      .as[(Long, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(local == dist, "driver union-find and distributed loop diverge")
    local
  }

  test("components resolve to the minimum id, across chain/triangle/singleton-edge") {
    val got = cc(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain
      (10L, 11L), (11L, 12L), (12L, 10L), // triangle
      (20L, 21L)))                    // single edge
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("a long chain converges to one component (fixpoint, not a fixed round count)") {
    val n = 60L
    val got = cc((1L until n).map(i => (i, i + 1)))
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == (1L to n).toSet)
  }

  test("edge direction and duplication do not matter") {
    val a = cc(Seq((5L, 9L), (9L, 5L), (5L, 9L), (7L, 9L)))
    assert(a == Map(5L -> 5L, 7L -> 5L, 9L -> 5L))
  }

  test("randomized graph: both paths agree with a reference union-find") {
    val rnd = new Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    val got = cc(edges)

    // reference: naive repeated relabeling to fixpoint
    var label = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> n).toMap
    var moved = true
    while (moved) {
      moved = false
      for ((a, b) <- edges) {
        val m = math.min(label(a), label(b))
        if (label(a) != m) { label += a -> m; moved = true }
        if (label(b) != m) { label += b -> m; moved = true }
      }
    }
    assert(got == label)
  }

  test("string keys resolve on the driver path with UTF-8 (Spark min) ordering") {
    // "é" (é, 2 UTF-8 bytes) vs "z": UTF-8 byte order puts "z" (0x7a)
    // below "é" (0xc3a9) — same as Spark's min; UTF-16 agrees here, but the
    // supplementary char below ("😀" = 😀, 4 bytes 0xf0...) sorts
    // ABOVE "￿" in UTF-8 while String.compareTo puts it BELOW — the
    // driver ordering must match Spark, not compareTo.
    val sup = "😀"
    val edges = Seq(("z", "é"), (sup, "￿"), ("b", "a")).toDF("u", "v")
    val local = ConnectedComponents.components(edges)
      .as[(String, String)].collect().toMap
    val dist = ConnectedComponents.components(edges, maxEdges = 0L)
      .as[(String, String)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(local == dist)
    assert(local("z") == "z" && local("é") == "z")
    assert(local(sup) == "￿" && local("￿") == "￿")
    assert(local("a") == "a" && local("b") == "a")
  }

  test("byte budget routes wide string keys to the distributed loop, same result") {
    // 6 edges but ~1 KB keys: the row count is tiny, the collected bytes
    // are not — a small byte budget at the kernel's edge gate must send
    // the symmetric edge list to the distributed side, and that side must
    // agree with the driver path.
    def wide(tag: String) = tag * 300
    val edges = Seq(
      (wide("a"), wide("b")), (wide("b"), wide("c")),
      (wide("x"), wide("y")), (wide("p"), wide("q")),
      (wide("q"), wide("r")), (wide("r"), wide("p"))).toDF("u", "v")
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v"))).distinct()
    val budgeted = DriverCsr.edges("spec", sym, DriverCsr.MaxEdges, maxBytes = 1024L)
    val open = DriverCsr.edges("spec", sym, DriverCsr.MaxEdges)
    budgeted.close()
    // 12 rows of two 300-char keys: 64 + 2·48 + 2·600 bytes each
    assert(budgeted.count == 12L && budgeted.bytes == 12L * 1360)
    assert(!budgeted.onDriver && open.onDriver)
    val local = ConnectedComponents.components(edges)
      .as[(String, String)].collect().toMap
    val dist = ConnectedComponents.components(edges, maxEdges = 0L)
      .as[(String, String)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(local == dist)
    assert(dist(wide("c")) == wide("a") && dist(wide("r")) == wide("p"))
  }

  test("null endpoints are rejected loudly") {
    val edges = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(3L), Some(4L)))
      .toDF("u", "v")
    val e = intercept[IllegalArgumentException] {
      ConnectedComponents.components(edges).collect()
    }
    graft.Storage.releaseAll(spark)
    assert(e.getMessage.contains("null edge endpoints"))
  }

  test("mergeBatch: randomized incremental ingest equals the one-shot run") {
    val rnd = new Random(13)
    val edges = Seq.fill(300)((rnd.nextInt(100).toLong, rnd.nextInt(100).toLong))
      .filter { case (a, b) => a != b }
    val oneShot = cc(edges)
    for (batches <- Seq(2, 5)) {
      var labels = ConnectedComponents.components(
        edges.filter(_._1 % batches == 0).toDF("u", "v"))
      for (g <- 1 until batches)
        labels = ConnectedComponents.mergeBatch(labels,
          edges.filter(_._1 % batches == g).toDF("u", "v"))
      val got = labels.as[(Long, Long)].collect().toMap
      graft.Storage.releaseAll(spark)
      assert(got == oneShot, s"batches=$batches")
    }
  }

  test("mergeBatch: a bridging batch merges prior components to the global min; untouched survive") {
    // two prior components {1,2,3} and {10,11}, plus the old singleton 50
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L),
      (50L, 50L)).toDF("node", "component")
    val got = ConnectedComponents.mergeBatch(labels,
        Seq((3L, 11L), (70L, 71L)).toDF("u", "v"))
      .as[(Long, Long)].collect().toMap
    graft.Storage.releaseAll(spark)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L,
      50L -> 50L, 70L -> 70L, 71L -> 70L))
  }
}
