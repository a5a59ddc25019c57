package graft.operators

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** HITS invariants: matches a driver-side integer replay round for
  * round, is invariant to input partitioning and edge duplication,
  * and separates hubs from authorities on a graph where PageRank's
  * single score cannot. The independent end-to-end check is the q185
  * oracle (both rounds unrolled).
  */
class HitsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // 1 points at three authorities, 2 at one of them; 10 is the
  // consensus authority; 20→21 is an isolated weak pair
  private val edges: Seq[(Long, Long)] = Seq(
    1L -> 10L, 1L -> 11L, 1L -> 12L,
    2L -> 10L,
    20L -> 21L)

  private val scale = 1000000L

  private def replay(rounds: Int): Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = e.flatMap(t => Seq(t._1, t._2)).distinct
    var h = nodes.map(_ -> scale).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to rounds) {
      val araw = e.groupBy(_._2).view.mapValues(_.map(p => h(p._1)).sum).toMap
      val amax = araw.values.max
      a = nodes.map(n => n -> araw.getOrElse(n, 0L) * scale / amax).toMap
      val hraw = e.groupBy(_._1).view.mapValues(_.map(p => a(p._2)).sum).toMap
      val hmax = hraw.values.max
      h = nodes.map(n => n -> hraw.getOrElse(n, 0L) * scale / hmax).toMap
    }
    nodes.map(n => n -> (h(n), a(n))).toMap
  }

  private def run(rounds: Int, es: Seq[(Long, Long)] = edges,
                  np: Int = 1, maxEdges: Long = 2000000L): Map[Long, (Long, Long)] = {
    val got = Hits.hubsAuthorities(es.toDF("src", "dst").repartition(np),
      "src", "dst", rounds, maxEdges = maxEdges)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    graft.Storage.releaseAll(spark)
    got
  }

  test("matches the driver replay at several partitionings and round counts") {
    for (rounds <- Seq(1, 3); np <- Seq(1, 4))
      assert(run(rounds, np = np) == replay(rounds), s"rounds=$rounds np=$np")
  }

  test("the distributed fallback is bit-identical to the driver CSR path") {
    for (rounds <- Seq(1, 3))
      assert(run(rounds, maxEdges = 1L) == replay(rounds), s"rounds=$rounds")
  }

  test("duplicate edges collapse; hubs and authorities separate") {
    assert(run(2, edges ++ edges ++ edges) == replay(2))
    val got = run(2)
    // 1 (3 strong out-links) is the top hub; 10 (in-links from both
    // hubs) the top authority; pure hubs have zero authority
    assert(got(1L)._1 == scale)
    assert(got(10L)._2 == scale)
    assert(got(1L)._2 == 0L && got(2L)._2 == 0L)
    assert(got(10L)._1 == 0L) // a pure authority has zero hub score
    // the isolated pair scores strictly below the consensus pair
    assert(got(20L)._1 < got(1L)._1 && got(21L)._2 < got(10L)._2)
  }

  test("a warm-start score past scale routes through the checked loops; both paths agree") {
    // a snapshot value above scale breaks the [0, scale] premise the
    // hoisted raw-loop proof rests on, so the driver loop must fall back
    // to the per-edge checked adds — and still agree bit-for-bit with
    // the distributed path resumed from the same snapshot (no genuine
    // overflow at these magnitudes, so neither path throws)
    val prior = Seq((1L, scale * 3, 0L), (10L, scale / 2, 0L))
      .toDF("node", "hub_q", "auth_q")
    def resumed(maxEdges: Long): Map[Long, (Long, Long)] = {
      val got = Hits.resumeHubsAuthorities(edges.toDF("src", "dst"),
        "src", "dst", prior, rounds = 2, maxEdges = maxEdges)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      graft.Storage.releaseAll(spark)
      got
    }
    assert(resumed(2000000L) == resumed(1L),
      "checked-fallback driver loop != distributed path")
  }

  test("resume from a snapshot equals the cold run on BOTH paths; unseen nodes start cold") {
    def resumed(maxEdges: Long): Map[Long, (Long, Long)] = {
      val snap = Hits.hubsAuthorities(edges.toDF("src", "dst"), "src", "dst",
        rounds = 1, maxEdges = maxEdges)
      Hits.saveScores(spark, snap, "graft_hits_spec_snap")
      val got = Hits.resumeHubsAuthorities(edges.toDF("src", "dst"),
        "src", "dst", spark.table("graft_hits_spec_snap"), rounds = 2,
        maxEdges = maxEdges)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      spark.sql("DROP TABLE IF EXISTS graft_hits_spec_snap")
      graft.Storage.releaseAll(spark)
      got
    }
    assert(resumed(2000000L) == replay(3), "driver-path resume != cold 3 rounds")
    assert(resumed(1L) == replay(3), "distributed resume != cold 3 rounds")
    // a node absent from the snapshot starts at the cold value: resuming
    // on a GROWN graph from an empty-ish prior equals the cold run when
    // the prior holds exactly the cold values
    val coldPrior = edges.flatMap(t => Seq(t._1, t._2)).distinct
      .map(n => (n, scale, 0L)).toDF("node", "hub_q", "auth_q")
    val fromCold = Hits.resumeHubsAuthorities(edges.toDF("src", "dst"),
      "src", "dst", coldPrior.filter($"node" <= 2L), rounds = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    graft.Storage.releaseAll(spark)
    assert(fromCold == replay(2), "unseen nodes must start at the cold value")
  }

  test("shared graph handle: one build, both walks ≡ the one-shot entry points") {
    val df = edges.toDF("src", "dst")
    def m(d: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      d.as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val cold1 = m(Hits.hubsAuthorities(df, "src", "dst", rounds = 1))
    val cold3 = m(Hits.hubsAuthorities(df, "src", "dst", rounds = 3))
    graft.Storage.releaseAll(spark)
    val g = Hits.buildHitsGraph(df, "src", "dst")
    try {
      val snap = g.scores(rounds = 1)
      assert(m(snap) == cold1)
      Hits.saveScores(spark, snap, "graft_hits_handle_snap")
      val resumed = m(g.resumeFrom(spark.table("graft_hits_handle_snap"), rounds = 2))
      assert(resumed == cold3)
    } finally g.close()
    spark.sql("DROP TABLE IF EXISTS graft_hits_handle_snap")
    graft.Storage.releaseAll(spark)
  }
}
