package nhsbench

import scala.collection.mutable
import scala.util.Random
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `graph_gates`: the seven graph operators on a seeded graph sized to fit
  * every driver gate, so each call takes its driver-side path. The graph is
  * rings of 60-140 nodes with cliques of 5-7 nodes hanging off them by one
  * bridge edge each; that shape gives closed-form answers where the
  * operator allows one:
  *  - the 4-core is exactly the clique nodes, each with degree size−1;
  *  - the 4-truss is exactly the clique edges, each with support size−2;
  *  - BFS hop distances and greedy max coverage are recomputed by a plain
  *    driver-side reference over the same input.
  * PageRank, HITS and label propagation are checked by row count and by an
  * order-independent fingerprint that must match the warm-up iteration.
  */
final class GraphGates extends Workload {
  val name = "graph_gates"

  private val bfsRounds = 12
  private val coverageK = 25
  private var edgesDf: DataFrame = _
  private var seedsDf: DataFrame = _
  private var docsDf: DataFrame = _
  private var nNodes = 0L
  private var nEdges = 0L
  private var expectCore: Set[(Long, Long)] = Set.empty
  private var expectTruss: Set[(Long, Long, Long)] = Set.empty
  private var expectBfs: Set[(Long, Long)] = Set.empty
  private var expectCoverage: Seq[(Long, Long, Long)] = Nil
  private val warmPrints = mutable.Map.empty[String, Int]
  private var lastPrints: Map[String, (Long, Int)] = Map.empty

  def generate(ctx: Ctx): Unit = {
    val rnd = new Random(ctx.seed)
    val und = mutable.ArrayBuffer.empty[(Long, Long)]
    val ringStarts = mutable.ArrayBuffer.empty[Long]
    var next = 0L
    val ringNodes = mutable.ArrayBuffer.empty[Long]
    for (_ <- 0 until 400) {
      val len = 60 + rnd.nextInt(81)
      val start = next
      ringStarts += start
      for (i <- 0 until len) {
        und += ((start + i, start + (i + 1) % len))
        ringNodes += start + i
      }
      next += len
    }
    val core = Set.newBuilder[(Long, Long)]
    val truss = Set.newBuilder[(Long, Long, Long)]
    for (_ <- 0 until 3000) {
      val size = 5 + rnd.nextInt(3)
      val members = (0 until size).map(next + _)
      next += size
      for (a <- members; b <- members if a < b) {
        und += ((a, b))
        truss += ((a, b, size - 2L))
      }
      members.foreach(m => core += ((m, size - 1L)))
      und += ((ringNodes(rnd.nextInt(ringNodes.size)), members.head))
    }
    nNodes = next
    nEdges = und.size
    expectCore = core.result()
    expectTruss = truss.result()

    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.freshDir("graph")
    val directed = und.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    directed.toDF("src", "dst").write.parquet(dir.resolve("edges").toString)
    edgesDf = spark.read.parquet(dir.resolve("edges").toString)
    val seeds = ringStarts.take(3).toSeq
    seedsDf = seeds.toDF("node")
    expectBfs = GraphGates.bfs(directed, seeds, bfsRounds)

    // coverage corpus: 4000 documents of 5-15 tokens over a skewed vocabulary
    val docs = (0 until 4000).map { d =>
      (d.toLong, Seq.fill(5 + rnd.nextInt(11))(s"t${(math.pow(rnd.nextDouble(), 2) * 3000).toInt}")
        .distinct)
    }
    docs.toDF("doc_id", "tokens").write.parquet(dir.resolve("docs").toString)
    docsDf = spark.read.parquet(dir.resolve("docs").toString)
    expectCoverage = GraphGates.greedy(docs, coverageK)
  }

  def iterate(ctx: Ctx): Outcome = {
    def run(op: String)(f: => DataFrame): Array[Row] =
      ctx.call(s"operators.$op")(f.collect())
    val core = run("kcore")(KCore.core(edgesDf, "src", "dst", 4))
    val truss = run("ktruss")(KTruss.truss(edgesDf, "src", "dst", 4))
    val ranks = run("pagerank")(PageRank.ranks(edgesDf, iterations = 10))
    val hits = run("hits")(Hits.hubsAuthorities(edgesDf, "src", "dst", rounds = 10))
    val lpa = run("lpa")(LabelPropagation.propagate(edgesDf, "src", "dst", rounds = 5))
    val bfs = run("bfs")(Bfs.hopDistances(edgesDf, "src", "dst", seedsDf, bfsRounds))
    val cov = run("coverage")(Coverage.greedyMaxCoverage(docsDf, "doc_id", col("tokens"),
      coverageK))

    val failures = ctx.untimed {
      lastPrints = Map(
        "kcore" -> GraphGates.print(core), "ktruss" -> GraphGates.print(truss),
        "pagerank" -> GraphGates.print(ranks), "hits" -> GraphGates.print(hits),
        "lpa" -> GraphGates.print(lpa), "bfs" -> GraphGates.print(bfs),
        "coverage" -> GraphGates.print(cov))
      if (ctx.warmup) lastPrints.foreach { case (k, (_, fp)) => warmPrints(k) = fp }
      check(
        core.map(r => (r.getAs[Any](0).toString.toLong, r.getAs[Any](1).toString.toLong)).toSet,
        truss.map(r => (r.getLong(0), r.getLong(1), r.getAs[Any](2).toString.toLong)).toSet,
        bfs.map(r => (r.getLong(0), r.getAs[Any](1).toString.toLong)).toSet,
        cov.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted,
        lastPrints)
    }
    Outcome(core.length.toLong + truss.length + ranks.length + hits.length + lpa.length +
      bfs.length + cov.length, 7, failures)
  }

  private def check(core: Set[(Long, Long)], truss: Set[(Long, Long, Long)],
                    bfs: Set[(Long, Long)], cov: Seq[(Long, Long, Long)],
                    prints: Map[String, (Long, Int)]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (core != expectCore) errs += s"kcore: ${core.size} rows differ from the planted cliques"
    if (truss != expectTruss) errs += s"ktruss: ${truss.size} rows differ from the clique edges"
    if (bfs != expectBfs) errs += s"bfs: ${bfs.size} rows differ from the reference BFS"
    if (cov != expectCoverage) errs += s"coverage: selection differs from the reference greedy"
    Seq("pagerank", "hits", "lpa").foreach { k =>
      val (n, fp) = prints(k)
      if (n != nNodes) errs += s"$k: $n rows for $nNodes nodes"
      if (warmPrints.get(k).exists(_ != fp)) errs += s"$k: output differs from the warm-up"
    }
    errs.result()
  }

  def checkerCatchesAlteredOutput(ctx: Ctx): Boolean = {
    val (n, fp) = lastPrints("pagerank")
    val altered = lastPrints.updated("pagerank", (n, fp + 1))
    check(expectCore, expectTruss, expectBfs, expectCoverage, altered).nonEmpty &&
      check(expectCore + ((0L, 4L)), expectTruss, expectBfs, expectCoverage, lastPrints).nonEmpty
  }

  def inputSizes: Seq[(String, Double)] = Seq(
    "rows" -> 2.0 * nEdges, "nodes" -> nNodes.toDouble, "docs" -> 4000.0,
    "workbooks" -> 0.0, "mb" -> 0.0)
}

object GraphGates {
  /** Row count and order-independent hash of a collected result. */
  def print(rows: Array[Row]): (Long, Int) =
    (rows.length.toLong, scala.util.hashing.MurmurHash3.unorderedHash(rows.map(_.toString)))

  /** Reference hop distances (capped at `rounds`) by plain breadth-first search. */
  def bfs(edges: Seq[(Long, Long)], seeds: Seq[Long], rounds: Int): Set[(Long, Long)] = {
    val adj = edges.groupMap(_._1)(_._2)
    val dist = mutable.Map.empty[Long, Long]
    var frontier = seeds.filter(adj.contains).distinct
    frontier.foreach(dist(_) = 0L)
    var d = 0L
    while (frontier.nonEmpty && d < rounds) {
      d += 1
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(dist.contains).distinct
      frontier.foreach(dist(_) = d)
    }
    dist.toSet
  }

  /** Reference greedy max coverage: highest gain first, lowest id on ties,
    * stopping when nothing new is covered.
    */
  def greedy(docs: Seq[(Long, Seq[String])], k: Int): Seq[(Long, Long, Long)] = {
    val covered = mutable.Set.empty[String]
    val out = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var round = 1
    var done = false
    while (round <= k && !done) {
      val (id, gain) = docs.map { case (d, ts) => (d, ts.count(t => !covered(t)).toLong) }
        .minBy { case (d, g) => (-g, d) }
      if (gain == 0) done = true
      else {
        out += ((round.toLong, id, gain))
        covered ++= docs.find(_._1 == id).get._2
        round += 1
      }
    }
    out.toSeq
  }
}
