package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan pins for the scale-critical queries: these assert the
  * plan SHAPE the operators were designed around — broadcasts where a side
  * is small, filters reaching the parquet scan, no cartesian products on
  * the blocked joins — so a refactor that silently degrades a plan (e.g. a
  * lost broadcast hint turning into a shuffled join, or a range predicate
  * collapsing to a nested-loop join) fails here rather than at 100 TB.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q03: both dimension joins broadcast") {
    val p = plan("q03_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q02: filters and projection reach the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: ["), p.take(800))
    assert(p.contains("GreaterThan(p_size,") || p.contains("GreaterThanOrEqual(p_size,"),
      "size range must push down: " + p.take(800))
    // column pruning: the scan must not read unused columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("p_retailprice") && !readSchema.contains("p_comment"),
      readSchema)
  }

  test("q39: bucketed range join is an equi join, never a nested-loop/cartesian") {
    val p = plan("q39_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q31: as-of join plans with no join operator at all (tag+union+window)") {
    val p = plan("q31_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q19: query side broadcasts; corpus is never shuffled before scoring") {
    val p = plan("q19_knn_cosine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the bounded query set must broadcast: " + p.take(800))
  }

  test("q32: IVF probes broadcast into the bucket equi join") {
    val p = plan("q32_knn_ivf")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("q50: incremental-dedup candidates are band-bucket equi joins, never cartesian") {
    val p = plan("q50_incr_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair generation must stay an equi join on (band, bucket):\n" + p.take(800))
  }

  test("q01: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("q01_group_sum")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
  }

  test("q40: no built-in exact percentile aggregate anywhere in the plan") {
    val p = plan("q40_percentiles")
    assert(!p.toLowerCase.contains("percentile("), p.take(800))
  }

  test("q52/q58/q59: per-row quality signals never shuffle") {
    for (q <- Seq("q52_quality_signals", "q58_dup_ngrams", "q59_c4_clean")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must be scan+project only:\n" + p.take(800))
    }
  }

  test("q53/q56: the benchmark gram set broadcasts; the corpus never sort-merges") {
    for (q <- Seq("q53_decontaminate", "q56_decontam_clean")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: " + p.take(800))
      assert(!p.contains("SortMergeJoin"), s"$q corpus side must not shuffle for the probe:\n" + p.take(800))
    }
  }

  test("q60: tf aggregation is partial (map-side combine) and the corpus count broadcasts") {
    val p = plan("q60_tfidf_topk")
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(1200))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row corpus count must broadcast, not shuffle: " + p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("q64/q69/q73/q80: per-row operators (chunk/quantize/zorder/retrieval) never shuffle") {
    for (q <- Seq("q64_chunk_tokens", "q69_quantize_int8", "q73_zorder",
        "q80_bool_retrieval")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must be scan+project only:\n" + p.take(800))
    }
  }

  test("q68: the count-min sketch build combines map-side before its sketch-sized exchange") {
    val p = plan("q68_cms_freq")
    assert(p.contains("partial_count"), p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("q66: the Bloom pre-filter sits on the probe scan before any join") {
    val p = plan("q66_bloom_semi_join")
    assert(p.contains("might_contain"), p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q75: the overlap join is the merge sweep — no join node, one co-partitioning") {
    val p = plan("q75_overlap_join")
    for (node <- Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!p.contains(node), s"$node in:\n" + p.take(1200))
    assert(p.contains("hashpartitioning(__rid"), p.take(1200))
  }

  test("q82: the weighted sample is a top-k heap merge, never a global sort") {
    val p = plan("q82_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("Exchange"), "per-row key projection must not shuffle:\n" + p.take(1200))
  }

  test("q101: fused top-k terminates in TakeOrderedAndProject, no cartesian product") {
    val p = plan("q101_rrf_fusion")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q102: dup-span removal joins gram hashes, never crossing the corpus") {
    val p = plan("q102_dup_span_removal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
    assert(p.contains("partial_count"), "gram counts must combine map-side: " + p.take(1200))
  }

  test("q104: stored phrase search is exchange-free end-to-end") {
    // the query function builds the doc_id-bucketed store, then searches:
    // adjacency joins and the per-doc count must all reuse the bucketing.
    val p = plan("q104_phrase_store")
    assert(!p.contains("Exchange hashpartitioning"),
      "bucketed store must co-locate joins and count:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
  }

  test("q107: budget assembly shuffles once by source; the cum-sum rides that partitioning") {
    val p = plan("q107_budget_mix")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "one source shuffle only:\n" + p.take(1200))
    assert(p.contains("Window"), p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("q114: prefix-filtered similarity join has no cartesian; df count combines map-side") {
    val p = plan("q114_setsim_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
    // the document-frequency count must partial-aggregate before its shuffle
    assert(p.contains("partial_count"), p.take(1200))
  }

  test("q161: the vocabulary cumsum is the range-partitioned scan, never one task") {
    val p = plan("q161_vocab_growth")
    assert(!p.contains("SinglePartition"), p.take(1500))
    assert(p.toLowerCase.contains("rangepartitioning"), p.take(1500))
    Storage.releaseAll(spark)
  }

  test("q159: the lateness prefix max never windows the raw stream by event_type") {
    val p = plan("q159_watermark_lag")
    assert(!p.contains("SinglePartition"), p.take(1500))
    assert(p.toLowerCase.contains("rangepartitioning"), p.take(1500))
    // the only windows left sort DISTINCT lateness values per type
    // (Percentiles stage 2) — none computes a running max over the raw
    // microsecond column
    assert(!p.contains("max(__us"), p.take(1500))
    Storage.releaseAll(spark)
  }

  test("q167/q168: containment candidates are prefix-token equi joins, never cartesian") {
    for (q <- Seq("q167_containment", "q168_quote_watchlist")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q:\n" + p.take(1200))
      assert(p.contains("partial_count"),
        s"$q document frequencies must combine map-side:\n" + p.take(1200))
    }
  }

  test("q175: the sign projection is scan+project only — no shuffle, no join") {
    val p = plan("q175_random_projection")
    assert(!p.contains("Exchange"), p.take(1200))
    for (node <- Seq("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"))
      assert(!p.contains(node), s"$node in:\n" + p.take(1200))
  }

  test("q170: winnowing never shuffles; q176 span grouping joins only on the fingerprint") {
    val p170 = plan("q170_winnowing")
    assert(!p170.contains("Exchange"), p170.take(1200))
    val p176 = plan("q176_winnow_spans")
    assert(!p176.contains("CartesianProduct") &&
      !p176.contains("BroadcastNestedLoopJoin"), p176.take(1200))
  }

  test("q113: fuzzy linkage is an equi join on the variant, never a cartesian") {
    val p = plan("q113_fuzzy_link")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
    // the verify predicate must sit ABOVE the join, not be a join condition
    // forcing a nested loop: the join key is the generated variant column
    assert(p.contains("Generate explode"), p.take(1200))
  }

  test("q184: the per-user cap compiles to a group limit, join is equi, counts combine map-side") {
    val p = plan("q184_coengagement")
    // WindowGroupLimit prunes to the top-m BEFORE the exchange — the cap
    // never sorts a whole hot user's history through one task's window
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("partial_count"), p.take(1500))
  }

  test("q185: HITS result joins node-sized score leaves — no cartesian, no global sort") {
    val p = plan("q185_hits")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    assert(!p.contains("Sort [") || !p.contains("Exchange rangepartitioning"),
      "no global sort in the HITS output:\n" + p.take(1500))
    graft.Storage.releaseAll(spark)
  }

  test("q250: Damerau linkage joins on the variant, verify above the join, never cartesian") {
    val p = plan("q250_damerau_link")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1200))
    assert(p.contains("Generate explode"), p.take(1200))
  }

  test("q251: kappa's heavy stage is ONE contingency aggregate with map-side combine") {
    val p = plan("q251_cohen_kappa")
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q253: the DICTIONARY side broadcasts; the corpus streams once, never shuffles") {
    val p = plan("q253_jw_dictionary")
    // a keyless corpus × dictionary pairing is correctly a BNLJ — what
    // matters is WHICH side builds: the fixed-size dictionary must be the
    // broadcast build side, the corpus the streamed side
    assert(p.contains("BroadcastNestedLoopJoin BuildRight"), p.take(1500))
    assert(p.contains("IdentityBroadcastMode"), p.take(1500))
    // no CartesianProduct (both-sides-shuffled) and no corpus sort-merge
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      p.take(1500))
  }

  test("q254: the grid lookup is a broadcast equi-join; ranks combine map-side") {
    val p = plan("q254_quantile_norm")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(1500))
    assert(p.contains("partial_count"), p.take(1500))
  }

  test("q255: trailing-active is one distinct + one counting aggregate, no self-join per day") {
    val p = plan("q255_trailing_active")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
    // the day fan-out is a Generate over the constant sequence, not a join
    assert(p.contains("Generate explode"), p.take(1500))
  }

  test("q257: the digit histogram combines map-side in one aggregate pass") {
    val p = plan("q257_leading_digit")
    assert(p.contains("partial_count"), p.take(1500))
    assert(!p.contains("Join"), "no join belongs in a one-scan profile:\n" + p.take(1500))
  }
}
