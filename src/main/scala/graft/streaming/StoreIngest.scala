package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest into the incremental stores — closes the
  * streaming-to-store loop the deployment story implies: a long-running
  * stream maintains the SAME bucketed signature store the batch pipeline
  * reads, by signaturing each micro-batch (O(batch), the
  * [[graft.operators.IncrementalDedup]] contract) and appending it
  * inside `foreachBatch`. Store reads stay exchange-free either way —
  * the append path preserves the bucket spec.
  *
  * Idempotence: bucketed parquet appends are not transactional, so a
  * replayed micro-batch (a checkpoint restart re-delivers the last
  * in-flight batch id) must not double-append. A committed-batch LEDGER
  * table (`<table>_ingest_log`, one (batch_id, n_rows, fp) row per
  * committed batch) makes the replay a no-op: the batch body is skipped
  * when a committed row carries the SAME batch id AND the same
  * order-independent content fingerprint. Keying on content as well as
  * id is what makes the skip safe: batch ids are only unique within one
  * checkpoint lineage, so a FRESH checkpoint pointed at a retained
  * store+ledger over a source that has since grown produces colliding
  * ids with DIFFERENT data — an id-only ledger would silently drop that
  * data; here the fingerprint mismatch makes those batches run (the old
  * rows re-append — at-least-once store rows, and
  * [[StoreMaintenance.maintainStore]] reclaims the space), while a
  * replay of IDENTICAL data stays a no-op.
  * The ledger row lands AFTER the store append, so a crash exactly
  * between the two re-appends one batch on restart — candidate
  * derivation is a DISTINCT pair set, so the duplicate rows perturb no
  * downstream answer (at-least-once store rows, exactly-once results;
  * StreamingSpec pins the stream≡batch store equality, the replay
  * no-op, and the colliding-id re-ingest).
  *
  * Probe cost: the committed map loads from the ledger ONCE per started
  * query (it is one row per batch — tiny at any cadence) and lives in
  * the foreachBatch closure afterwards, so a year-long stream pays one
  * table read at start-up, not a growing parquet listing per
  * micro-batch.
  */
object StoreIngest {

  // Env-guarded phase timers (SPARK_GRAFT_INGEST_TIMING=1): per-batch
  // wall time of each ingest step, the measurement hooks behind the
  // round-18 ProbeR18 runs. Off by default — one boolean check per
  // step, no behavior change.
  private val probeTiming = sys.env.contains("SPARK_GRAFT_INGEST_TIMING")
  private def pt[A](label: String)(f: => A): A =
    if (!probeTiming) f
    else {
      val t0 = System.nanoTime()
      val r = f
      println(f"[ingest] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }

  /** The ledger table paired with a store table. */
  def ledgerTable(table: String): String = table + "_ingest_log"

  /** Order-independent content fingerprint of a batch: (row count, sum
    * of per-row 64-bit hashes over ALL columns). Commutative, so the
    * same rows in any partitioning/order fingerprint identically; a
    * different batch under a colliding id mismatches with overwhelming
    * probability (and the failure mode of the astronomically unlikely
    * collision is one skipped batch — the same exposure an id-only
    * ledger had for EVERY colliding batch).
    */
  private def fingerprint(batch: DataFrame): (Long, Long) = {
    // the per-row hashes are full-range longs, so the commutative sum is
    // carried exactly in DECIMAL(38,0) (ANSI long sum would overflow on
    // two rows) and wrapped to the 64-bit fingerprint on the driver —
    // deterministic two's-complement wrap, order-independent
    val r = batch.select(
      count(lit(1)).as("n"),
      sum(xxhash64(struct(batch.columns.map(col): _*))
        .cast("decimal(38,0)")).as("fp")).head()
    val fp = if (r.isNullAt(1)) 0L
             else r.getDecimal(1).toBigInteger.longValue()
    (r.getLong(0), fp)
  }

  /** Sentinel fingerprint for ledger rows written by the pre-fingerprint
    * ledger format (batch_id only): n_rows = -1 is impossible for a real
    * batch, so it can never collide with a genuine fingerprint. A legacy
    * row means "this id was committed under id-only semantics" — it
    * matches ANY content for that id, preserving exactly the behavior the
    * old ledger had for its own entries.
    */
  private val LegacyFp: (Long, Long) = (-1L, 0L)

  /** The shared ledgered foreachBatch core: run `appendBatch` for each
    * micro-batch whose (id, content) is not yet committed, then commit
    * it. Every store type plugs its own batch transform + append here.
    *
    * SINGLE WRITER PER TABLE: the committed map is cached per STARTED
    * QUERY (foreachBatch bodies run serially on the driver, which is a
    * per-query guarantee, not a per-table one). Exactly one streaming
    * query may ingest a given store table at a time, and the ledger must
    * not be dropped/rebuilt externally while a query is running — a
    * second concurrent writer (or an external ledger rewrite) would
    * operate on stale commit state. Every store read side tolerates a
    * duplicate append, so the failure mode is waste, not corruption —
    * but the contract is one writer.
    */
  private def ledgeredIngest(docs: DataFrame, table: String,
                             checkpointDir: String, trigger: Trigger)
                            (appendBatch: DataFrame => Unit): StreamingQuery =
    ledgeredIngestTagged(docs, table, checkpointDir, trigger) {
      (df, _, _) => appendBatch(df) }

  /** [[ledgeredIngest]] variant whose append callback also receives the
    * committed (batchId, fingerprint) — for stores whose state is
    * COUNT-ADDITIVE rather than replay-idempotent: tagging every
    * appended row with the batch identity lets the read side collapse a
    * crash-window double-append exactly (see
    * [[graft.operators.HistogramSketch.quantilesFromTaggedStore]]),
    * where the set-union-style stores simply don't care.
    */
  private def ledgeredIngestTagged(docs: DataFrame, table: String,
                                   checkpointDir: String, trigger: Trigger)
                                  (appendBatch: (DataFrame, Long, (Long, Long)) => Unit): StreamingQuery = {
    // The session that STARTED the ingest (the store's reader). Each
    // micro-batch body runs in a per-query CLONED session whose write
    // path refreshes only the clone's relation cache — so if the owner
    // session read the store before a batch landed, its cached file
    // listing silently misses every later append (found by probe: the
    // appended files were on disk while spark.table served the old
    // listing). After each committed batch the owner's view of the
    // store and ledger is refreshed explicitly.
    val owner = docs.sparkSession
    // per-started-query committed map: loaded from the ledger on the
    // first batch of THIS run, maintained in memory afterwards.
    // foreachBatch bodies run serially on the driver, so plain state
    // suffices; a new start() (restart, fresh checkpoint, post-drop
    // rebuild) gets a fresh closure and re-reads the table once.
    var committed: scala.collection.mutable.Map[Long, Set[(Long, Long)]] = null
    docs.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        val ledger = ledgerTable(table)
        if (committed == null) {
          committed = scala.collection.mutable.Map.empty
          // crash-window recovery for the legacy-format migration below:
          // the rewrite stages the new-schema history in a sidecar table
          // BEFORE dropping the old one, so a crash anywhere in the
          // protocol leaves at least one complete copy. States on
          // restart: (ledger only) nothing staged — normal path;
          // (ledger + stage) crash before the drop, legacy copy is the
          // source of truth — discard the stage and re-migrate;
          // (stage only) crash between the drop and the new write —
          // restore the ledger from the stage; the old unconditional
          // drop-then-rewrite lost ALL commit history in exactly this
          // window, re-admitting every committed batch on restart.
          val stage = ledger + "__migrate"
          if (s.catalog.tableExists(stage)) {
            if (!s.catalog.tableExists(ledger)) {
              s.table(stage).write.mode("append").format("parquet")
                .saveAsTable(ledger)
            }
            graft.sources.Sinks.dropTableAndStaleLocation(s, stage)
          }
          if (s.catalog.tableExists(ledger)) {
            val cols = s.table(ledger).columns.toSet
            if (cols.contains("fp")) {
              s.table(ledger).select(col("batch_id"), col("n_rows"), col("fp"))
                .collect().foreach { r =>
                  val k = r.getLong(0)
                  committed(k) = committed.getOrElse(k, Set.empty) +
                    ((r.getLong(1), r.getLong(2)))
                }
            } else {
              // legacy (batch_id)-only ledger from the pre-fingerprint
              // format: migrate — load each id as committed-with-wildcard
              // (id-only semantics, what that row meant when written),
              // STAGE the history in the new schema with the sentinel,
              // and only then swap the tables, so the NEW-format append
              // below never hits a schema-mismatch and no crash point
              // loses the history (recovery above)
              val legacyIds = s.table(ledger).select(col("batch_id"))
                .collect().map(_.getLong(0))
              legacyIds.foreach { k =>
                committed(k) = committed.getOrElse(k, Set.empty) + LegacyFp
              }
              if (legacyIds.nonEmpty) {
                val rows = new java.util.ArrayList[Row](legacyIds.length)
                legacyIds.foreach { k =>
                  rows.add(Row(k, LegacyFp._1, LegacyFp._2))
                }
                s.createDataFrame(rows,
                  new org.apache.spark.sql.types.StructType()
                    .add("batch_id", "long", nullable = false)
                    .add("n_rows", "long", nullable = false)
                    .add("fp", "long", nullable = false))
                  .write.mode("append").format("parquet").saveAsTable(stage)
              }
              graft.sources.Sinks.dropTableAndStaleLocation(s, ledger)
              if (legacyIds.nonEmpty) {
                s.table(stage).write.mode("append").format("parquet")
                  .saveAsTable(ledger)
                graft.sources.Sinks.dropTableAndStaleLocation(s, stage)
              }
            }
          }
        }
        val df = batch.toDF()
        // one O(batch) scan — the ledger row records the fingerprint
        // whether or not the id collides
        val fp = pt("fingerprint")(fingerprint(df))
        val seen = committed.getOrElse(batchId, Set.empty)
        if (!seen.contains(fp) && !seen.contains(LegacyFp)) {
          pt("appendBatch")(appendBatch(df, batchId, fp))
          pt("ledger write")(s.createDataFrame(
            java.util.Collections.singletonList(Row(batchId, fp._1, fp._2)),
            new org.apache.spark.sql.types.StructType()
              .add("batch_id", "long", nullable = false)
              .add("n_rows", "long", nullable = false)
              .add("fp", "long", nullable = false))
            .write.mode("append").format("parquet").saveAsTable(ledger))
          committed(batchId) = committed.getOrElse(batchId, Set.empty) + fp
          pt("refreshes"){
            if (owner.catalog.tableExists(table)) owner.catalog.refreshTable(table)
            owner.catalog.refreshTable(ledger)
          }
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Start a streaming ingest of `docs` (a STREAMING DataFrame of
    * (idCol, textCol) rows) into the MinHash/LSH signature store
    * `table`: each micro-batch runs
    * [[graft.operators.IncrementalDedup.bandedSignaturesPortable]] and
    * appends via [[graft.operators.IncrementalDedup.appendToStore]].
    * Defaults are the q22/q50 constants so the store replays the
    * batch oracle exactly. The default trigger drains what is available
    * and stops (the gate/test shape); a deployment passes a
    * processing-time trigger.
    */
  def ingestDedupStore(docs: DataFrame, idCol: String, textCol: String,
                       table: String, buckets: Int, checkpointDir: String,
                       shingleK: Int = 3, numHashes: Int = 16,
                       bands: Int = 4, seed: Long = 42L,
                       trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ledgeredIngest(docs, table, checkpointDir, trigger) { batch =>
      graft.operators.IncrementalDedup.appendToStore(
        graft.operators.IncrementalDedup.bandedSignaturesPortable(
          batch, idCol, textCol, shingleK, numHashes, bands, seed),
        table, buckets)
    }

  /** Streaming ingest into the grouped KMV distinct-count store: each
    * micro-batch sketches (groupCol, valueCol) rows and appends the
    * batch's k-minima ([[graft.operators.IncrementalKmv]]). KMV minima
    * are a pure function of the VALUE SET, and the merge is bottom-k of
    * the union, so the served estimates are batch-slicing-invariant AND
    * duplicate-append-safe — a replayed batch cannot perturb any
    * estimate even in the ledger's crash window (stronger than the
    * dedup store's distinct-pair argument).
    */
  def ingestKmvStore(rows: DataFrame, groupCol: String, valueCol: String,
                     table: String, k: Int, buckets: Int,
                     checkpointDir: String,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ledgeredIngest(rows, table, checkpointDir, trigger) { batch =>
      val s = batch.sparkSession
      val existed = s.catalog.tableExists(table)
      graft.operators.IncrementalKmv.appendToStore(
        graft.operators.IncrementalKmv.sketchBatch(batch, groupCol, valueCol, k),
        table, groupCol, buckets)
      // stamp k at creation so maintainStore can fold the sketch log
      // without a caller-carried parameter (folding with the wrong k is
      // lossy — see StoreMaintenance.KmvKProp)
      if (!existed)
        s.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES " +
          s"('${StoreMaintenance.KmvKProp}'='$k')")
    }

  /** Streaming ingest into the positional PHRASE index through the
    * ledgered core: each micro-batch tokenizes its documents and appends
    * their (doc_id, pos, token) occurrence rows under the store's doc_id
    * bucketing
    * ([[graft.operators.InvertedIndex.appendToPhraseStore]]).
    * Occurrences are per-doc facts, so the accumulated store is
    * row-identical to the one-shot [[graft.operators.InvertedIndex
    * .buildPhraseStore]] however the stream slices; the crash window's
    * duplicate rows are neutralized at query time by
    * [[graft.operators.InvertedIndex.phraseSearchStored]]'s
    * exchange-free occurrence dedup (the posting family's downstream is
    * a COUNT, not a distinct pair set — the one store whose reads need
    * that guard).
    */
  def ingestPhraseStore(docs: DataFrame, idCol: String, textCol: String,
                        table: String, buckets: Int, checkpointDir: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ledgeredIngest(docs, table, checkpointDir, trigger) { batch =>
      graft.operators.InvertedIndex.appendToPhraseStore(
        batch, idCol, textCol, table, buckets)
    }

  /** Streaming ingest into the CHAR-GRAM WINNOWING fingerprint index:
    * each micro-batch selects its documents' winnowing fingerprints (a
    * pure per-document function — char grams need no corpus-trained
    * tokenizer, which is what makes the family streamable) and appends
    * them under the store's fp bucketing
    * ([[graft.operators.Winnowing.appendToStore]]). Selected
    * fingerprints are per-doc facts, so the accumulated store is
    * row-identical to the one-shot [[graft.operators.Winnowing
    * .buildStore]] however the stream slices; the crash window's
    * duplicate rows are neutralized at query time by
    * [[graft.operators.Winnowing.matchesStored]]'s exchange-free
    * (doc_id, fp) dedup (shared-fp counts would otherwise inflate —
    * the phrase store's COUNT-downstream argument).
    */
  def ingestWinnowStore(docs: DataFrame, idCol: String, textCol: String,
                        table: String, buckets: Int, checkpointDir: String,
                        k: Int = 8, w: Int = 6,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ledgeredIngest(docs, table, checkpointDir, trigger) { batch =>
      graft.operators.Winnowing.appendToStore(
        graft.operators.Winnowing.fingerprintsChars(batch, idCol, textCol, k, w),
        idCol, table, buckets)
    }

  /** Streaming ingest into the DECONTAMINATION gram-reference store:
    * benchmark/eval documents stream in and their distinct word-k-gram
    * hash keys append under the store's _gram_key bucketing ([[graft.operators.Decontaminate
    * .appendToGramStore]]). Gram keys are per-document facts and the
    * probe reads the store's DISTINCT key set, so crash-window replays
    * and cross-batch duplicates are answer-invariant by construction —
    * [[graft.operators.Decontaminate.overlapsFromStore]] serves exactly
    * the one-shot overlaps however the stream sliced.
    */
  def ingestGramStore(bench: DataFrame, textCol: String, k: Int,
                      table: String, buckets: Int, checkpointDir: String,
                      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ledgeredIngest(bench, table, checkpointDir, trigger) { batch =>
      graft.operators.Decontaminate.appendToGramStore(
        batch, textCol, k, table, buckets)
    }

  /** Streaming ingest into the hyperplane-LSH embedding store: each
    * micro-batch bucketizes (idCol, vecCol) rows across the OR-amplified
    * tables and appends ([[graft.operators.IncrementalAnn]]). Defaults
    * are the q30/q51 constants so the accumulated store replays the
    * one-shot LSH oracle exactly; the pair derivation is a DISTINCT set,
    * so the ledger's crash window is answer-invariant (the dedup-store
    * argument).
    */
  def ingestAnnStore(rows: DataFrame, idCol: String, vecCol: String,
                     table: String, buckets: Int, checkpointDir: String,
                     nPlanes: Int = 12, nTables: Int = 2, dim: Int = 64,
                     seed: Long = 42L,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ledgeredIngest(rows, table, checkpointDir, trigger) { batch =>
      graft.operators.IncrementalAnn.appendToStore(
        graft.operators.IncrementalAnn.bucketedEmbeddings(
          batch, idCol, vecCol, nPlanes, nTables, dim, seed),
        table, buckets)
    }

  /** Streaming ingest into the histogram-sketch quantile store — the
    * store family that actually exercises the ledger: histogram state is
    * COUNT-ADDITIVE, so a replayed batch is NOT collapsed by any
    * read-side distinct-key construction the way the set-union-style
    * stores collapse theirs — an uncaught replay double-counts bins and
    * shifts every served quantile. The ledger provides exactly-once
    * batch admission, and the per-row
    * (batch id, fingerprint) tag closes the ledger-after-append crash
    * window ([[graft.operators.HistogramSketch.appendToStoreTagged]]).
    * Honest caveat, documented once here for the family: a FRESH
    * checkpoint over a GROWN source re-delivers earlier rows inside a
    * new batch (different fingerprint ⇒ admitted), which is correct
    * at-least-once SOURCE behavior — count-additive state surfaces it
    * where set stores hide it; resume from the checkpoint, don't
    * discard it.
    */
  def ingestHistStore(rows: DataFrame, groupCols: Seq[String],
                      valueCol: String, binWidth: Long, table: String,
                      checkpointDir: String,
                      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ledgeredIngestTagged(rows, table, checkpointDir, trigger) {
      (batch, batchId, fp) =>
        graft.operators.HistogramSketch.appendToStoreTagged(
          batch, groupCols, valueCol, binWidth, table, batchId, fp._2)
    }

  /** Streaming CORPUS ingest into the persisted IVF serving index — the
    * maintenance half of the q217 serving story: vectors stream in, each
    * micro-batch assigns ONLY its own
    * rows to cells against the FIXED centroids trained at
    * [[graft.operators.Similarity.initIvfStore]] time (O(batch) per
    * ingest, the store-family discipline) and appends under the store's
    * cell partitioning — so the serving index grows incrementally and
    * NEVER rebuilds, while every probe keeps its partition-pruned scan.
    * Cell assignment is per-row pure against the fixed centroids, so
    * the accumulated store is row-identical to a one-shot
    * `buildIvfStore` however the stream slices; a crash-window
    * double-append duplicates exact rows, which `ivfTopKStored`'s
    * candidate dedup collapses (set-union-style read side — the ledger
    * is waste-prevention here, not correctness-bearing). Quantizer
    * drift under a shifting corpus degrades cell BALANCE, not answers
    * (exact cosine re-ranks whatever the probed cells hold);
    * re-init + re-ingest is the rebalance path.
    */
  def ingestIvfCorpus(rows: DataFrame, idCol: String, vecCol: String,
                      table: String,
                      centroids: graft.operators.Similarity.IvfCentroids,
                      checkpointDir: String,
                      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    ledgeredIngest(rows, table, checkpointDir, trigger) { batch =>
      graft.operators.Similarity.appendToIvfStore(batch, idCol, vecCol,
        table, centroids)
    }

  /** The edge log paired with a distance store. */
  def distanceEdgeTable(table: String): String = table + "_edges"

  /** Streaming shortest-path distance maintenance: edge batches stream
    * in, and the store continuously holds the FIXPOINT hop distances
    * from a fixed seed set over the union of everything ingested so far
    * (the artifact that serves "how far is this node from the trusted
    * core" without a per-query BFS).
    * Fixpoint — not a round cap — is what makes the state
    * SLICING-INVARIANT: however the stream slices the edge list, the
    * fixpoint on the union graph is the same table, so the one-shot
    * oracle applies verbatim.
    *
    * Per batch: the new edges append to a src-bucketed edge log, then
    * [[graft.operators.Bfs.refreshDistances]] derives the initial
    * frontier from ONE relax pass of the BATCH against the prior
    * (O(batch)), runs the delta-frontier loop over the affected region
    * only, and appends JUST the improved (node, dist) rows to a
    * node-bucketed improvements log. The served table is the per-node
    * minimum over the log ([[graft.operators.Bfs.distancesFromStore]] —
    * exchange-free on the bucketed store side). Distances are monotone
    * non-increasing as the graph grows, so the min over appends IS the
    * fixpoint, and every crash window is safe by value: a replayed
    * batch finds no improvements (appends nothing), duplicate edge-log
    * rows are harmless to min-relaxation, and a double-appended
    * improvement row has an unchanged min. Both logs compact through
    * [[graft.sources.Sinks.rewriteStaged]] ([[compactDistanceStore]],
    * [[compactDistanceEdgeLog]]).
    */
  def ingestDistanceStore(edges: DataFrame, srcCol: String, dstCol: String,
                          seeds: DataFrame, table: String,
                          checkpointDir: String, buckets: Int = 8,
                          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    {
      val owner = edges.sparkSession
      ledgeredIngest(edges, table, checkpointDir, trigger) { batch =>
        val s = batch.sparkSession
        val edgeLog = distanceEdgeTable(table)
        val be = batch.select(col(srcCol), col(dstCol))
        // prior BEFORE this batch's improvements land (tables may not
        // exist yet on the first batch)
        val prior =
          if (s.catalog.tableExists(table))
            graft.operators.Bfs.distancesFromStore(s, table)
          else be.select(col(srcCol).as("node"), lit(0L).as("dist")).limit(0)
        pt("dist edge append")(be.write.mode("append").format("parquet")
          .bucketBy(buckets, srcCol).sortBy(srcCol).saveAsTable(edgeLog))
        // the edge log is a second owner-visible table this family
        // appends beyond the (table, ledger) pair the shared core
        // refreshes — keep the owner's listing of it fresh too
        owner.catalog.refreshTable(edgeLog)
        pt("dist refresh+write")(graft.operators.Bfs.refreshDistances(
          s.table(edgeLog), srcCol, dstCol, be, seeds, prior) { improved =>
          improved.write.mode("append").format("parquet")
            .bucketBy(buckets, "node").sortBy("node").saveAsTable(table)
        })
      }
    }

  /** COLLAPSING compaction for the distance store: rewrite the
    * improvements log to its per-node minimum — one row per node, the
    * current fixpoint — through [[graft.sources.Sinks.rewriteStaged]]
    * (bucket spec preserved, one file per bucket). Unlike the
    * rewrite-in-place compactions, this one SHRINKS state: the log grows
    * by one row per improvement (a node can improve once per graph growth
    * step), and the collapse resets it to node count. Served reads are
    * unchanged (min of a min-collapsed log is the same min).
    */
  def compactDistanceStore(spark: org.apache.spark.sql.SparkSession,
                           table: String): Unit =
    graft.sources.Sinks.rewriteStaged(spark, table,
      graft.operators.Bfs.distancesFromStore(spark, table))

  /** Dedup compaction for the distance store's EDGE log: the log
    * appends every batch's edges forever, and while duplicate edges
    * are harmless to min-relaxation (the correctness argument), they
    * are pure waste at re-relax time — every delta-frontier round
    * scans the log, so an R-times-replayed edge costs R× forever.
    * Collapsing to DISTINCT keeps the log edge-set-bounded; served
    * reads and future ingests are unchanged by construction (relax
    * over a multiset of edges ≡ relax over its support).
    */
  def compactDistanceEdgeLog(spark: org.apache.spark.sql.SparkSession,
                             table: String): Unit = {
    val edgeLog = distanceEdgeTable(table)
    graft.sources.Sinks.rewriteStaged(spark, edgeLog, spark.table(edgeLog).distinct())
  }

  /** STREAMING minimum-spanning-forest ingest — the store family whose
    * state is NODE-BOUNDED no matter how many edges
    * ever arrive: each micro-batch folds into the current forest via
    * [[graft.operators.Mst.mergeBatch]] (MSF(E₁∪E₂) = MSF(MSF(E₁)∪E₂),
    * the sparsification lemma — so the store always equals the one-shot
    * forest over everything ingested, however the stream sliced it) and
    * appends the NEW forest as a snapshot tagged with its batch id.
    *
    * Unlike the append-only-log families, forest edges can be
    * EVICTED by later batches (a lighter edge makes an old one
    * cycle-heaviest), so the state is snapshot-VERSIONED rather than
    * log-folded: the served read ([[mstForestFromStore]]) returns the
    * snapshot of the highest batch id the LEDGER has committed. That
    * makes every crash window safe: a crash between the snapshot append
    * and the ledger commit leaves the previous snapshot served (the
    * half-written one is invisible to readers), and the restart replay
    * re-merges the batch — idempotent BY VALUE (MSF(F∪B) = F once B is
    * folded) — re-appending identical rows that the read-side DISTINCT
    * collapses (a partial earlier append is a subset of the same rows).
    * The latest committed snapshot id loads ONCE per started query and
    * lives in the closure (the committed-map discipline); the
    * fresh-checkpoint-over-a-regrown-source caveat is the family's
    * documented one. [[compactMstStore]] drops superseded snapshots —
    * state shrinks back to one forest.
    *
    * Plan note: the prior snapshot is read from the store table and the
    * result appends to the SAME table in one batch body — safe because
    * [[graft.operators.Mst.mergeBatch]]'s fixpoint loop rebases every
    * round on cached RDD leaves, so the written frame's plan is a
    * LogicalRDD with no live scan of the table (the
    * Bfs.refreshDistances firewall).
    */
  def ingestMstStore(edges: DataFrame, srcCol: String, dstCol: String,
                     wCol: String, table: String, checkpointDir: String,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    var lastSnap: Long = -1L
    var loaded = false
    ledgeredIngestTagged(edges, table, checkpointDir, trigger) {
      (batch, batchId, _) =>
        val s = batch.sparkSession
        if (!loaded) {
          val ledger = ledgerTable(table)
          lastSnap =
            if (s.catalog.tableExists(ledger)) {
              val r = s.table(ledger).agg(max(col("batch_id"))).head()
              if (r.isNullAt(0)) -1L else r.getLong(0)
            } else -1L
          loaded = true
        }
        val prior =
          if (lastSnap >= 0 && s.catalog.tableExists(table))
            s.table(table).filter(col("snap") === lastSnap)
              .select(col("u"), col("v"), col("w")).distinct()
          else
            batch.select(col(srcCol).as("u"), col(dstCol).as("v"),
              col(wCol).cast("long").as("w")).limit(0)
        graft.operators.Mst.mergeBatch(prior, batch, srcCol, dstCol, wCol)
          .withColumn("snap", lit(batchId))
          .write.mode("append").format("parquet").saveAsTable(table)
        lastSnap = batchId
    }
  }

  /** Served read for [[ingestMstStore]]: the forest snapshot of the
    * highest LEDGER-committed batch id (a snapshot whose ledger row
    * never landed is invisible — see the crash-window argument on the
    * ingest); DISTINCT collapses a crash-window double-append.
    */
  def mstForestFromStore(spark: org.apache.spark.sql.SparkSession,
                         table: String): DataFrame = {
    val ledger = ledgerTable(table)
    val last = spark.table(ledger).agg(max(col("batch_id"))).head()
    require(!last.isNullAt(0), s"'$table' has no committed snapshot")
    spark.table(table).filter(col("snap") === last.getLong(0))
      .select(col("u"), col("v"), col("w")).distinct()
  }

  /** Drop superseded snapshots: rewrite the store to the latest
    * committed snapshot only (tag preserved, so reads and later ingests
    * are unchanged).
    */
  def compactMstStore(spark: org.apache.spark.sql.SparkSession,
                      table: String): Unit = {
    val last = spark.table(ledgerTable(table))
      .agg(max(col("batch_id"))).head().getLong(0)
    graft.sources.Sinks.rewriteStaged(spark, table,
      spark.table(table).filter(col("snap") === last).distinct())
  }

  /** The tail-state table paired with a skip-gram or session store. */
  def tailsTable(table: String): String = table + "_tails"

  /** The committed state of a (batch id, fingerprint)-tagged log of the
    * store `table`: its DISTINCT rows whose tag the LEDGER has committed,
    * so a crash-window append whose ledger row never landed is invisible
    * and a replay's duplicate rows collapse. `users` keeps only those
    * `__user`s; a non-empty `latest` keeps each `__user`'s first `keep`
    * rows under that ordering. The one read of committed prior state for
    * the skip-gram and session stores' ingests, serves and tail
    * compactions — they reuse it and never recompute history.
    */
  private def committedLog(spark: org.apache.spark.sql.SparkSession,
                           table: String, log: String,
                           users: Option[DataFrame] = None,
                           latest: Seq[Column] = Nil, keep: Int = 1): DataFrame = {
    val committed = spark.table(ledgerTable(table))
      .select(col("batch_id").as("__b"), col("fp").as("__f"))
    val rows = spark.table(log).distinct()
      .join(committed, col("__batch") === col("__b") &&
        col("__fp") === col("__f"), "left_semi")
    val scoped = users.fold(rows)(rows.join(_, Seq("__user"), "left_semi"))
    if (latest.isEmpty) scoped
    else scoped
      .withColumn("__tr", row_number().over(Window
        .partitionBy(col("__user")).orderBy(latest: _*)))
      .filter(col("__tr") <= keep)
      .drop("__tr")
  }

  /** A skip-gram tail's latest-first order: its last `window` events. */
  private val SkipGramLatest = Seq(col("__rn").desc)

  /** A session tail's latest-first order: its open session. */
  private val SessionLatest =
    Seq(col("__sid").desc, col("__last").desc, col("__ltie").desc)

  /** The ingest both tailed families (skip-gram, session) share: a
    * [[ledgeredIngestTagged]] whose batch body first
    *   1. fails loudly on the missing-tails crash state: a committed
    *      ledger with NO tails table is the drop-to-rename window of a
    *      crashed tail compaction, and treating it as a first run would
    *      silently `loss`; the compacted rewrite survives under the
    *      staged name;
    *   2. reads each arriving user's COMMITTED tail (`tailCols`, the
    *      first `keep` rows under `latest`) and rebases it on a cached
    *      RDD leaf — the tails table is appended below, and an
    *      un-materialized read would be invalidated mid-flight (the
    *      refreshDistances discipline);
    *   3. enforces the order-contiguity contract: every batch user with a
    *      committed tail must START strictly after that tail's last
    *      (order, tie) event, which `tailLast` gives per `__user` as
    *      `__tmax` — otherwise the incremental ranks or gaps are silently
    *      not the one-shot ones. Nothing is appended on failure;
    * then runs the family's own `extend(batch, tails, batchId, fp)`, and
    * stamps `prop` when the tails table is created, so maintainStore reads
    * the family parameter off the table. The tails table is a third
    * owner-visible table beyond the (table, ledger) pair the shared core
    * refreshes, so the owner's listing of it is refreshed here.
    */
  private def ingestTailed(events: DataFrame, userCol: String,
                           orderCol: Column, tieCol: Column,
                           table: String, checkpointDir: String, trigger: Trigger,
                           family: String, loss: String, prop: (String, String),
                           tailCols: Seq[(String, Column)], latest: Seq[Column],
                           keep: Int, offendersLabel: String,
                           tailLast: DataFrame => DataFrame)
                          (extend: (DataFrame, DataFrame, Long, (Long, Long)) => Unit): StreamingQuery = {
    val owner = events.sparkSession
    ledgeredIngestTagged(events, table, checkpointDir, trigger) {
      (batch, batchId, fp) =>
        val s = batch.sparkSession
        val tails = tailsTable(table)
        val ledger = ledgerTable(table)
        val tailsExists = s.catalog.tableExists(tails)
        val ledgerExists = s.catalog.tableExists(ledger)
        if (ledgerExists && !tailsExists && !s.table(ledger).limit(1).isEmpty)
          throw new IllegalStateException(
            s"$family store '$table' has committed ledger rows but the tails table " +
              s"'$tails' is missing — a compaction crashed between its swap steps. Recover " +
              s"the staged '${graft.sources.Sinks.stageName(tails)}' table (ALTER TABLE " +
              s"RENAME it to '$tails') before ingesting; proceeding would silently $loss")
        val tailsBase =
          if (tailsExists && ledgerExists)
            committedLog(s, table, tails,
              Some(batch.select(col(userCol).as("__user")).distinct()), latest, keep)
              .select(tailCols.map(c => col(c._1)): _*)
          else
            batch.select(tailCols.map { case (n, c) => c.as(n) }: _*).limit(0)
        val tRdd = tailsBase.rdd
        tRdd.cache()
        val nTails = pt("tails cache+count")(tRdd.count())
        val tailsNow = s.createDataFrame(tRdd, tailsBase.schema)
        try {
          // no committed tail for any batch user (always true on the
          // first batch) ⇒ the inner join below is empty by construction
          // — skip the whole offender action
          val offenders = if (nTails == 0L) Array.empty[Any]
          else pt(offendersLabel)(batch
            .groupBy(col(userCol).as("__user"))
            .agg(min(struct(orderCol.as("o"), tieCol.as("t"))).as("__bmin"))
            .join(tailLast(tailsNow), Seq("__user"))
            .filter(col("__bmin") <= col("__tmax"))
            .select(col("__user")).limit(5).collect().map(_.get(0)))
          if (offenders.nonEmpty)
            throw new IllegalStateException(
              s"out-of-order micro-batch for user(s) ${offenders.mkString(", ")} in $family " +
                s"store '$table': a batch must be per-user order-contiguous — its (order, tie) " +
                "range must strictly extend the committed tail. Nothing was appended; fix the " +
                "slicing (arrival-ordered sources satisfy this by construction) and re-ingest")
          extend(batch, tailsNow, batchId, fp)
          if (!tailsExists)
            s.sql(s"ALTER TABLE `$tails` SET TBLPROPERTIES ('${prop._1}'='${prop._2}')")
          owner.catalog.refreshTable(tails)
        } finally tRdd.unpersist()
    }
  }

  /** Streaming skip-gram co-occurrence ingest — a store family whose
    * per-key state is a sliding WINDOW of the stream rather than a set, a
    * min, or a snapshot: the item2vec pair statistic
    * ([[graft.ops.Sequences.skipGramPairs]]) accumulates while events
    * arrive, without ever re-ranking history.
    *
    * Per batch (all O(batch) — the store-family discipline):
    *   1. read each arriving user's COMMITTED tail (their last `window`
    *      events with their global per-user ranks) through
    *      [[ingestTailed]];
    *   2. extend ranks: a user's next events continue from the tail's max
    *      rank, so incremental ranks equal the one-shot row_number;
    *   3. count the NEW pairs — exactly those whose destination is in
    *      this batch; the source is either in the batch or in the tail,
    *      which covers every rank back to dst−window by construction;
    *   4. append pair counts to the store and the batch's own per-user
    *      last-`window` events to the tail log, both tagged
    *      (batch id, fingerprint).
    *
    * Crash windows: counts are COUNT-ADDITIVE (the histogram-family
    * hazard), so BOTH logs admit rows only when their tag is
    * LEDGER-committed ([[committedLog]]) — an append whose ledger row
    * never landed is invisible to serves AND to later batches' tail
    * reads, the replay recomputes the identical rows (same committed
    * state, same batch content ⇒ same tag), and one DISTINCT collapses
    * the duplicates.
    * Contract: micro-batches must be per-user order-contiguous in
    * (orderCol, tieCol) — an event stream sliced by arrival satisfies
    * this by construction; the ranks (and therefore the gaps) of an
    * out-of-order slicing would not be the one-shot ranks. The contract
    * is ENFORCED at ingest, not just documented: the tail keeps each
    * event's (order, tie) values alongside its rank, and a batch whose
    * per-user minimum (order, tie) does not strictly extend that user's
    * committed tail maximum fails loudly BEFORE anything is appended.
    *
    * State bounds: the tail log grows by at most window·users(batch) rows
    * per batch and [[compactSkipGramTails]] resets it to window·users
    * total; the pair store grows by at most types²·window per batch and
    * is already aggregated (no per-event rows are ever stored).
    */
  def ingestSkipGramStore(events: DataFrame, userCol: String,
                          typeCol: String, orderCol: Column,
                          tieCol: Column, window: Int,
                          table: String, checkpointDir: String,
                          trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(window >= 1, "window must be >= 1")
    ingestTailed(events, userCol, orderCol, tieCol, table, checkpointDir, trigger,
      "skip-gram", "rebase every user's ranks at 0",
      StoreMaintenance.SkipGramWindowProp -> window.toString,
      Seq("__user" -> col(userCol), "__rn" -> lit(0L), "__type" -> col(typeCol),
        "__ord" -> orderCol, "__tie" -> tieCol),
      SkipGramLatest, window, "sg offenders collect",
      _.groupBy(col("__user"))
        .agg(max(struct(col("__ord").as("o"), col("__tie").as("t"))).as("__tmax"))) {
      (batch, tailsNow, batchId, fp) =>
        val s = batch.sparkSession
        val baseRanks = tailsNow.groupBy(col("__user"))
          .agg(max(col("__rn")).as("__base"))
        val ranked0 = batch
          .withColumn("__loc", row_number().over(Window
            .partitionBy(col(userCol)).orderBy(orderCol, tieCol)).cast("long"))
          .select(col(userCol).as("__user"), col("__loc"),
            col(typeCol).as("__type"), orderCol.as("__ord"),
            tieCol.as("__tie"))
          .join(baseRanks, Seq("__user"), "left")
          .select(col("__user"),
            (coalesce(col("__base"), lit(0L)) + col("__loc")).as("__rn"),
            col("__type"), col("__ord"), col("__tie"))
        val rRdd = ranked0.rdd
        pt("sg ranked cache+count"){ rRdd.cache(); rRdd.count() }
        val ranked = s.createDataFrame(rRdd, ranked0.schema)
        try {
          val srcs = tailsNow.unionByName(ranked)
          val pairs = srcs.as("a").join(ranked.as("b"),
              col("a.__user") === col("b.__user") &&
              col("b.__rn") > col("a.__rn") &&
              col("b.__rn") <= col("a.__rn") + window)
            .select(col("a.__type").as("src_type"),
              col("b.__type").as("dst_type"),
              (col("b.__rn") - col("a.__rn")).as("gap"))
            .groupBy(col("src_type"), col("dst_type"), col("gap"))
            .agg(count(lit(1)).as("n_pairs"))
            .withColumn("__batch", lit(batchId))
            .withColumn("__fp", lit(fp._2))
          pt("sg pairs write")(pairs.write.mode("append").format("parquet").saveAsTable(table))
          val newTails = ranked
            .withColumn("__tr", row_number().over(Window
              .partitionBy(col("__user")).orderBy(SkipGramLatest: _*)))
            .filter(col("__tr") <= window)
            .select(col("__user"), col("__rn"), col("__type"),
              col("__ord"), col("__tie"))
            .withColumn("__batch", lit(batchId))
            .withColumn("__fp", lit(fp._2))
          pt("sg newTails write")(newTails.write.mode("append").format("parquet")
            .saveAsTable(tailsTable(table)))
        } finally rRdd.unpersist()
    }
  }

  /** Served read for [[ingestSkipGramStore]]: committed-and-distinct pair
    * appends folded by addition — row-identical to the one-shot
    * [[graft.ops.Sequences.skipGramPairs]] over everything ingested.
    */
  def skipGramFromStore(spark: org.apache.spark.sql.SparkSession,
                        table: String): DataFrame =
    committedLog(spark, table, table)
      .groupBy(col("src_type"), col("dst_type"), col("gap"))
      .agg(sum(col("n_pairs")).as("n_pairs"))

  /** Collapse the tail log to each user's current committed window — the
    * log grows by one row per (batch, active user) and this resets it to
    * window·users. Tags are preserved on the surviving rows, so served
    * reads and later ingests are unchanged; uncommitted crash-window
    * residue is dropped (its batch will replay from committed state
    * anyway).
    */
  def compactSkipGramTails(spark: org.apache.spark.sql.SparkSession,
                           table: String, window: Int): Unit =
    graft.sources.Sinks.rewriteStaged(spark, tailsTable(table),
      committedLog(spark, table, tailsTable(table), latest = SkipGramLatest, keep = window))

  /** Streaming sessionization ingest — a store family whose per-key state
    * is an OPEN INTERVAL of the stream: the gaps-and-islands session
    * table ([[graft.ops.TimeSeries.sessionTable]]) accumulates while
    * events arrive, closing a session the moment a later event proves
    * the gap and never re-scanning history.
    *
    * Per batch (all O(batch) — the store-family discipline):
    *   1. read each arriving user's COMMITTED tail (their single open
    *      session: index, start, last-event order/tie, event count)
    *      through [[ingestTailed]];
    *   2. extend sessions: the batch's first per-user event either
    *      continues the tail session (gap ≤ `gapUs`) or opens index+1;
    *      within the batch, session indices are the tail index plus a
    *      running is-new sum — so incremental indices equal the one-shot
    *      window's row-for-row;
    *   3. sessions the batch proves CLOSED — every batch session below
    *      the user's max, plus a tail session the batch's first event
    *      broke away from — append to the store as complete rows; the
    *      per-user max session becomes the new tail;
    *   4. both appends are tagged (batch id, fingerprint).
    *
    * Crash windows: closed-session rows are complete facts but a replay
    * re-appends them, so BOTH logs admit rows only when their tag is
    * LEDGER-committed ([[committedLog]]) — an append whose ledger row
    * never landed is invisible to serves AND to later batches' tail
    * reads, the replay recomputes identical rows, and one DISTINCT
    * collapses duplicates.
    * Contract: micro-batches must be per-user order-contiguous in
    * (orderCol, tieCol) — ENFORCED, not documented: the gap to the tail's
    * last event is part of the answer, so a batch whose per-user minimum
    * does not strictly extend the committed tail's last event fails
    * loudly before anything is appended (an arrival-ordered source
    * satisfies it by construction).
    *
    * State bounds: the tail log grows by one row per (batch, active
    * user) and [[compactSessionTails]] resets it to one row per user;
    * the store holds closed sessions — output, not state.
    * `orderCol` must be an integral microsecond timestamp.
    */
  def ingestSessionStore(events: DataFrame, userCol: String,
                         orderCol: Column, tieCol: Column, gapUs: Long,
                         table: String, checkpointDir: String,
                         trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(gapUs >= 1L, "gapUs must be >= 1")
    ingestTailed(events, userCol, orderCol, tieCol, table, checkpointDir, trigger,
      "session", "restart every user's sessions at 0",
      StoreMaintenance.SessionGapProp -> gapUs.toString,
      Seq("__user" -> col(userCol), "__sid" -> lit(0L), "__start" -> orderCol,
        "__last" -> orderCol, "__ltie" -> tieCol, "__n" -> lit(0L)),
      SessionLatest, 1, "offenders collect",
      _.select(col("__user"),
        struct(col("__last").as("o"), col("__ltie").as("t")).as("__tmax"))) {
      (batch, tailsNow, batchId, fp) =>
        val s = batch.sparkSession
        val w = Window.partitionBy(col("__user")).orderBy(col("__ord"), col("__tie"))
        val ev = batch
          .select(col(userCol).as("__user"), orderCol.as("__ord"), tieCol.as("__tie"))
          .join(tailsNow.select(col("__user"), col("__sid").as("__tsid"),
            col("__start").as("__tstart"), col("__last").as("__tlast"),
            col("__n").as("__tn")), Seq("__user"), "left")
        val prev = lag(col("__ord"), 1).over(w)
        val isNew = when(prev.isNotNull,
            when(col("__ord") - prev > gapUs, 1L).otherwise(0L))
          .otherwise(when(col("__tlast").isNull, 1L)
            .otherwise(when(col("__ord") - col("__tlast") > gapUs, 1L).otherwise(0L)))
        val sess0 = ev.withColumn("__new", isNew)
          .withColumn("__sid", coalesce(col("__tsid"), lit(0L)) + sum(col("__new"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val agg = sess0.groupBy(col("__user"), col("__sid"))
          .agg(count(lit(1)).as("__bn"), min(col("__ord")).as("__bstart"),
            max(struct(col("__ord").as("o"), col("__tie").as("t"))).as("__bend"),
            min(col("__tsid")).as("__xsid"), min(col("__tstart")).as("__xstart"),
            min(col("__tn")).as("__xn"))
        // a batch session carrying the tail's index CONTINUES it: the
        // session's true start and count fold the tail's in
        val full = agg.select(col("__user"), col("__sid"),
          when(col("__sid") === col("__xsid"), col("__xstart"))
            .otherwise(col("__bstart")).as("__start"),
          col("__bend").getField("o").as("__last"),
          col("__bend").getField("t").as("__ltie"),
          (when(col("__sid") === col("__xsid"), col("__xn")).otherwise(lit(0L))
            + col("__bn")).as("__n"))
        val marked0 = full.withColumn("__maxsid",
          max(col("__sid")).over(Window.partitionBy(col("__user"))))
        // rebase the per-(user, session) frame on ONE cached RDD leaf:
        // three consumers read it (closed rows, new tails, the
        // tail-closed min-sid probe), and without the leaf each write
        // re-ran the whole batch window chain and re-planned its full
        // tree — measured 1.9–2.9 s of the ~5 s per-batch body at
        // sf0.1. Session-count-sized rows, so the leaf is tiny.
        val mRdd = marked0.rdd
        mRdd.cache(); mRdd.count()
        val marked = s.createDataFrame(mRdd, marked0.schema)
        try {
          // closed = batch sessions below the user's max, plus a tail
          // session the batch's first event broke away from (it never
          // appears among the batch's session indices). The min over the
          // grouped (user, session) rows equals the min over sess0's raw
          // event rows — grouping preserves each user's session-id set.
          val minSid = marked.groupBy(col("__user")).agg(min(col("__sid")).as("__minsid"))
          val tailClosed = tailsNow.join(minSid, Seq("__user"))
            .filter(col("__sid") < col("__minsid"))
            .select(col("__user"), col("__sid"), col("__start"),
              col("__last").as("__end"), col("__n"))
          val closed = marked.filter(col("__sid") < col("__maxsid"))
            .select(col("__user"), col("__sid"), col("__start"),
              col("__last").as("__end"), col("__n"))
            .unionByName(tailClosed)
            .select(col("__user").as("user_id"), col("__sid").as("session_idx"),
              col("__start").as("start_us"), col("__end").as("end_us"),
              col("__n").as("n_events"))
            .withColumn("__batch", lit(batchId))
            .withColumn("__fp", lit(fp._2))
          pt("closed write")(closed.write.mode("append").format("parquet").saveAsTable(table))
          val newTails = marked.filter(col("__sid") === col("__maxsid"))
            .select(col("__user"), col("__sid"), col("__start"),
              col("__last"), col("__ltie"), col("__n"))
            .withColumn("__batch", lit(batchId))
            .withColumn("__fp", lit(fp._2))
          pt("newTails write")(newTails.write.mode("append").format("parquet")
            .saveAsTable(tailsTable(table)))
        } finally mRdd.unpersist()
    }
  }

  /** Served read for [[ingestSessionStore]]: committed-and-distinct
    * closed sessions plus each user's latest committed OPEN session —
    * row-identical to the one-shot
    * [[graft.ops.TimeSeries.sessionTable]] over everything ingested.
    */
  def sessionsFromStore(spark: org.apache.spark.sql.SparkSession,
                        table: String): DataFrame = {
    val closed = committedLog(spark, table, table)
      .select(col("user_id"), col("session_idx"), col("start_us"),
        col("end_us"), col("n_events"))
    val open = committedLog(spark, table, tailsTable(table), latest = SessionLatest)
      .select(col("__user").as("user_id"), col("__sid").as("session_idx"),
        col("__start").as("start_us"), col("__last").as("end_us"),
        col("__n").as("n_events"))
    closed.unionByName(open)
  }

  /** Collapse the session tail log to each user's latest committed open
    * session — the log grows by one row per (batch, active user) and
    * this resets it to one row per user. Tags preserved; uncommitted
    * crash-window residue dropped (its batch replays from committed
    * state).
    */
  def compactSessionTails(spark: org.apache.spark.sql.SparkSession,
                          table: String): Unit =
    graft.sources.Sinks.rewriteStaged(spark, tailsTable(table),
      committedLog(spark, table, tailsTable(table), latest = SessionLatest))

  /** Streaming k-NN SERVING: query vectors stream in, each micro-batch
    * probes a PERSISTED cell-partitioned IVF store
    * ([[graft.operators.Similarity.buildIvfStore]], built ONCE here at
    * query start — the index-build work), and the answers append to a
    * results log — the inference-serving shape of a feature pipeline,
    * where q193 was the index-BUILD shape. Per-batch cost is
    * O(|batch| + rows in the probed nprobe cells): the store scan is
    * partition-pruned at the catalog and the centroid sidecar loads
    * once per started query (the committed-map discipline) — the
    * corpus-wide cell assignment is NEVER re-derived inside the serving
    * loop (the round-14 plan defect: `ivfTopK(corpus, batch, ...)` per
    * batch re-assigned the whole corpus per micro-batch). The stored
    * answers are bit-identical to the inline `ivfTopK` (same
    * deterministic centroid draw, exact cosine over full stored
    * vectors — spec-pinned), so the one-shot oracle applies verbatim.
    *
    * Per-query answers are pure functions of (query, corpus) —
    * independent of how the stream slices and of every other query — so
    * the results log is replay-idempotent BY ROW VALUE: a crash-window
    * double-append duplicates exact rows, and the reader's distinct
    * collapses them (read results with `spark.table(table).distinct()`).
    */
  def ingestKnnResults(queries: DataFrame, corpus: DataFrame,
                       idCol: String, vecCol: String, table: String,
                       checkpointDir: String, k: Int, nlist: Int,
                       nprobe: Int,
                       trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.operators.Similarity
    val ivfTable = table + "_ivf"
    Similarity.buildIvfStore(corpus, idCol, vecCol, ivfTable, nlist = nlist)
    // nlist-row driver state, loaded on the first batch of this run and
    // held in the closure afterwards (foreachBatch bodies run serially)
    var cents: Similarity.IvfCentroids = null
    ledgeredIngest(queries, table, checkpointDir, trigger) { batch =>
      val s = batch.sparkSession
      if (cents == null) cents = Similarity.loadIvfCentroids(s, ivfTable)
      Similarity.ivfTopKStored(s, ivfTable, cents, batch, idCol, vecCol,
          k = k, nprobe = nprobe)
        .write.mode("append").format("parquet").saveAsTable(table)
    }
  }
}
