package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** §2.9 Structured Streaming wrappers (T1–T5). The reference is
  * batch-only; these give its aggregation semantics a streaming form.
  *
  * Each transform takes ANY events-shaped frame (`ts timestamp, user_id
  * long, event_type string, event_id long, value double`) — static or
  * streaming — and returns the transformed frame. On a streaming input
  * the same expressions run incrementally with watermark-bounded state;
  * on a static input they equal the batch analogs in
  * `graft.ops.StreamQueries`, which is exactly how they're tested
  * (StreamingSpec runs both through MemoryStream and compares).
  *
  * Scale notes: state is keyed by (window, event_type) / (user, session) —
  * partitioned by key across executors; the watermark bounds state size,
  * which is what makes 100 TB/day streams feasible.
  */
object StreamRunner {

  /** T1+T4: watermarked tumbling-window counts. */
  def tumblingCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"))

  /** T2: sliding-window counts (1 hour every 30 minutes). */
  def slidingCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("cnt"))

  /** T3: session windows (30-minute gap) per user. */
  def sessionCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming daily actives — the streaming form of the incremental
    * distinct tier (`incr_distinct` / `rolling_wau`): per-day DISTINCT
    * users maintained by the HLL++ sketch INSIDE the streaming state
    * store (`approx_count_distinct` is an incremental aggregate, so
    * each micro-batch folds into fixed-size per-window state — exact
    * distinct would grow state by every key ever seen, which the
    * watermark could never bound). StreamingSpec pins stream ≡ static. */
  def dailyActives(events: DataFrame,
      watermark: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("active_users"))
      .select(col("window.start").as("day"), col("active_users"))

  /** T5: watermarked stateful dedup on event_id. */
  def dedupEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates("event_id")

  /** X2 in-flight: streaming NEAR-dup filter for a document stream —
    * continuous-ingestion dedup for a training-data pipeline, where
    * re-crawled boilerplate should be dropped before it ever lands.
    *
    * Per-row MinHash signature (`array_min` over `transform` — the same
    * shuffle-free expressions as `DedupQueries.minhashSignaturesFast`, a
    * narrow map fused into the source scan, so the ONLY stateful node is
    * the dedup itself), one LSH band key over `bandRows` signature rows,
    * then `dropDuplicatesWithinWatermark` on that key: first-seen doc
    * passes, later band-colliders are dropped while their key is inside
    * the watermark horizon — which also bounds the state store, the
    * unbounded-stream feasibility condition.
    *
    * Approximation semantics (documented, not hidden): one band catches
    * a near-dup pair of Jaccard s with probability s^bandRows (s=0.9,
    * r=2 → 81%; exact dups always collide). Batch-side `dedup_cluster`
    * remains the exhaustive form; production recall stacks by running b
    * band-keyed passes (the batch S-curve math in `minhashWidthFor`).
    * The window the watermark sets is the dedup horizon — re-crawls
    * separated by more than it intentionally pass (corpus refresh).
    *
    * NULL/empty text carries no dup evidence, and dropDuplicates treats
    * NULL keys as equal — without the split below, every null-text doc
    * after the first would be silently discarded. Such docs bypass the
    * dedup state entirely (union of two filters on one source — no
    * extra scan of a streaming source).
    *
    * `tokens` is the token unit (default word unigrams, same caveat as
    * the batch path: pass shingles on small-vocabulary corpora —
    * `DedupQueries.unigramTokens` doc, `AutoWidthSpec`). */
  def nearDupFilter(docs: DataFrame, watermark: String = "1 hour",
      bandRows: Int = 2,
      tokens: Column = graft.ops.DedupQueries.unigramTokens): DataFrame = {
    val hasText = col("text").isNotNull && trim(col("text")) =!= ""
    val deduped = docs.filter(hasText)
      .withColumn("band_key",
        graft.ops.DedupQueries.lshBandKey(tokens, bandRows))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("band_key")
      .drop("band_key")
    deduped.unionByName(docs.filter(!hasText))
  }

  /** §3 lifecycle in streaming form: CONTINUOUS clean→load. The
    * reference's update loop is a periodic batch download→clean→load; at
    * 100 TB/day the same contract runs as a file stream — raw text lands,
    * every micro-batch is width-checked, scrubbed, typed, and appended to
    * the typed table, with rejects routed to the error side-channel.
    * Clean.clean and Load.load are pure narrow projections, so the
    * streaming plan is STATELESS — no watermark, no state store, nothing
    * buffered; exactly-once delivery comes from the file sink's commit
    * log (FileSinkSpec). Returns (typed stream, bad-row side-channel
    * stream); both work identically on a static frame, which is how
    * StreamingSpec cross-checks them against the batch path. */
  def cleanLoadStream(table: graft.schemas.Schemas.TableDef,
      lines: DataFrame): (DataFrame, DataFrame) = {
    val cleaned = graft.ingest.Clean.clean(table, lines)
    (graft.ingest.Load.load(table, cleaned.good), cleaned.bad)
  }

  /** The COMPOSED exactly-once incremental refresh — the streaming form
    * of the `incr_pipeline` / `warehouse_refresh` lifecycle, wiring the
    * incremental tier's three gates into one per-micro-batch body:
    *
    *   1. BLOOM DEDUP (the `dedup_bloom` discipline): each batch row's
    *      dedup key probes a driver-broadcast bit array over the
    *      history; only bloom-POSITIVES (true redeliveries + ~fpp false
    *      positives) pay the exact anti-join against the history keys,
    *      so redelivered rows are dropped exactly (no false negatives —
    *      Bloom guarantee) and fresh rows never re-join history at
    *      batch width.
    *   2. DQ GATE (the `constraint_check` discipline): the caller's
    *      constraint suite runs on the surviving rows; the AND-of-`ok`
    *      verdict is a bounded |constraints|-row driver read and rides
    *      every emitted partial as `gate_ok` — publish stays a read-time
    *      decision, a dirty batch is visible, never silently merged.
    *   3. ALGEBRAIC PARTIALS (the `incr_agg` discipline): the batch
    *      reduces to per-group mergeable state via the caller's
    *      `partial`; merged state ⊎ history ≡ full recompute.
    *
    * EXACTLY-ONCE comes from idempotent re-execution, the foreachBatch
    * contract: partials land in a `batch_id=<id>` partition directory
    * with DYNAMIC partition overwrite, so a batch replayed after a
    * crash/restart (same checkpoint → same batch id over the same
    * offsets) OVERWRITES ITS OWN partition instead of appending a
    * second copy — no double count, pinned by the restart test in
    * `IncrPipelineSpec`. Reading the state is one scan of the partition
    * tree + the |groups|-sized merge.
    *
    * `typedDelta` is any streaming frame of typed rows — compose with
    * [[cleanLoadStream]] for the full lines→clean→load→refresh path.
    * `historyKeys` must be the single dedup-key column of the history
    * (bounded columns move: the bloom's bits broadcast, the key frame
    * joins only bloom-positives). */
  def incrRefreshStream(
      typedDelta: DataFrame,
      historyBloom: Array[Byte],
      historyKeys: DataFrame,
      keyExpr: Column,
      partial: DataFrame => DataFrame,
      gate: DataFrame => DataFrame,
      stateDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    typedDelta.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        refreshBatch(batch, batchId, historyBloom, historyKeys, keyExpr,
          partial, gate, stateDir)
      }
      .start()

  /** The per-batch body of [[incrRefreshStream]], factored out so the
    * exactly-once mechanism is DIRECTLY testable: running the same
    * `batchId` twice (the crash-replay case — a batch re-executed
    * against the same checkpointed offsets) must leave exactly ONE copy
    * of that batch's partials in the state, because the write
    * dynamically overwrites only its own `batch_id` partition
    * (IncrPipelineSpec replays it verbatim and asserts the totals). */
  def refreshBatch(batch: DataFrame, batchId: Long,
      historyBloom: Array[Byte], historyKeys: DataFrame, keyExpr: Column,
      partial: DataFrame => DataFrame, gate: DataFrame => DataFrame,
      stateDir: String): Unit = {
    val hk = historyKeys.toDF("_key").distinct()
    val probed = batch
      .withColumn("_key", keyExpr)
      .withColumn("_maybe", coalesce(
        graft.functions.BloomProbe.mightContain(historyBloom,
          xxhash64(col("_key"))), lit(false)))
    val fresh = probed.filter(!col("_maybe"))
      .unionByName(
        probed.filter(col("_maybe")).join(hk, Seq("_key"), "left_anti"))
      .drop("_maybe", "_key")
    // two actions consume `fresh` (gate verdict, partial write) — cache
    // so the dedup's probe + anti-join runs ONCE per batch, not per
    // action; unpersist before returning so state never outlives the
    // batch
    fresh.persist()
    try {
      // a gate returning ZERO rows (e.g. a filter-shaped report on a
      // clean batch) asserts nothing → vacuously passes; the coalesce
      // keeps the NULL sum from poisoning the verdict read
      val gateOk = gate(fresh)
        .agg((coalesce(sum(when(col("ok"), 0).otherwise(1)), lit(0L))
          === 0).as("g"))
        .head().getBoolean(0)
      partial(fresh)
        .withColumn("gate_ok", lit(gateOk))
        .withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(stateDir)
    } finally fresh.unpersist()
  }

  /** T7: stream-stream interval join — purchases matched to the same
    * user's clicks in the preceding 10 minutes. Both sides are
    * watermarked and the join condition carries the time bound, which is
    * what lets Spark EVICT joined state: a buffered click can only match
    * purchases within 10 minutes of event time, so once the purchase
    * watermark passes c_ts + 10min the click row is dropped from the
    * state store. Without the range bound, stream-stream inner-join
    * state grows forever — the bound IS the 100 TB/day feasibility
    * condition. With `joinType = "leftOuter"` unmatched purchases also
    * emit (click columns null) — but only once the watermark proves no
    * matching click can still arrive, so null-emission lags by the
    * watermark delay and purchases newer than the horizon stay buffered
    * until the stream advances. On static inputs this equals the batch
    * `stream_join` query pre-aggregation, which is how StreamingSpec
    * cross-checks both forms. */
  def clicksBeforePurchase(clicks: DataFrame, purchases: DataFrame,
      watermark: String = "1 hour",
      interval: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val c = clicks
      .withWatermark("ts", watermark)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val p = purchases
      .withWatermark("ts", watermark)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    p.join(c,
      col("c_user") === col("user_id") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $interval") &&
        col("c_ts") < col("p_ts"),
      joinType)
  }

  /** Custom keyed state through `KeyValueGroupedDataset
    * .flatMapGroupsWithState` — the surface the built-in window aggs can't
    * express: an arbitrary per-key accumulator with explicit timeout-driven
    * eviction. Emits each user's updated running (count, value-total) on
    * every batch that touches the user; state for a user evicts one hour
    * of event time after their last event passes the watermark, so state
    * size stays bounded by the set of users active in the watermark
    * horizon — the property that keeps this runnable on an unbounded
    * stream. Works identically on a static Dataset (one batch, one update
    * per user), which is how the spec cross-checks it. */
  def runningUserTotals(events: Dataset[StreamRunner.UserEvent],
      watermark: String = "1 hour"): Dataset[StreamRunner.UserTotals] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, evs: Iterator[StreamRunner.UserEvent],
            state: GroupState[StreamRunner.UserTotals]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption
              .getOrElse(StreamRunner.UserTotals(uid, 0L, 0.0))
            var n = prev.n_events
            var tot = prev.total_value
            var maxTs = Long.MinValue
            evs.foreach { e =>
              n += 1; tot += e.value
              maxTs = math.max(maxTs, e.ts.getTime)
            }
            val next = StreamRunner.UserTotals(uid, n, tot)
            state.update(next)
            if (maxTs > Long.MinValue)
              state.setTimeoutTimestamp(maxTs + 3600000L)
            Iterator.single(next)
          }
        })
  }

  /** The streaming form of W1 latest-amendment-wins (the reference's
    * single most documented consumption pattern, as an always-current
    * VIEW): each micro-batch of typed amendment rows updates a per-key
    * winner, and the new winner is emitted whenever it changes
    * (update-mode sink = an upserted "latest filings" table). Keys come
    * from the declared UNIQUE_KEY minus the amendment counter, exactly
    * like the batch `Load.latestAmendment` — on a static input the
    * emitted set IS the batch result, which is how StreamingSpec
    * cross-checks the two. Late/replayed amendments are handled by the
    * max-compare: an amendment older than the current winner updates
    * nothing and is emitted as the unchanged winner.
    *
    * Scale/state bound: ONE row per logical key — the same cardinality
    * as the batch output; no watermark needed because the state is the
    * product, not a buffer (the reference keeps the same "table of
    * latest filings" forever). Schema-generic via `Encoders.row`, so
    * any TableDef works without a case class per table. */
  def latestAmendmentStream(table: graft.schemas.Schemas.TableDef,
      typed: DataFrame, amendCol: String = "amend_id"): Dataset[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.{Encoders, Row}
    val keys = table.uniqueKey.filterNot(_ == amendCol)
    val schema = typed.schema
    val amendIdx = schema.fieldIndex(amendCol)
    implicit val rowEnc = Encoders.row(schema)
    implicit val keyStr = Encoders.STRING
    def amendOf(r: Row): Long =
      if (r.isNullAt(amendIdx)) Long.MinValue else r.getLong(amendIdx)
    // Injective composite-key encoding: each part is length-prefixed
    // ("<len>:<value>"), NULL → a bare "n". A separator-free concat
    // collapses ("A","BC") with ("AB","C"); a separator is still
    // ambiguous when a value contains it or when NULL renders as the
    // literal string "null". The length prefix is collision-free for
    // ANY values (StreamingSpec pins the collision pairs).
    def keyPart(v: Any): String =
      if (v == null) "n"
      else { val s = String.valueOf(v); s"${s.length}:$s" }
    typed
      .groupByKey(r => keys.map(k => keyPart(r.getAs[Any](k))).mkString)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[Row], state: GroupState[Row]) => {
          val winner = (rows ++ state.getOption.iterator)
            .maxBy(amendOf)
          state.update(winner)
          winner
        })
  }

  /** Online ANN serving: each micro-batch of probe vectors is served
    * against a (static, arbitrarily large) IVF index in one distributed
    * `Ann.serveBatch` pass, and the per-probe top-k hands off to
    * `emit` (append a results table, answer a request queue...). The
    * probe batch is collected for driver-side cell routing — bounded by
    * the micro-batch interval, the same contract as any serving request
    * batch; the index side never moves and never re-shuffles. Expects
    * `probes` streaming columns (probe_id: long, embedding:
    * array<numeric>); emits (probe_id, neighbor_id, sim, rank). */
  def annServeStream(index: graft.ops.Ann.IvfIndex, probes: DataFrame,
      topK: Int, nProbe: Int)(emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    probes.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val collected = batch
          .select(col("probe_id").cast("long"),
            col("embedding").cast("array<double>"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        if (collected.nonEmpty)
          emit(graft.ops.Ann.serveBatch(index, collected, topK, nProbe))
      }
      .start()

  /** Online serving against the COMPRESSED index — [[annServeStream]]'s
    * IVF-PQ twin and the serving shape that holds at 100 TB request
    * rates: each micro-batch of probe vectors meets the persisted
    * codes-only inverted lists through `Ivfpq.knnJoin`, so unlike the
    * float path the probe batch is NEVER collected — every probe row
    * routes itself (cells + ADC lookup table computed on the
    * executors), which removes the driver-width bound on the request
    * batch entirely; the micro-batch interval is the only batch
    * sizing, and the per-candidate read is m code bytes. Expects
    * streaming columns (probe_id: long, probe_emb: array<float>);
    * emits (probe_id, neighbor_id, sim, rank). `excludeSelf = false`:
    * external requests live in their own id space. Stream ≡ the static
    * `Ivfpq.knnJoin` pinned in `PqServeStreamSpec`. */
  def pqServeStream(index: graft.ops.Ivfpq.IvfPqIndex, probes: DataFrame,
      topK: Int, nProbe: Int, shortlist: Int)(emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    probes.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val typed = batch.select(col("probe_id").cast("long"),
          col("probe_emb").cast("array<float>"))
        if (!typed.isEmpty)
          emit(graft.ops.Ivfpq.knnJoin(index, typed, topK, nProbe,
            shortlist, excludeSelf = false))
      }
      .start()

  /** Online keyword retrieval — [[annServeStream]]'s text twin: each
    * micro-batch of keyword queries is served against the persisted
    * BM25 inverted index in one distributed
    * `TextQueries.bm25ServeBatch` pass, and the per-query top-k hands
    * off to `emit`. The query batch is collected for request routing —
    * bounded by the micro-batch interval, the serving contract; the
    * index side never moves. Expects streaming columns (query_id:
    * long, terms: array<string>); emits (query_id, rnk, doc_id,
    * n_terms, score). Stream ≡ batch pinned in `Bm25ServeSpec`. */
  def keywordServeStream(sfDir: String, queries: DataFrame,
      topK: Int = 10)(emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val collected = batch
          .select(col("query_id").cast("long"),
            col("terms").cast("array<string>"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[String](1).toSeq)).toSeq
        if (collected.nonEmpty)
          emit(graft.ops.TextQueries.bm25ServeBatch(
            batch.sparkSession, sfDir, collected, topK))
      }
      .start()

  /** Online HYBRID retrieval — [[keywordServeStream]] × [[annServeStream]]
    * composed: each micro-batch of requests (query_id, terms,
    * probe_emb) is answered in one `HybridQueries.hybridServeBatch`
    * pass — keyword lists off the persisted postings layout, vector
    * lists off the persisted IVF layout, reciprocal-rank-fused per
    * query — and the fused per-query ranking hands off to `emit`. The
    * request batch is collected for routing, bounded by the
    * micro-batch interval (the serving contract); neither index side
    * ever moves. Expects streaming columns (query_id: long, terms:
    * array<string>, probe_emb: array<numeric>); emits (query_id, rnk,
    * doc_id, kw_rnk, vec_rnk, rrf). `excludeSelf = false`: streamed
    * requests live in their own id space. Stream ≡ the static batch
    * pinned in `HybridQueriesSpec`. */
  def hybridServeStream(sfDir: String, requests: DataFrame,
      kwTopK: Int = 10, vecTopK: Int = 5, nProbe: Int = 3)(
      emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    requests.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val collected = batch
          .select(col("query_id").cast("long"),
            col("terms").cast("array<string>"),
            col("probe_emb").cast("array<double>"))
          .collect()
          .map(r => (r.getLong(0), r.getSeq[String](1).toSeq,
            r.getSeq[Double](2).toSeq)).toSeq
        if (collected.nonEmpty)
          emit(graft.ops.HybridQueries.hybridServeBatch(
            batch.sparkSession, sfDir, collected, kwTopK, vecTopK,
            nProbe, excludeSelf = false))
      }
      .start()

  /** Streaming phrase PERCOLATION — the standing-query direction of
    * the positional tier: a bounded set of phrase queries registers
    * once, and every micro-batch of incoming documents is matched
    * against ALL of them in one `PhraseQueries.percolateBatch` pass
    * (the public percolator pattern — alerting/routing/compliance).
    * Routing is the inverse of the serve streams: documents are the
    * corpus-scale side and NEVER collect to the driver — only the
    * standing request frame broadcasts. Emits (query_id, doc_id,
    * n_occ, first_pos) alert rows per batch. Stream ≡ the static
    * percolateBatch pinned in `PhraseSpec`. */
  def phrasePercolateStream(standing: Seq[(Long, Seq[String])],
      docs: DataFrame)(emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        emit(graft.ops.PhraseQueries.percolateBatch(
          batch.select(col("doc_id").cast("long"), col("text")), standing))
      }
      .start()

  /** Streaming TAKEDOWN worker — the operational face of the index
    * DELETE lifecycle: each micro-batch of doomed doc ids drives
    * `TextQueries.postingsDelete` on the persisted BM25 layout and
    * (when given) `EpochAnn.delete` on the IVF epoch layout,
    * `EpochPositional.delete` on the positional epoch layout and
    * `NearDup.neardupDelete` on the near-dup layout — how a
    * takedown/dedup-removal queue is drained in production, a
    * maintenance worker serializing delete batches.
    *
    * EXACTLY-ONCE on the swap layouts needs no batch-id ledger: the
    * tombstone MUTATION IS the dedup state. Their delete ops exclude
    * already-tombstoned ids up front, so a crash-replayed batch (same
    * checkpointed offsets) re-deletes nothing — the df/stats
    * subtraction can never double-fire and the segment never holds a
    * duplicate (`Bm25DeleteSpec` pins re-delivered batches). Those
    * legs inherit the offline maintenance-window contract of the swap delete
    * ops: a worker crash BETWEEN a batch's tombstone commit and its df/stats
    * swaps leaves the text index's statistics stale with no replay to fix
    * them (content removal itself is already durable) — recovery is
    * `postingsCompact`, which recomputes df/stats from the surviving lists as
    * ground truth. The positional and IVF legs have no such window: each
    * commits one manifest under [[Epoch.occ]]. Their ledger key is the
    * manifest's next epoch, not the foreachBatch id: the stream sets no
    * checkpoint location, so batch ids restart at 0 with every start, while
    * epoch numbers never repeat. Their replay safety is the same exclusion as
    * the swap legs': a replayed or re-delivered id is already tombstoned, so
    * the leg commits nothing. Each of these deletes rewrites the layout's
    * whole tombstone set (old ∪ fresh), so a long-running worker registers
    * the layouts with [[graft.ops.Maintenance.sweep]] as `epoch_positional` /
    * `epoch_ivf` (or compacts them) to keep those sets bounded. Expects a
    * streaming `doc_id: long` column; doc_id ≡ vec_id across the paired
    * layouts (the corpus convention). */
  def takedownStream(postingsPath: String, doomedIds: DataFrame,
      ivfPath: Option[String] = None,
      positionalPath: Option[String] = None,
      neardupPath: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    doomedIds.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val ids = batch.select(col("doc_id").cast("long").as("doc_id"))
          .localCheckpoint(true)
        graft.ops.TextQueries.postingsDelete(s, ids, postingsPath)
        ivfPath.foreach(p => graft.ops.Epoch.occ(s, p) {
          graft.ops.EpochAnn.delete(s,
            ids.select(col("doc_id").as("vec_id")), p,
            graft.ops.Epoch.resolve(s, p).fold(0L)(_.next))
        })
        // the positional layout is the third text-side serving tier a
        // takedown must reach
        positionalPath.foreach(p => graft.ops.Epoch.occ(s, p) {
          graft.ops.EpochPositional.delete(s, ids, p,
            graft.ops.Epoch.resolve(s, p).fold(0L)(_.next))
        })
        // and the near-dup index — a taken-down document must stop
        // gating future ingests, or its content survives as a REJECT
        // verdict on every re-submission of similar text
        neardupPath.foreach(p => graft.ops.NearDup
          .neardupDelete(s, ids, p))
      }
      .start()

  /** Streaming KEYWORD-INDEX ingest — the text twin of
    * `neardupIngestStream`'s self-growing layout: each micro-batch of
    * (doc_id, text) documents appends to the persisted BM25 postings
    * through `TextQueries.postingsAppendOnce`, with the checkpointed
    * foreachBatch id as the append batch id — the idempotent
    * batch-keyed lists leg plus marker-in-swap df/stats merges make a
    * crash-replayed batch a mechanical no-op, so the stream is
    * EXACTLY-ONCE with no external snapshot discipline. Serving
    * between batches sees each append atomically per leg (the same
    * maintenance-window contract as the batch op); compaction folds
    * the accumulated small segments on the cold path.
    *
    * `checkpoint` is REQUIRED for the exactly-once claim to survive a
    * restart: the marker/batch-keyed legs key off the checkpointed
    * foreachBatch id, and a stream restarted WITHOUT a checkpoint
    * resets batch ids to 0 — a genuinely new batch then collides with
    * an already-planted marker and is silently skipped. Running with
    * `checkpoint = None` (tests, one-shot backfills that never
    * restart) voids that contract. */
  def postingsIngestStream(indexPath: String, docs: DataFrame,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(docs.writeStream.outputMode("append"), checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.TextQueries.postingsAppendOnce(batch.sparkSession,
          batch.select(col("doc_id").cast("long").as("doc_id"),
            col("text")),
          indexPath, batchId)
      }
      .start()

  /** Streaming keyword-index ingest on the EPOCH layout
    * ([[graft.ops.EpochPostings]]) — [[postingsIngestStream]]'s
    * serve-safe successor: each micro-batch appends as a referenced
    * delta generation behind one atomic manifest flip, so SERVING
    * CONTINUES UNINTERRUPTED while the stream ingests (no maintenance
    * window — readers pin the manifest they resolved). Exactly-once
    * rides the manifest's applied ledger (`app_<batchId>`, committed
    * in the same rename as the data); the same `checkpoint` caveat
    * applies — batch ids reset without one, colliding with the
    * ledger. Compaction is the sweep's job
    * (`Maintenance.sweep`, kind `epoch_postings`) — and because each
    * micro-batch append commits under `Epoch.occ`, the sweep's
    * occ-wrapped compaction can run BESIDE this live stream: the
    * claim loop serializes the two writers' staging generations (a
    * bare append racing an occ compact would stage into the same
    * `g<N>` dir, which `Epoch.genDir` clears — silent corruption). */
  def postingsIngestEpochStream(indexPath: String, docs: DataFrame,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(docs.writeStream.outputMode("append"), checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Epoch.occ(batch.sparkSession, indexPath) {
          graft.ops.EpochPostings.append(batch.sparkSession,
            batch.select(col("doc_id").cast("long").as("doc_id"),
              col("text")),
            indexPath, batchId)
        }
      }
      .start()

  /** Streaming VECTOR ingest on the epoch IVF index
    * ([[graft.ops.EpochAnn]]) — [[postingsIngestEpochStream]]'s vector
    * twin: each micro-batch of (vec_id, embedding) cell-assigns
    * against the PINNED frozen centroids and lands as one referenced
    * delta generation behind one atomic manifest flip — ANN serving
    * continues uninterrupted while embeddings stream in (readers pin
    * the manifest they resolved). Exactly-once rides the manifest
    * ledger (`app_<batchId>`); the shared `checkpoint` caveat applies
    * — batch ids reset without one, colliding with the ledger.
    * Quantizer staleness is the documented append trade
    * (`sim_ivf_append`'s recall gate covers the worst case); the
    * RETRAIN that heals it is the maintenance sweep's job
    * (`Maintenance.sweep`, kind `epoch_ivf` — skew-triggered, itself
    * one atomic epoch), safe to run beside this stream because both
    * writers commit under `Epoch.occ` (the postings twin's rationale). */
  def vectorIngestEpochStream(indexPath: String, vectors: DataFrame,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(vectors.writeStream.outputMode("append"), checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Epoch.occ(batch.sparkSession, indexPath) {
          graft.ops.EpochAnn.append(batch.sparkSession,
            batch.select(col("vec_id").cast("long").as("vec_id"),
              col("embedding")),
            indexPath, batchId)
        }
      }
      .start()

  /** Streaming TABLE ingest on the epoch table tier
    * ([[graft.ops.EpochTable]]) — each micro-batch of typed rows
    * commits one DELTA version (version id = the checkpointed
    * foreachBatch id) under `Epoch.occ`: readers keep serving pinned
    * versions while rows stream in, every retained micro-batch version
    * stays queryable by id, and a crash-replayed batch is a ledger
    * no-op. BOOTSTRAP: the layout needs an initial
    * [[graft.ops.EpochTable.refresh]] (possibly of an empty frame)
    * under a NEGATIVE version id, so checkpointed batch ids (≥ 0)
    * never collide with it. Append-only (the delta contract —
    * amendments go through a full refresh); the sweep's `epoch_table`
    * arm folds the accumulated per-batch delta dirs. The shared
    * `checkpoint` caveat applies: ids reset without one, colliding
    * with the version ledger. */
  def tableIngestEpochStream(layoutPath: String, rows: DataFrame,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(rows.writeStream.outputMode("append"), checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Epoch.occ(batch.sparkSession, layoutPath) {
          graft.ops.EpochTable.refreshDelta(batch.sparkSession,
            layoutPath, batch, version = batchId)
          ()
        }
      }
      .start()

  /** Streaming CDC APPLY on the epoch table tier — the upsert twin of
    * [[tableIngestEpochStream]]: each micro-batch of keyed change rows
    * commits one MERGE version ([[graft.ops.EpochTable.merge]],
    * version id = the checkpointed foreachBatch id) under `Epoch.occ`.
    * Updated keys REPLACE the served row, new keys INSERT — the
    * change-data-capture consumer a warehouse points at an OLTP
    * feed, each batch ∝ |changes| never ∝ |table|. A batch may carry
    * several changes for one key when `orderCol` names a monotone
    * sequence column (the CDC log position): the batch folds
    * latest-wins per key BEFORE merging and the ordering column is
    * dropped (it orders application, it is not table data); without
    * `orderCol`, batches must arrive key-unique (merge validates
    * loudly — picking a survivor would be nondeterministic).
    * Same bootstrap + checkpoint contract as the ingest face; the
    * sweep's `epoch_table` arm folds accumulated merge generations. */
  def tableCdcEpochStream(layoutPath: String, changes: DataFrame,
      keys: Seq[String], orderCol: Option[String] = None,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(changes.writeStream.outputMode("append"), checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val folded = orderCol match {
          case None => batch
          case Some(oc) =>
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(keys.map(col): _*)
              .orderBy(col(oc).desc)
            batch.withColumn("__rn", row_number().over(w))
              .where(col("__rn") === 1).drop("__rn", oc)
        }
        graft.ops.Epoch.occ(batch.sparkSession, layoutPath) {
          graft.ops.EpochTable.merge(batch.sparkSession, layoutPath,
            folded, version = batchId, keys = keys)
          ()
        }
      }
      .start()

  /** LIVE view maintenance off the table tier's CHANGE FEED: a
    * `readStream` over `tbl$changes` drives an epoch MV — per
    * micro-batch, the batch's epoch range is re-resolved through
    * [[graft.ops.EpochTable.changesWithBefore]] (exact, manifest-
    * based — the stream's after-images only trigger; before-images
    * come from the retained versions) and applies as one negated +
    * one positive partials epoch. EXACTLY-ONCE: the MV's manifest
    * ledger keys off the range's max epoch (`del_<e>`/`app_<e>`), so
    * a replayed micro-batch re-derives the identical frames and
    * no-ops on the ledger; a crash between the two legs replays both,
    * the first leg skipping. The view never re-reads its base —
    * `mv_refresh_cdc` proves the algebra batch-side; `EpochMvSpec`
    * runs this stream live against a mutating table. */
  def mvMaintainStream(s: org.apache.spark.sql.SparkSession,
      tablePath: String,
      mv: graft.plans.EpochMv.EpochMvDef, keys: Seq[String],
      shape: DataFrame => DataFrame, changesTable: String,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(
      s.readStream.table(changesTable).writeStream.outputMode("append"),
      checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val ss = batch.sparkSession
          val epochs = batch.select(min(col("_epoch")),
            max(col("_epoch"))).head()
          val (lo, hi) = (epochs.getLong(0), epochs.getLong(1))
          val chg = graft.ops.EpochTable.changesWithBefore(ss,
            tablePath, lo - 1L, hi, keys).localCheckpoint(true)
          val befores = shape(chg.where(col("_before_present"))
            .select(keys.map(col) ++
              chg.columns.filter(_.startsWith("before_")).toSeq.map(c =>
                col(c).as(c.stripPrefix("before_"))): _*))
          val afters = shape(chg.where(col("_op") =!= "delete")
            .select(chg.columns.filterNot(c =>
              c.startsWith("before_") || c.startsWith("_")).map(col)
              .toSeq: _*))
          graft.ops.Epoch.occ(ss, mv.layoutPath) {
            graft.plans.EpochMv.refreshDelete(ss, mv, befores,
              batchId = hi)
          }
          graft.ops.Epoch.occ(ss, mv.layoutPath) {
            graft.plans.EpochMv.refresh(ss, mv, afters, batchId = hi)
          }
        }
      }
      .start()

  /** Apply a checkpoint location when one is supplied — shared by the
    * streaming faces whose exactly-once rests on the checkpointed
    * foreachBatch id (see each face's `checkpoint` doc). */
  private def withCheckpoint[T](
      w: org.apache.spark.sql.streaming.DataStreamWriter[T],
      checkpoint: Option[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[T] =
    checkpoint.fold(w)(c => w.option("checkpointLocation", c))

  /** Streaming UNIFIED takedown — [[takedownStream]]'s successor
    * spanning EVERY tier through one [[graft.ops.Takedown]] call per
    * micro-batch of doomed (doc_id, text) documents (text feeds the
    * suggest dictionary's negative df merge — the one leg bare ids
    * cannot drive). EXACTLY-ONCE composition: the checkpointed
    * foreachBatch batch id IS the takedown batch id, so the swap
    * tombstone legs replay as no-ops by construction and the epoch legs
    * (suggest, MV, positional and the rest) skip on the manifest ledger
    * key `del_<id>` — a worker crash at ANY point replays to the
    * identical global state, the property `TakedownSpec` pins
    * call-level and this stream inherits wholesale. Same
    * maintenance-worker contract as
    * [[takedownStream]]: serialized delete batches in a window
    * without concurrent serving.
    *
    * An ID-ONLY doomed stream (no `text` column) is accepted exactly
    * when `Takedown.apply` accepts it — no suggest tier wired; the
    * select mirrors the batch face instead of demanding text
    * unconditionally. `checkpoint` is REQUIRED for exactly-once across
    * restarts: the algebraic legs skip on `del_<batchId>` ledger keys,
    * keyed by the checkpointed foreachBatch id, and a restart without a
    * checkpoint resets ids to 0 — a new doomed batch then collides with
    * old keys, so the suggest/MV legs silently skip
    * while the tombstone legs still apply: exactly the cross-tier
    * inconsistency this stream exists to prevent. `checkpoint = None`
    * is for never-restarted one-shot runs only. */
  def takedownAllStream(tiers: graft.ops.Takedown.Tiers,
      doomedDocs: DataFrame,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(doomedDocs.writeStream.outputMode("append"),
      checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cols = col("doc_id").cast("long").as("doc_id") +:
          (if (batch.columns.contains("text")) Seq(col("text"))
           else Seq.empty)
        graft.ops.Takedown(batch.sparkSession, batch.select(cols: _*),
          tiers, batchId)
      }
      .start()

  /** Streaming dedup-at-ingest GATE — the operational face of the
    * persisted near-dup index: each micro-batch of (doc_id, text)
    * documents is gated against the index (`NearDup.ingestVerdicts`),
    * the per-document accept/reject verdicts are emitted, and the
    * accepted documents are appended so the NEXT batch deduplicates
    * against them too — the index grows itself as the corpus streams
    * in, which is exactly how a training-data ingest pipeline runs its
    * dedup stage at 100 TB (gate the delta, never rescan the corpus).
    *
    * EXACTLY-ONCE with no batch-id ledger (the takedown stream's
    * discipline): `NearDup.ingestBatch` re-derives identical verdicts
    * on a crash-replayed batch — the verdict read excludes the batch's
    * own ids from the match set, so even intra-batch near-dup pairs
    * (accepted AND indexed by the first delivery) replay to the same
    * verdicts — and appends nothing, because already-indexed and
    * tombstoned ids are excluded from the append up front — replay is
    * a no-op BY CONSTRUCTION. Pinned in `NearDupSpec`'s two-batch
    * roundtrip (growth + replay) and intra-batch-pair replay case. */
  def neardupIngestStream(indexPath: String, docs: DataFrame)
      (emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        emit(graft.ops.NearDup.ingestBatch(batch.sparkSession,
          batch.select(col("doc_id").cast("long").as("doc_id"),
            col("text")),
          indexPath))
      }
      .start()

  /** Streaming MATERIALIZED-VIEW maintenance ([[graft.plans.EpochMv]]):
    * each micro-batch of new base rows merges into a NEW view
    * generation behind one atomic manifest flip + one atomic catalog
    * re-point, so every rollup query rewritten onto the view by the
    * Catalyst rule serves the warehouse as of the last drained batch,
    * with the base table never rescanned.
    * EXACTLY-ONCE: the ledger key `app_<batchId>` commits in the same
    * manifest rename as the merged partials, so a crash-replayed batch
    * (same checkpointed offsets, same batch id) is skipped — no
    * double-add, no lost batch. Pinned in `MatViewSpec`'s and
    * `EpochMvSpec`'s stream tests (growth across batches + replay
    * no-op). The caller appends the same batches to the base table
    * downstream of `emitBase`. `checkpoint` is REQUIRED for the
    * replay no-op to survive a restart (the ledger keys off the
    * checkpointed batch id — see [[postingsIngestStream]]'s
    * contract). */
  def mvRefreshEpochStream(d: graft.plans.EpochMv.EpochMvDef,
      rows: DataFrame, checkpoint: Option[String] = None)
      (emitBase: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    withCheckpoint(rows.writeStream.outputMode("append"), checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.localCheckpoint(true)
        graft.plans.EpochMv.refresh(b.sparkSession, d, b, batchId)
        emitBase(b, batchId)
      }
      .start()

  /** Typed event row for the custom-state path (object-nested so Spark
    * can derive its Encoder — no outer instance). */
  final case class UserEvent(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)

  /** Per-user accumulator state = emitted update record. */
  final case class UserTotals(user_id: Long, n_events: Long,
      total_value: Double)
}
