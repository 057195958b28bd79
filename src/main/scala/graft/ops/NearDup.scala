package graft.ops

import graft.{GQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dedup-at-ingest SERVICE — a persisted MinHash-LSH near-dup index with
  * the full maintenance lifecycle (build → serve → append → DELETE →
  * compact), the missing persisted form of the dedup tier: the
  * `dedup_minhash_*` family answers "find the near-dup pairs inside this
  * frame" as a query, but what a 100 TB training-data pipeline actually
  * deploys is the INCREMENTAL question — "is this incoming batch of
  * documents a near-dup of anything already in the corpus?" — asked
  * against an index that persists between batches, exactly like the BM25
  * postings ([[TextQueries.buildPostings]]) and IVF cell directories
  * ([[Ann]]) persist between queries. (Reference surface: the monthly
  * full reload of `updatecalaccessrawdata.py:~100-200` re-derives all
  * state from scratch each cycle; this layout is the incremental
  * replacement for its dedup analogue.)
  *
  * Index layout at `path`:
  *  - `bands/`: `(band_idx, band_key, doc_id)` — one row per (document,
  *    LSH band), the bucket directory. Range-partitioned + sorted on
  *    `band_key`, so a probe batch's bucket lookups arrive as a pushed
  *    `In(band_key, …)` restriction and row-group min/max stats prune to
  *    the touched buckets (the `bm25_serve` term-lookup discipline,
  *    applied to hash buckets).
  *  - `toks/`: `(doc_id, toks)` — each document's DISTINCT shingle set,
  *    the exact-verification side table. Range-partitioned + sorted on
  *    `doc_id` so the candidate ids read back as a pushed `In`.
  *  - `tombstones/` (optional): deleted doc ids, anti-joined by every
  *    serving read ([[Layout.minusTombstones]]), dropped physically by
  *    the next [[neardupCompact]].
  *
  * Token unit is DISTINCT BIGRAM SHINGLES ([[TextQueries.bigramShingles]]
  * — the `AutoWidthSpec` finding: on this corpus's small word vocabulary,
  * unigram LSH collapses to a handful of mega-buckets and candidate
  * volume goes quadratic, while shingles explode the key space and keep
  * per-bucket populations bounded). Same md5 permutation family as
  * [[DedupQueries.minhashSignatures]], so DuckDB recomputes the exact
  * band keys and the oracle covers candidate generation, not just the
  * verified output.
  *
  * The lifecycle is SIMPLER than the text index's: every indexed field
  * (band keys, shingle sets) is per-document state — there are no corpus
  * statistics to merge on append or subtract on delete, so append ≡
  * rebuild holds by construction (the segment rows are literally what a
  * rebuild would compute for those docs) and a delete is ONE bounded
  * tombstone write. `neardup_serve_append` and `neardup_serve_delete`
  * hash-verify both claims against from-scratch DuckDB recomputes.
  *
  * 100 TB shape: serving cost is |probe bands| bucket lookups +
  * |candidates| verification reads — corpus size appears nowhere after
  * the build. The two driver collects are request-batch-bounded (probe
  * bands: 4 rows per probe; candidate ids: Σ bucket populations of the
  * probe's buckets, bounded by the LSH width discipline —
  * [[DedupQueries.minhashWidthFor]] grows rows-per-band with the corpus
  * precisely to keep bucket populations flat), both guarded by explicit
  * `require` ceilings so an oversized batch fails loudly instead of
  * collecting unbounded state. `NearDupSpec` pins the pushed filters,
  * append/serve equality, the delete→compact roundtrip, and the
  * tombstone re-add gate.
  */
object NearDup {

  /** Exact-Jaccard acceptance threshold shared by every entry and
    * oracle. The value is a single division of exact small integers, so
    * Spark and DuckDB produce bit-identical doubles and the ≥ τ cut
    * cannot diverge even on exact ties (the `dedup_minhash_verify`
    * argument). */
  private[ops] val Tau = 0.5

  /** Probe-batch ceiling: the serve path collects 4 band keys per probe
    * onto the driver (the `sim_serve` bounded-request discipline). */
  private[ops] val MaxProbes = 10000

  /** Candidate-id ceiling, and the pushdown/broadcast switch point: up
    * to [[MaxInPushdown]] candidate ids the verification read is a
    * pushed `In(doc_id, …)` against the doc_id-sorted toks table (prunes
    * row groups); beyond it the `In` literal list would bloat the plan
    * (the PqEncode/Janino lesson), so the read falls back to a broadcast
    * join — still candidate-bounded, just without scan pruning. */
  private[ops] val MaxInPushdown = 10000
  private[ops] val MaxCandidates = 200000

  /** Distinct-bigram-shingle token set of a `text` column — ONE
    * definition feeding the band computation, the toks side table, and
    * (via the md5 family) the oracle SQL, so the three can never drift. */
  private[ops] def shingleToks: Column =
    array_distinct(TextQueries.bigramShingles(col("text")))

  /** (doc_id, toks) projection — the verification side table's shape. A
    * 0/1-token document keeps its (doc_id, empty array) row here but
    * produces no shingles, hence no signature and no bands row: it is
    * never a candidate and never a match, in both engines. */
  private[ops] def docProjection(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), shingleToks.as("toks"))

  /** (doc_id, band_idx, band_key) LSH band rows — the registry's (8, 2)
    * default widths over the shingle tokens, the exact family
    * [[DedupQueries.minhashBands]] documents and DuckDB recomputes. */
  private[ops] def bandRows(docs: DataFrame): DataFrame =
    DedupQueries.minhashBands(
      DedupQueries.minhashSignatures(
        docs.where(col("text").isNotNull), tokens = shingleToks))

  /** Materialize the index at `path` from `docs` (doc_id, text): the
    * band bucket directory (band_key-sorted) and the shingle-set
    * verification table (doc_id-sorted). */
  def buildNearDup(s: SparkSession, docs: DataFrame, path: String): Unit = {
    bandRows(docs)
      .repartitionByRange(8, col("band_key"))
      .sortWithinPartitions("band_key")
      .write.mode("overwrite").parquet(s"$path/bands")
    docProjection(docs)
      .repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$path/toks")
  }

  /** Grow the index with a new document batch: band rows and shingle
    * sets land as NEW sorted segment files (append mode — existing
    * files never rewritten, the [[TextQueries.postingsAppend]]
    * discipline), and because every field is per-document state there
    * is NOTHING else to do — no df merge, no stats accumulators.
    * Append ≡ rebuild by construction; `neardup_serve_append`
    * hash-verifies it. Re-adding a tombstoned id is refused until a
    * compact folds the delete in (the swap appends' shared mechanical
    * tombstone gate). Same offline-maintenance consistency
    * contract as every other layout mutation here: run in a window
    * without concurrent serving, one append per committed batch id. */
  def neardupAppend(s: SparkSession, newDocs: DataFrame,
      path: String): Unit = {
    val proj = docProjection(newDocs)
    if (proj.isEmpty) return
    Layout.appendTombstoneGate(s, path, proj.select(col("doc_id")),
      "doc_id", "neardupAppend")
    bandRows(newDocs)
      .repartitionByRange(8, col("band_key"))
      .sortWithinPartitions("band_key")
      .write.mode("append").parquet(s"$path/bands")
    proj
      .repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("append").parquet(s"$path/toks")
  }

  /** DELETE documents from the index — the takedown path, and the
    * simplest delete in the whole engine: the doomed ids land in the
    * shared `tombstones` segment and that is ALL, because the layout
    * carries no corpus-level statistics to adjust (contrast
    * [[TextQueries.postingsDelete]]'s df/stats subtraction). Serving
    * anti-joins the segment; the next [[neardupCompact]] drops the rows
    * physically. Already-tombstoned ids are excluded up front so a
    * re-delivered batch is a no-op by construction (the exactly-once
    * discipline the streaming takedown face relies on); the fresh-id
    * frame is materialized BEFORE the segment write — the lazy plan
    * would otherwise re-read the segment it is about to grow. */
  def neardupDelete(s: SparkSession, docIds: DataFrame,
      path: String): Unit = {
    val ids = docIds.select(col("doc_id").cast(LongType)).distinct()
    val fresh = Layout.tombstonesOpt(s, path)
      .map(t => ids.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(ids)
      .localCheckpoint(true)
    if (fresh.isEmpty) return
    fresh.coalesce(1).write.mode("append").parquet(s"$path/tombstones")
  }

  /** Offline compaction: rewrite both directories minus the tombstoned
    * ids, re-range-partitioned + re-sorted into `nFiles` runs (folding
    * the small appended segments back into full sorted runs, the
    * [[TextQueries.postingsCompact]] shape), then drop the tombstone
    * segment LAST — a crash anywhere above just re-runs an idempotent
    * anti-join on the next attempt. Row content of the survivors is
    * untouched, so serve-after-compact ≡ serve-before-compact
    * (`neardup_serve_compact`'s oracle is the survivors rebuild). */
  def neardupCompact(s: SparkSession, path: String,
      nFiles: Int = 8): Unit = {
    Layout.replaceDir(s,
      Layout.minusTombstones(s, graft.Pq.read(s, s"$path/bands"), path)
        .repartitionByRange(nFiles, col("band_key"))
        .sortWithinPartitions("band_key"),
      s"$path/bands")
    Layout.replaceDir(s,
      Layout.minusTombstones(s, graft.Pq.read(s, s"$path/toks"), path)
        .repartitionByRange(nFiles, col("doc_id"))
        .sortWithinPartitions("doc_id"),
      s"$path/toks")
    Layout.deleteDir(s, s"$path/tombstones")
  }

  /** Serve a probe batch against the persisted index: for each probe
    * document (doc_id, text), every indexed document sharing an LSH
    * bucket whose EXACT shingle Jaccard ≥ `tau` — self-matches excluded
    * (the incoming doc may already be corpus-resident; its own row is
    * not a dup verdict). Output (probe_id, match_id, jaccard).
    *
    * Plan shape, in order:
    *  1. probe bands computed from the probe TEXT (the service receives
    *     the document, not an id) and collected — 4 rows per probe,
    *     [[MaxProbes]]-guarded;
    *  2. bucket lookup: `bands/` scan restricted by the probe's distinct
    *     band keys — a pushed `In(band_key, …)` up to [[MaxInPushdown]]
    *     keys (row-group pruning), plain scan beyond it (the broadcast
    *     equi-join below still bounds the rows; an over-threshold `In`
    *     would bloat the plan past Spark's parquet pushdown threshold
    *     and silently stop pruning anyway — the candidate-id switch's
    *     rationale, applied to band keys); tombstone anti-join above
    *     it, broadcast equi-join back to the probe frame on
    *     (band_idx, band_key) → distinct candidate pairs, materialized
    *     once ([[MaxCandidates]]-guarded);
    *  3. verification: candidate ids read from `toks/` (pushed `In` up
    *     to [[MaxInPushdown]] ids, broadcast join beyond), probe shingle
    *     sets broadcast, exact Jaccard as one array_intersect division.
    * Corpus size appears in none of the three steps. */
  def serveNearDup(s: SparkSession, probes: DataFrame, path: String,
      tau: Double = Tau): DataFrame =
    serveCore(s, probes, tau,
      bandsFor = keys => Layout.minusTombstones(s,
        if (keys.length <= MaxInPushdown)
          graft.Pq.read(s, s"$path/bands")
            .where(col("band_key").isin(keys: _*))
        else graft.Pq.read(s, s"$path/bands"),
        path),
      toksFor = ids => Layout.minusTombstones(s,
        if (ids.length <= MaxInPushdown)
          graft.Pq.read(s, s"$path/toks")
            .where(col("doc_id").isin(ids: _*))
        else graft.Pq.read(s, s"$path/toks"),
        path))

  /** The layout-independent serve plan (steps 1–3 above): the SWAP
    * face supplies path scans with the tombstone-segment anti-join,
    * the EPOCH face ([[EpochNearDup.servedOn]]) pinned multi-dir scans
    * with the manifest's tombstone set — `bandsFor`/`toksFor` receive
    * the collected probe keys / candidate ids so each layout applies
    * its own pushed-`In` restriction (same [[MaxInPushdown]] switch). */
  private[ops] def serveCore(s: SparkSession, probes: DataFrame,
      tau: Double, bandsFor: Seq[String] => DataFrame,
      toksFor: Seq[Long] => DataFrame): DataFrame = {
    import s.implicits._
    // r21 guide §5 (reused subtree): the probe shingle sets feed BOTH
    // the band computation (collected below) and the final
    // verification join — as two separate evaluations each serve paid
    // the documents scan + shingle split twice. Mark the bounded toks
    // frame for LAZY local checkpointing: the band-collect job is the
    // first action over it, so ONE job materializes the blocks as it
    // computes the bands (the Components.materialize fold), and the
    // verification join reads blocks instead of re-scanning. The band
    // rows are derived FROM the toks frame (same md5 family over the
    // same distinct shingle arrays — `minhashSignatures(tokens=toks)`
    // explodes the identical token set bandRows' text path would), so
    // values are unchanged.
    val probeToks = docProjection(probes).localCheckpoint(eager = false)
    // r20 guide §5 (driver round-trips): the band rows are bounded by
    // the MaxProbes ceiling below, so ONE typed collect both enforces
    // the ceiling and supplies the pushed-In key set — replacing the
    // localCheckpoint + count + collect triple (three sequential jobs)
    // with a single job. The broadcast side then ships the already-
    // local rows with no recompute. Same rows, same ceilings.
    // r21 (round-20 verdict): the ceiling must trip BEFORE driver
    // materialization — the r20 form collected first and required
    // after, so a grossly oversized probe batch could OOM the driver
    // instead of failing the require. limit(ceiling + 1) bounds what
    // can ever reach the driver to one row past the ceiling (still one
    // job); at or under the ceiling the limit passes every row through,
    // so served results are unchanged.
    val bandCap = MaxProbes * 4
    val bandLocal = DedupQueries.minhashBands(
        DedupQueries.minhashSignatures(probeToks, tokens = col("toks")))
      .select(col("doc_id").as("probe_id"), col("band_idx"),
        col("band_key"))
      .limit(bandCap + 1)
      .as[(Long, Int, String)].collect()
    require(bandLocal.length <= bandCap,
      s"serveNearDup: probe batch yields more than $bandCap band rows " +
        "(the MaxProbes*4 ceiling) — split the batch")
    val probeBands = bandLocal.toSeq
      .toDF("probe_id", "band_idx", "band_key")
    val keys = bandLocal.map(_._3).distinct.toSeq
    // candidate set is MaxCandidates-bounded: collect it once (one
    // job), serve the verification join from the local rows.
    val candLocal = bandsFor(keys)
      .join(broadcast(probeBands), Seq("band_idx", "band_key"))
      .where(col("doc_id") =!= col("probe_id"))
      .select(col("probe_id"), col("doc_id").as("match_id"))
      .distinct()
      .as[(Long, Long)].collect()
    val cand = candLocal.toSeq.toDF("probe_id", "match_id")
    val ids = candLocal.map(_._2).distinct.toSeq
    require(ids.length <= MaxCandidates,
      s"serveNearDup: ${ids.length} candidate ids (> $MaxCandidates " +
        "ceiling) — widen the LSH bands (minhashWidthFor) or split " +
        "the probe batch")
    val matchToks = toksFor(ids)
      .select(col("doc_id").as("match_id"), col("toks").as("mtoks"))
    val inter = size(array_intersect(col("ptoks"), col("mtoks")))
    val jac = inter.cast(DoubleType) /
      (size(col("ptoks")) + size(col("mtoks")) - inter)
    matchToks
      .join(broadcast(cand), Seq("match_id"))
      .join(broadcast(probeToks
        .select(col("doc_id").as("probe_id"), col("toks").as("ptoks"))),
        Seq("probe_id"))
      .select(col("probe_id"), col("match_id"), jac.as("jaccard"))
      .where(col("jaccard") >= tau)
      .orderBy(col("probe_id"), col("match_id"))
  }

  /** Per-document ingest VERDICTS for a candidate batch against the
    * index — the decision frame the dedup-at-ingest gate emits: one row
    * per batch document, `verdict` = "accept" (no indexed near-dup) or
    * "reject", with the match count and the best (highest-Jaccard,
    * least-id tie-break) indexed match. Pure read — the mutation side
    * of ingest lives in [[ingestBatch]]. Missing-match columns are
    * coalesced to (-1, 0.0) so the frame is driver-hashable with no
    * nullable-numeric drift.
    *
    * The match set EXCLUDES the batch's own doc ids (one broadcast
    * anti-join on match_id), so a verdict is a pure function of
    * (batch, index minus the batch's ids) — the property that makes a
    * crash-replayed [[ingestBatch]] re-derive IDENTICAL verdicts with
    * no batch-id ledger even when the batch carries intra-batch
    * near-dup pairs: on the first delivery the accepted pair members
    * aren't indexed yet; on a replay they are, but the exclusion
    * removes them from each other's candidate sets again.
    * (Self-match id-exclusion alone covers only identical ids.)
    * Equivalently: a redelivered batch is judged against the same
    * world its first delivery saw. Intra-batch near-dup pairs are both
    * accepted by design — in-flight self-dedup is
    * `StreamRunner.nearDupFilter`'s job, composed upstream.
    *
    * SOURCE REQUIREMENT (stable whole-batch redelivery): the exclusion
    * assumes a redelivered document arrives in the SAME batch as its
    * first delivery (Spark foreachBatch replays whole batches over
    * checkpointed offsets). A source that re-buckets offsets across
    * restarts can mix an already-indexed doc X with a NEW near-dup A
    * of X in one batch — the exclusion then removes X from A's
    * candidate set and accepts A even though its dup is genuinely in
    * the index, weakening the gate for exactly those mixed batches. */
  def ingestVerdicts(s: SparkSession, batch: DataFrame, path: String,
      tau: Double = Tau): DataFrame = {
    // r21 guide §5 (reused subtree): the deduped batch feeds FOUR
    // consumers — the serve's band/verification sides, the own-id
    // anti-join broadcast, and the final per-document left join. Each
    // was a separate evaluation of the batch scan + dropDuplicates
    // exchange. Lazily checkpoint it: the serve's band-collect job is
    // the first action (its dedup exchange computes every partition,
    // materializing the blocks in the same job), and the other three
    // consumers read blocks. Bounded by the ingest MaxProbes contract.
    val docs = batch.where(col("text").isNotNull)
      .dropDuplicates("doc_id").localCheckpoint(eager = false)
    val matches = serveNearDup(s, docs, path, tau)
      .join(broadcast(docs.select(col("doc_id").as("match_id"))),
        Seq("match_id"), "left_anti")
    val best = matches.groupBy(col("probe_id").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("jaccard").as("j"), (-col("match_id")).as("nm")))
          .as("b"))
      .select(col("doc_id"), col("n_matches"),
        (-col("b.nm")).as("best_match_id"),
        col("b.j").as("best_jaccard"))
    docs.select("doc_id").join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_matches").isNull, lit("accept")).otherwise("reject")
          .as("verdict"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("best_match_id"), lit(-1L)).as("best_match_id"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"))
      .orderBy(col("doc_id"))
  }

  /** One ingest micro-batch, mutation included — the body of
    * `StreamRunner.neardupIngestStream` and the full dedup-at-ingest
    * contract: verdicts for every batch document, then the ACCEPTED
    * ones appended to the index so the next batch (or the next
    * document in the stream) deduplicates against them too — the index
    * grows itself.
    *
    * Replay safety (the takedown stream's no-ledger discipline): a
    * crash-replayed batch re-derives the SAME verdicts and appends
    * NOTHING. Verdicts are replay-invariant because
    * [[ingestVerdicts]] excludes the batch's own ids from the match
    * set — including the intra-batch near-dup pair case, where the
    * first run accepts and indexes both members and a naive replay
    * would find each member's twin indexed and flip both to reject.
    * The append is a no-op because already-indexed and tombstoned ids
    * are excluded up front (the batch-bounded id lookup is a pushed
    * `In` on the doc_id-sorted toks table). Verdicts are MATERIALIZED
    * before the append (the lazy-segment trap: an un-checkpointed
    * verdict frame re-evaluated after the append would re-read the
    * segments it just grew). */
  def ingestBatch(s: SparkSession, batch: DataFrame, path: String,
      tau: Double = Tau): DataFrame = {
    val docs = batch.where(col("text").isNotNull)
      .dropDuplicates("doc_id").localCheckpoint(true)
    // bound BEFORE any driver materialization (a sub-shingle doc has
    // no band rows, so serveNearDup's band ceiling alone would not
    // stop an oversized batch of short docs reaching the id collect)
    val nDocs = docs.count()
    require(nDocs <= MaxProbes,
      s"ingestBatch: $nDocs docs (> $MaxProbes ceiling) — split the batch")
    val verdicts = ingestVerdicts(s, docs, path, tau).localCheckpoint(true)
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    if (ids.nonEmpty) {
      val already = graft.Pq.read(s, s"$path/toks")
        .where(col("doc_id").isin(ids: _*)).select("doc_id")
      val doomed = Layout.tombstonesOpt(s, path)
        .fold(already)(t => already.unionByName(t.select("doc_id")))
      val fresh = docs
        .join(broadcast(verdicts.where(col("verdict") === "accept")
          .select("doc_id")), Seq("doc_id"))
        .join(broadcast(doomed.distinct()), Seq("doc_id"), "left_anti")
      neardupAppend(s, fresh, path)
    }
    verdicts
  }

  /** The probe batch shared by every entry and oracle: doc_id ≡ 8
    * (mod 62) — stable, engine-independent, ~1.6% of the corpus, and
    * chosen to intersect the planted near-dup structure at every SF so
    * the served output is non-trivially populated. */
  private[ops] def probeDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).where(col("doc_id") % 62 === 8)

  /** The delete residue: doc_id ≡ 0 (mod 5) — intersects the probe
    * set's match ids at every SF, so the takedown visibly removes
    * served matches (not just invisible candidates). */
  private val deleteResidue = 5

  private val fullSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val appendSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val deleteSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private val compactSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def scratch(prefix: String, d: String): String =
    s"${graft.GraftSession.scratchDir}/${prefix}_" +
      d.replaceAll("[^A-Za-z0-9]", "_")

  private[ops] def savedFullPath(s: SparkSession, d: String): String =
    graft.BuildOnce.memo(fullSaved, d) {
      val path = scratch("neardup", d)
      buildNearDup(s, Tables.documents(s, d), path)
      path
    }

  /** Index built on the even half then grown to the whole corpus
    * through [[neardupAppend]] — the layout `neardup_serve_append`
    * serves against the FULL-corpus oracle. */
  private[ops] def savedAppendPath(s: SparkSession, d: String): String =
    graft.BuildOnce.memo(appendSaved, d) {
      val path = scratch("neardup_app", d)
      val docs = Tables.documents(s, d)
      buildNearDup(s, docs.where(col("doc_id") % 2 === 0), path)
      neardupAppend(s, docs.where(col("doc_id") % 2 === 1), path)
      path
    }

  /** Full build then the delete residue tombstoned — the layout
    * `neardup_serve_delete` serves; survivors-only oracle. */
  private[ops] def savedDeletePath(s: SparkSession, d: String): String =
    graft.BuildOnce.memo(deleteSaved, d) {
      val path = scratch("neardup_del", d)
      val docs = Tables.documents(s, d)
      buildNearDup(s, docs, path)
      neardupDelete(s,
        docs.where(col("doc_id") % deleteResidue === 0).select("doc_id"),
        path)
      path
    }

  /** The FULL lifecycle in one chain: build-even → append-odd → delete
    * residue → compact — the layout `neardup_serve_compact` serves.
    * Compaction physically drops the tombstoned rows and folds the
    * appended segments into 8 sorted runs - served output must still
    * hash-match the survivors rebuild. */
  private[ops] def savedCompactPath(s: SparkSession, d: String): String =
    graft.BuildOnce.memo(compactSaved, d) {
      val path = scratch("neardup_cpt", d)
      val docs = Tables.documents(s, d)
      buildNearDup(s, docs.where(col("doc_id") % 2 === 0), path)
      neardupAppend(s, docs.where(col("doc_id") % 2 === 1), path)
      neardupDelete(s,
        docs.where(col("doc_id") % deleteResidue === 0).select("doc_id"),
        path)
      neardupCompact(s, path)
      path
    }

  /** One oracle body, parameterized ONLY by the corpus filter, so the
    * four lifecycle entries assert literally the same question against
    * different layout histories. DuckDB recomputes the full pipeline
    * from scratch: shingle sets → md5 MinHash signatures → band keys →
    * bucket-join candidates → exact-Jaccard verification — so a hash
    * match proves candidate generation AND verification AND the
    * lifecycle identity (append ≡ rebuild, delete ≡ survivors rebuild),
    * not merely the final arithmetic. */
  private[ops] def oracleFor(corpusExtra: String): String = s"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL$corpusExtra),
      sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS tok
        FROM corpus),
      sigs AS (
        SELECT doc_id,
               MIN(md5('0:' || tok)) AS s0, MIN(md5('1:' || tok)) AS s1,
               MIN(md5('2:' || tok)) AS s2, MIN(md5('3:' || tok)) AS s3,
               MIN(md5('4:' || tok)) AS s4, MIN(md5('5:' || tok)) AS s5,
               MIN(md5('6:' || tok)) AS s6, MIN(md5('7:' || tok)) AS s7
        FROM sh GROUP BY doc_id),
      bands AS (
        SELECT doc_id, 0 AS band_idx, md5(s0 || s1) AS band_key FROM sigs
        UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM sigs
        UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM sigs
        UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM sigs),
      probes AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL AND doc_id % 62 = 8),
      psh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS tok
        FROM probes),
      psigs AS (
        SELECT doc_id,
               MIN(md5('0:' || tok)) AS s0, MIN(md5('1:' || tok)) AS s1,
               MIN(md5('2:' || tok)) AS s2, MIN(md5('3:' || tok)) AS s3,
               MIN(md5('4:' || tok)) AS s4, MIN(md5('5:' || tok)) AS s5,
               MIN(md5('6:' || tok)) AS s6, MIN(md5('7:' || tok)) AS s7
        FROM psh GROUP BY doc_id),
      pbands AS (
        SELECT doc_id, 0 AS band_idx, md5(s0 || s1) AS band_key FROM psigs
        UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM psigs
        UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM psigs
        UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM psigs),
      cand AS (
        SELECT DISTINCT p.doc_id AS probe_id, b.doc_id AS match_id
        FROM pbands p JOIN bands b
          ON p.band_idx = b.band_idx AND p.band_key = b.band_key
             AND p.doc_id <> b.doc_id),
      tsets AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS toks
        FROM corpus),
      ptsets AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS toks
        FROM probes)
      SELECT probe_id, match_id,
             CAST(len(list_intersect(pa.toks, mb.toks)) AS DOUBLE) /
             (len(pa.toks) + len(mb.toks)
              - len(list_intersect(pa.toks, mb.toks))) AS jaccard
      FROM cand
      JOIN ptsets pa ON pa.doc_id = probe_id
      JOIN tsets mb ON mb.doc_id = match_id
      WHERE CAST(len(list_intersect(pa.toks, mb.toks)) AS DOUBLE) /
            (len(pa.toks) + len(mb.toks)
             - len(list_intersect(pa.toks, mb.toks))) >= 0.5
      ORDER BY probe_id, match_id
    """

  /** The dedup-at-ingest service, driver-verified end-to-end: a probe
    * batch served against the full persisted index. */
  val neardupServe = GQuery(
    "neardup_serve",
    (s, d) => serveNearDup(s, probeDocs(s, d), savedFullPath(s, d)),
    Some(oracleFor("")))

  /** append ≡ rebuild: half-built, half-appended index, FULL-corpus
    * oracle — possible with no algebraic merges at all because the
    * layout carries only per-document state. */
  val neardupServeAppend = GQuery(
    "neardup_serve_append",
    (s, d) => serveNearDup(s, probeDocs(s, d), savedAppendPath(s, d)),
    Some(oracleFor("")))

  /** delete ≡ survivors rebuild: full index with the mod-5 residue
    * tombstoned, oracle over only the surviving documents — the
    * takedown verdict the reference gets only by full reload. */
  val neardupServeDelete = GQuery(
    "neardup_serve_delete",
    (s, d) => serveNearDup(s, probeDocs(s, d), savedDeletePath(s, d)),
    Some(oracleFor(s"\n          AND doc_id % $deleteResidue <> 0")))

  /** The whole lifecycle compounded (build → append → delete → compact)
    * still ≡ the survivors rebuild — compaction drops tombstoned rows
    * physically and refolds segments without changing a single served
    * value. */
  val neardupServeCompact = GQuery(
    "neardup_serve_compact",
    (s, d) => serveNearDup(s, probeDocs(s, d), savedCompactPath(s, d)),
    Some(oracleFor(s"\n          AND doc_id % $deleteResidue <> 0")))

  /** Index over the NON-holdout corpus (doc_id ≢ 5 mod 10) — the
    * pre-ingest state `neardup_ingest` gates its holdout batch
    * against. Never mutated: the registry entry is the PURE verdict
    * read ([[ingestVerdicts]]); the mutation composition is pinned in
    * `NearDupSpec`'s streaming roundtrip. */
  private val ingestSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedIngestPath(s: SparkSession, d: String): String =
    graft.BuildOnce.memo(ingestSaved, d) {
      val path = scratch("neardup_ing", d)
      buildNearDup(s,
        Tables.documents(s, d).where(col("doc_id") % 10 =!= 5), path)
      path
    }

  /** The dedup-at-ingest GATE, driver-verified: a holdout slice of the
    * corpus (doc_id ≡ 5 mod 10) arrives as an ingest batch against the
    * index of everything else; each document gets an accept/reject
    * verdict with its best indexed match. The holdout residue is chosen
    * to straddle the planted near-dup structure, so both verdicts occur
    * at every SF. Oracle = the full from-scratch recompute (bands,
    * candidates, exact Jaccard, per-doc best-match argmax with the same
    * deterministic tie-break). */
  val neardupIngest = GQuery(
    "neardup_ingest",
    (s, d) => ingestVerdicts(s,
      Tables.documents(s, d).where(col("doc_id") % 10 === 5)
        .select(col("doc_id"), col("text")),
      savedIngestPath(s, d)),
    Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL AND doc_id % 10 <> 5),
      sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS tok
        FROM corpus),
      sigs AS (
        SELECT doc_id,
               MIN(md5('0:' || tok)) AS s0, MIN(md5('1:' || tok)) AS s1,
               MIN(md5('2:' || tok)) AS s2, MIN(md5('3:' || tok)) AS s3,
               MIN(md5('4:' || tok)) AS s4, MIN(md5('5:' || tok)) AS s5,
               MIN(md5('6:' || tok)) AS s6, MIN(md5('7:' || tok)) AS s7
        FROM sh GROUP BY doc_id),
      bands AS (
        SELECT doc_id, 0 AS band_idx, md5(s0 || s1) AS band_key FROM sigs
        UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM sigs
        UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM sigs
        UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM sigs),
      probes AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL AND doc_id % 10 = 5),
      psh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS tok
        FROM probes),
      psigs AS (
        SELECT doc_id,
               MIN(md5('0:' || tok)) AS s0, MIN(md5('1:' || tok)) AS s1,
               MIN(md5('2:' || tok)) AS s2, MIN(md5('3:' || tok)) AS s3,
               MIN(md5('4:' || tok)) AS s4, MIN(md5('5:' || tok)) AS s5,
               MIN(md5('6:' || tok)) AS s6, MIN(md5('7:' || tok)) AS s7
        FROM psh GROUP BY doc_id),
      pbands AS (
        SELECT doc_id, 0 AS band_idx, md5(s0 || s1) AS band_key FROM psigs
        UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM psigs
        UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM psigs
        UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM psigs),
      cand AS (
        SELECT DISTINCT p.doc_id AS probe_id, b.doc_id AS match_id
        FROM pbands p JOIN bands b
          ON p.band_idx = b.band_idx AND p.band_key = b.band_key
             AND p.doc_id <> b.doc_id),
      tsets AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS toks
        FROM corpus),
      ptsets AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS toks
        FROM probes),
      ver AS (
        SELECT probe_id, match_id,
               CAST(len(list_intersect(pa.toks, mb.toks)) AS DOUBLE) /
               (len(pa.toks) + len(mb.toks)
                - len(list_intersect(pa.toks, mb.toks))) AS jac
        FROM cand
        JOIN ptsets pa ON pa.doc_id = probe_id
        JOIN tsets mb ON mb.doc_id = match_id),
      best AS (
        SELECT probe_id AS doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_matches,
               FIRST(match_id ORDER BY jac DESC, match_id)
                 AS best_match_id,
               FIRST(jac ORDER BY jac DESC, match_id) AS best_jaccard
        FROM ver WHERE jac >= 0.5 GROUP BY probe_id)
      SELECT p.doc_id,
             CASE WHEN b.n_matches IS NULL THEN 'accept'
                  ELSE 'reject' END AS verdict,
             COALESCE(b.n_matches, 0) AS n_matches,
             COALESCE(b.best_match_id, -1) AS best_match_id,
             COALESCE(b.best_jaccard, 0.0) AS best_jaccard
      FROM probes p LEFT JOIN best b ON b.doc_id = p.doc_id
      ORDER BY p.doc_id
    """))

  def all: Seq[GQuery] = Seq(neardupServe, neardupServeAppend,
    neardupServeDelete, neardupServeCompact, neardupIngest)
}
