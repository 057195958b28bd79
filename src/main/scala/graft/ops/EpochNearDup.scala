package graft.ops

import graft.GQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The near-dup LSH index's SERVE face on epoch manifests ([[Epoch]])
  * — the last serving tier off the maintenance-window contract. The
  * swap layout ([[NearDup]]) stays as the INGEST GATE's substrate by
  * design: the gate is a read-your-own-writes loop (each micro-batch's
  * verdicts must see the segments the previous batch appended —
  * Epoch.scala's adoption map explains why pinning that loop to a
  * snapshot would re-admit every dup since the pin). But the SERVE
  * face — "does this probe batch near-dup anything in the corpus?" —
  * has no such dependence: a pinned epoch read serves consistently
  * DURING ingest, with only the gate on latest state. This module is
  * that face:
  *
  *  - every indexed field is per-document state (band rows, shingle
  *    sets — no corpus statistics), so APPEND is purely two referenced
  *    delta dirs joining the `bands`/`toks` components (nothing merges)
  *    and DELETE is one accumulated tombstone component — the simplest
  *    epoch adoption in the engine;
  *  - COMPACT folds survivors into fresh sorted runs and clears the
  *    tombstones, one manifest flip;
  *  - the serve plan is [[NearDup.serveCore]] verbatim — same pushed
  *    `In` restrictions, same ceilings, same verification arithmetic —
  *    over the pinned manifest's multi-dir scans, so the two layouts
  *    cannot drift on what a match is.
  *
  * Exactly-once rides the manifest ledger (`app_`/`del_` keys);
  * mutations commit under [[Epoch.occ]] wherever concurrent writers
  * exist (the takedown leg, the sweep's compaction). 100 TB shape
  * unchanged from the swap layout: serving cost is |probe bands|
  * bucket lookups + |candidates| verification reads, corpus size
  * appears nowhere; mutations are ∝ |batch| / |doomed|.
  * `neardup_serve_epoch` must hash-equal `neardup_serve`'s full-corpus
  * oracle through the build→append→compact lifecycle;
  * `EpochNearDupSpec` races a reader against the mutations. */
object EpochNearDup {

  private val Bands = "bands"
  private val Toks = "toks"
  private val Tomb = "tombstones"

  private def current(s: SparkSession, path: String): Epoch.Manifest =
    Epoch.resolve(s, path).getOrElse(throw new IllegalStateException(
      s"EpochNearDup: no committed epoch at $path — build first"))

  private def writeBands(df: DataFrame, dir: String): Unit =
    df.repartitionByRange(8, col("band_key"))
      .sortWithinPartitions("band_key")
      .write.mode("overwrite").parquet(dir)

  private def writeToks(df: DataFrame, dir: String): Unit =
    df.repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)

  /** Epoch 0: band buckets + shingle verification table, empty
    * tombstones, empty ledger. */
  def build(s: SparkSession, docs: DataFrame, path: String): Unit = {
    val g = Epoch.genDir(s, path, 0L)
    writeBands(NearDup.bandRows(docs), s"$g/bands")
    writeToks(NearDup.docProjection(docs), s"$g/toks")
    Epoch.commit(s, path, Epoch.Manifest(0L,
      Map(Bands -> Seq("g0/bands"), Toks -> Seq("g0/toks"),
        Tomb -> Seq.empty),
      Seq.empty))
  }

  /** Append one document batch as epoch N+1: two delta dirs join the
    * components, old segment dirs referenced untouched (per-document
    * state — nothing merges). Replay-safe on `app_<batchId>`; empty
    * batches commit nothing; re-adding a PINNED-tombstoned id is
    * refused by name (compact first — the swap appends' tombstone-gate
    * contract, against the manifest's tombstone set). */
  def append(s: SparkSession, newDocs: DataFrame, path: String,
      batchId: Long): Unit = {
    val m = current(s, path)
    val key = s"app_$batchId"
    if (m.has(key)) return
    val proj = NearDup.docProjection(newDocs)
    if (proj.isEmpty) return
    Epoch.read(s, path, m, Tomb).foreach { t =>
      val readd = proj.select(col("doc_id"))
        .join(broadcast(t), Seq("doc_id")).limit(1).count()
      require(readd == 0L,
        s"EpochNearDup.append: batch re-adds tombstoned doc ids at " +
          s"$path — compact first (tombstones fold in), then append")
    }
    val g = Epoch.genDir(s, path, m.next)
    writeBands(NearDup.bandRows(newDocs), s"$g/bands")
    writeToks(proj, s"$g/toks")
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      m.components
        .updated(Bands, m.components(Bands) :+ s"g${m.next}/bands")
        .updated(Toks, m.components(Toks) :+ s"g${m.next}/toks"),
      m.applied :+ key))
  }

  /** Tombstone-delete a doc-id batch as epoch N+1: the accumulated
    * tombstone set is the WHOLE mutation (no statistics to subtract).
    * Replay-safe on `del_<batchId>`; already-tombstoned ids subtract
    * nothing; an all-duplicate batch commits nothing. */
  def delete(s: SparkSession, docIds: DataFrame, path: String,
      batchId: Long): Unit = {
    val m = current(s, path)
    val key = s"del_$batchId"
    if (m.has(key)) return
    val ids = docIds.select(col("doc_id").cast(LongType)).distinct()
    val oldTomb = Epoch.read(s, path, m, Tomb)
    val fresh = oldTomb
      .map(t => ids.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(ids)
      .localCheckpoint(true)
    if (fresh.isEmpty) return
    val g = Epoch.genDir(s, path, m.next)
    oldTomb.map(_.unionByName(fresh)).getOrElse(fresh)
      .coalesce(1).write.mode("overwrite").parquet(s"$g/tombstones")
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      m.components.updated(Tomb, Seq(s"g${m.next}/tombstones")),
      m.applied :+ key))
  }

  /** Fold appended deltas + tombstones into one fresh generation:
    * survivors re-range-partitioned into `nFiles` sorted runs per
    * component, tombstones cleared — one manifest flip. Idempotent
    * without a ledger key (re-compacting an already-compacted epoch
    * commits an equal one). */
  def compact(s: SparkSession, path: String, nFiles: Int = 8): Unit = {
    val m = current(s, path)
    val g = Epoch.genDir(s, path, m.next)
    val tomb = Epoch.read(s, path, m, Tomb)
    def minus(df: DataFrame) = tomb
      .map(t => df.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(df)
    minus(Epoch.read(s, path, m, Bands).get)
      .repartitionByRange(nFiles, col("band_key"))
      .sortWithinPartitions("band_key")
      .write.mode("overwrite").parquet(s"$g/bands")
    minus(Epoch.read(s, path, m, Toks).get)
      .repartitionByRange(nFiles, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$g/toks")
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      Map(Bands -> Seq(s"g${m.next}/bands"),
        Toks -> Seq(s"g${m.next}/toks"),
        Tomb -> Seq.empty),
      m.applied))
  }

  /** Serve a probe batch against ONE pinned manifest — every directory
    * the query reads (bands, toks, tombstones) comes from `m`, which
    * is what makes a concurrent epoch commit invisible to this query.
    * Plan ≡ [[NearDup.serveCore]] (shared): pushed `In` bucket
    * lookups, candidate-bounded verification, exact Jaccard. */
  def servedOn(s: SparkSession, path: String, m: Epoch.Manifest,
      probes: DataFrame, tau: Double = NearDup.Tau): DataFrame = {
    val tomb = Epoch.read(s, path, m, Tomb)
    def minus(df: DataFrame) = tomb
      .map(t => df.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(df)
    NearDup.serveCore(s, probes, tau,
      bandsFor = keys => minus {
        val scan = Epoch.read(s, path, m, Bands).get
        if (keys.length <= NearDup.MaxInPushdown)
          scan.where(col("band_key").isin(keys: _*))
        else scan
      },
      toksFor = ids => minus {
        val scan = Epoch.read(s, path, m, Toks).get
        if (ids.length <= NearDup.MaxInPushdown)
          scan.where(col("doc_id").isin(ids: _*))
        else scan
      })
  }

  /** Resolve-then-serve: the reader face. */
  def serve(s: SparkSession, path: String, probes: DataFrame,
      tau: Double = NearDup.Tau): DataFrame =
    servedOn(s, path, current(s, path), probes, tau)

  /** Per-process epoch layout through the FULL serve-safe lifecycle —
    * build(even half) → append(odd half) → compact → prune. */
  private val saved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedEpochPath(s: SparkSession, d: String): String =
    graft.BuildOnce.memo(saved, d) {
      val path = s"${graft.GraftSession.scratchDir}/neardup_epoch_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = graft.Tables.documents(s, d)
      build(s, docs.where(col("doc_id") % 2 === 0), path)
      append(s, docs.where(col("doc_id") % 2 === 1), path, batchId = 1L)
      compact(s, path)
      Epoch.prune(s, path, keep = 2)
      path
    }

  /** The serve face on the epoch layout, driver-verified: the full
    * lifecycle (build half → append half → compact → prune) must serve
    * the probe batch exactly as `neardup_serve`'s full-corpus oracle
    * computes — the manifest layout invisible in the answer, every
    * mutation step an atomic flip a concurrent probe could overlap
    * safely (`EpochNearDupSpec` races exactly that). The ingest GATE
    * deliberately stays on the swap layout's latest-state reads. */
  val neardupServeEpoch = GQuery(
    "neardup_serve_epoch",
    (s, d) => serve(s, savedEpochPath(s, d), NearDup.probeDocs(s, d)),
    Some(NearDup.oracleFor("")))

  def all: Seq[GQuery] = Seq(neardupServeEpoch)
}
