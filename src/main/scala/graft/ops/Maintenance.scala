package graft.ops

import graft.GQuery
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Unified maintenance policy + sweep — ONE cadence decision for every
  * persisted index layout, completing what each layout already has
  * mechanically (append/delete/compact faces) with the WHEN: the
  * reference runs its whole refresh on a timer (full reload each
  * cycle, `updatecalaccessrawdata.py:~100-200`); a 100 TB deployment
  * compacts each index exactly when growth or deletions have degraded
  * it, and needs that judged by one shared statistic instead of one
  * ad-hoc rule per index.
  *
  * The probe is two cheap reads per layout — no data scan:
  *
  *  - SEGMENT COUNT: parquet data files in the layout's primary
  *    directory (an FS listing; each append leaves new segment files,
  *    and per-query cost grows as matched-row-groups × segments);
  *  - TOMBSTONE RATIO: tombstoned rows / data rows, both from parquet
  *    footer counts (metadata-only `count()` — row-group stats, no
  *    column IO). Deletes are served through a bounded anti-join
  *    segment; the ratio bounds the wasted scan fraction AND the
  *    anti-join side's growth.
  *
  * [[sweep]] walks registered layouts, probes each against the policy,
  * and applies the due operation through the layout's OWN maintenance
  * face (postings/near-dup/epoch-layout compaction, IVF and IVF-PQ
  * retrain-or-compact via the existing [[Ann.needsRetrain]] skew
  * trigger) — the sweep adds no new mutation semantics, so every
  * crash/replay contract those faces document carries over verbatim;
  * all of them are idempotent, so re-running a crashed sweep under the
  * same batch id converges (the id tags the report for the operator's
  * ledger). `index_maintenance` drives build → grow → delete → sweep
  * → serve against the survivors oracle; `MaintenanceSpec` pins that
  * triggers fire iff their thresholds are hit. */
object Maintenance {

  /** The cadence knobs. `maxSegments`/`maxTombstoneRatio` gate
    * compaction; `maxCellSkew` gates the IVF retrain (same meaning as
    * [[Ann.needsRetrain]]). Latency-SLO knobs, not correctness ones —
    * serving is exact at any setting. */
  final case class Policy(maxSegments: Int = 16,
      maxTombstoneRatio: Double = 0.10, maxCellSkew: Double = 4.0,
      maxRetainedEpochs: Int = 8)

  /** One layout under sweep management. `kind` ∈ postings |
    * neardup | epoch_postings |
    * epoch_positional | epoch_suggest | epoch_ivf | epoch_ivfpq |
    * epoch_neardup | epoch_table | epoch_mv.
    * `registry` binds an epoch layout to the cross-tier snapshot
    * registry that pins it — `(registry layout path, tier name)` as
    * published by [[Snapshot.publish]]: the sweep's prune arm then
    * FLOORS this tier's retention at the oldest epoch any retained
    * registry snapshot still pins, making the horizon contract
    * Snapshot documents enforced instead of advisory. */
  final case class LayoutRef(kind: String, path: String,
      registry: Option[(String, String)] = None)

  /** The `kind`s [[sweep]] manages — the list in [[LayoutRef]]. */
  val kinds: Set[String] = Set("postings", "neardup", "epoch_postings",
    "epoch_positional", "epoch_suggest", "epoch_ivf", "epoch_ivfpq",
    "epoch_neardup", "epoch_table", "epoch_mv")

  /** What the probe saw and what the sweep did (`action` ∈ none |
    * compact | retrain | prune). For epoch layouts the sweep also
    * reports the ORPHAN statistics ([[Epoch.orphans]]): claims above
    * the committed head with their age, and bytes under above-head
    * staging generations — a dead OCC writer's residue, invisible to
    * prune by design ([[Epoch.prune]] cannot tell a crash orphan from
    * a live writer's in-flight dir). Operator guidance: an orphan
    * claim OLDER than any plausible commit (minutes, not the 20 ms
    * poll tick) blocks every later occ at its number — verify the
    * epoch was never committed, [[Epoch.breakClaim]] it, and the next
    * committed epoch at that number reclaims the staging bytes
    * ([[Epoch.genDir]] clears first). */
  final case class SweepResult(kind: String, path: String,
      segments: Int, tombstoneRatio: Double, action: String,
      batchId: Long, orphanClaims: Int = 0, oldestClaimAgeMs: Long = 0L,
      orphanStagingBytes: Long = 0L)

  /** The primary (corpus-scale) data directories the statistics are
    * read from — one for the swap layouts, the CURRENT manifest's
    * `lists` component dirs for the epoch layout (each append adds a
    * referenced delta dir, so the epoch segment count grows exactly
    * like the swap layout's file count). */
  private def dataDirs(s: SparkSession, ref: LayoutRef): Seq[String] =
    ref.kind match {
      case "postings" => Seq(s"${ref.path}/lists")
      case "neardup" => Seq(s"${ref.path}/bands")
      case "epoch_postings" | "epoch_positional" =>
        Epoch.resolve(s, ref.path).map(_.dirs(ref.path, "lists"))
          .getOrElse(Seq.empty)
      case "epoch_neardup" =>
        Epoch.resolve(s, ref.path).map(_.dirs(ref.path, "bands"))
          .getOrElse(Seq.empty)
      case "epoch_table" =>
        // delta generations ride `data`; upsert generations ride
        // `merge` — both accumulate until compact folds them
        Epoch.resolve(s, ref.path)
          .map(m => m.dirs(ref.path, "data") ++ m.dirs(ref.path, "merge"))
          .getOrElse(Seq.empty)
      case "epoch_suggest" =>
        // one component, named by the dictionary the layout holds
        Epoch.resolve(s, ref.path)
          .map(m => m.components.keys.toSeq.flatMap(m.dirs(ref.path, _)))
          .getOrElse(Seq.empty)
      case "epoch_ivf" =>
        Epoch.resolve(s, ref.path).map(_.dirs(ref.path, "assigned"))
          .getOrElse(Seq.empty)
      case "epoch_ivfpq" =>
        Epoch.resolve(s, ref.path).map(_.dirs(ref.path, "encoded"))
          .getOrElse(Seq.empty)
      case "epoch_mv" =>
        Epoch.resolve(s, ref.path).map(_.dirs(ref.path, "view"))
          .getOrElse(Seq.empty)
      case k => throw unknownKind(k)
    }

  private def unknownKind(k: String) =
    new IllegalArgumentException(s"Maintenance: unknown layout kind $k")

  /** Parquet data files under `dir`, recursively (cell-partitioned
    * layouts nest files under cell=N subdirectories) — one FS listing,
    * no file IO. */
  private[ops] def segmentCount(s: SparkSession, dir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val it = fs.listFiles(root, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next().getPath.getName
      if (!f.startsWith("_") && !f.startsWith(".")) n += 1
    }
    n
  }

  /** tombstoned rows / data rows — both metadata-only counts (parquet
    * footer row counts; Spark's count over a bare scan never reads
    * column data). 0 on a never-deleted layout. The epoch layout's
    * tombstone set comes from its pinned manifest instead of the
    * `tombstones` side segment. */
  private[ops] def tombstoneRatio(s: SparkSession, ref: LayoutRef)
      : Double = {
    val tomb = ref.kind match {
      case k if k.startsWith("epoch_") => Epoch.resolve(s, ref.path)
        .flatMap(m => Epoch.read(s, ref.path, m, "tombstones"))
      case _ => Layout.tombstonesOpt(s, ref.path)
    }
    tomb.map { t =>
      val dirs = dataDirs(s, ref)
      val data = math.max(1L,
        if (dirs.isEmpty) 0L else graft.Pq.read(s, dirs: _*).count())
      t.count().toDouble / data.toDouble
    }.getOrElse(0.0)
  }

  /** The shared trigger: too many segments OR too much tombstoned
    * mass. */
  def needsCompact(s: SparkSession, ref: LayoutRef, policy: Policy)
      : Boolean =
    dataDirs(s, ref).map(segmentCount(s, _)).sum > policy.maxSegments ||
      tombstoneRatio(s, ref) > policy.maxTombstoneRatio

  /** The retention floor a registry-bound tier must keep: prune
    * retains the newest K manifests and tier epochs are contiguous
    * (every commit is head+1), so covering the OLDEST epoch any
    * retained registry snapshot pins means keeping
    * `head − oldestPin + 1` — the [[Snapshot.pruneAll]] arithmetic,
    * applied from the sweep side so a sweep can never retire an epoch
    * a retained snapshot still pins (pruning the registry first is
    * what releases it). Unbound layouts keep the default horizon. */
  private def pinnedKeep(s: SparkSession, ref: LayoutRef,
      default: Int = 3): Int =
    ref.registry match {
      case None => default
      case Some((regPath, tier)) =>
        val pins = Epoch.committedList(s, regPath)
          .flatMap(n => Epoch.resolveAsOf(s, regPath, n))
          .flatMap(_.components.get(tier).flatMap(_.headOption)
            .map(_.toLong))
        if (pins.isEmpty) default
        else {
          val head = Epoch.resolve(s, ref.path).map(_.epoch)
            .getOrElse(0L)
          math.max(default, (head - pins.min + 1).toInt)
        }
    }

  /** Probe every layout, apply what is due, report what happened.
    * IVF routes skew → retrain (subsumes compaction) before the
    * shared compact trigger; every applied op is the layout's own
    * idempotent maintenance face, so a crashed sweep re-run under the
    * same `batchId` converges. Same maintenance-window contract as
    * the underlying ops for the SWAP layouts; the epoch layouts
    * mutate serve-safe AND multi-writer-safe — every epoch writer in
    * the engine commits through [[Epoch.occ]] (this sweep, the
    * streaming ingest faces `StreamRunner.postingsIngestEpochStream` /
    * `vectorIngestEpochStream`, [[Snapshot.ingestBoth]]'s tier
    * appends, and [[Takedown]]'s epoch legs), so the sweep can run
    * BESIDE a live ingest worker: whoever wins the epoch-number claim
    * commits first and the loser rebases (`EpochOccSpec`). A layout
    * list naming a kind outside [[kinds]] (a retired swap kind such as
    * `ivf`) is refused whole, before any layout is touched. */
  def sweep(s: SparkSession, layouts: Seq[LayoutRef],
      policy: Policy = Policy(), batchId: Long = 0L): Seq[SweepResult] = {
    layouts.find(r => !kinds(r.kind)).foreach(r => throw unknownKind(r.kind))
    layouts.map { ref =>
      val segs = dataDirs(s, ref).map(segmentCount(s, _)).sum
      val ratio = tombstoneRatio(s, ref)
      val compactDue = segs > policy.maxSegments ||
        ratio > policy.maxTombstoneRatio
      val action = ref.kind match {
        case "postings" if compactDue =>
          TextQueries.postingsCompact(s, ref.path); "compact"
        case "neardup" if compactDue =>
          NearDup.neardupCompact(s, ref.path); "compact"
        // the serve-safe layouts: compaction/retrain publish a fresh
        // epoch (readers keep their pinned snapshots), then prune
        // retires generations beyond the retention horizon — FLOORED
        // at the oldest epoch any retained registry snapshot pins
        // when the layout is registry-bound ([[pinnedKeep]]). Each
        // mutation commits through [[Epoch.occ]] — the sweep is just
        // another optimistically-concurrent writer beside the
        // occ-committing ingest faces (EpochOccSpec races exactly
        // that). Prune itself is claim-aware (never touches
        // generations or claims above the committed head), so it
        // needs no claim.
        case "epoch_postings" if compactDue =>
          Epoch.occ(s, ref.path)(EpochPostings.compact(s, ref.path))
          Epoch.prune(s, ref.path, pinnedKeep(s, ref))
          "compact"
        case "epoch_ivf" if Ann.needsRetrain(EpochAnn.load(s, ref.path),
            policy.maxCellSkew) =>
          Epoch.occ(s, ref.path)(EpochAnn.retrain(s, ref.path))
          Epoch.prune(s, ref.path, pinnedKeep(s, ref))
          "retrain"
        case "epoch_ivf" if compactDue =>
          Epoch.occ(s, ref.path)(EpochAnn.compact(s, ref.path))
          Epoch.prune(s, ref.path, pinnedKeep(s, ref))
          "compact"
        case "epoch_positional" if compactDue =>
          Epoch.occ(s, ref.path)(EpochPositional.compact(s, ref.path))
          Epoch.prune(s, ref.path, pinnedKeep(s, ref))
          "compact"
        case "epoch_neardup" if compactDue =>
          Epoch.occ(s, ref.path)(EpochNearDup.compact(s, ref.path))
          Epoch.prune(s, ref.path, pinnedKeep(s, ref))
          "compact"
        case "epoch_table" if compactDue =>
          Epoch.occ(s, ref.path)(EpochTable.compact(s, ref.path))
          Epoch.prune(s, ref.path, pinnedKeep(s, ref))
          "compact"
        case "epoch_ivfpq" if {
          val idx = EpochIvfpq.load(s, ref.path)
          Ann.needsRetrain(Ann.IvfIndex(idx.centroids, idx.encoded),
            policy.maxCellSkew)
        } =>
          Epoch.occ(s, ref.path)(EpochIvfpq.retrain(s, ref.path))
          Epoch.prune(s, ref.path, pinnedKeep(s, ref))
          "retrain"
        case "epoch_ivfpq" if compactDue =>
          Epoch.occ(s, ref.path)(EpochIvfpq.compact(s, ref.path))
          Epoch.prune(s, ref.path, pinnedKeep(s, ref))
          "compact"
        // epoch layouts whose data never degrades (the suggest
        // dictionary and the MV partials rewrite wholesale per
        // mutation) — and any other
        // epoch layout the compact triggers left alone — still accrete
        // HISTORY: retired generations past the retention horizon are
        // the one statistic left to manage. The pin floor applies here
        // too: a tier whose old epochs are all still registry-pinned
        // prunes NOTHING until the registry itself is pruned.
        case k if k.startsWith("epoch_") &&
            Epoch.committedEpochs(s, ref.path) >
              policy.maxRetainedEpochs =>
          Epoch.prune(s, ref.path, pinnedKeep(s, ref))
          "prune"
        case _ => "none"
      }
      if (ref.kind.startsWith("epoch_")) {
        val o = Epoch.orphans(s, ref.path)
        SweepResult(ref.kind, ref.path, segs, ratio, action, batchId,
          o.claims.size, if (o.claims.isEmpty) 0L else o.claims.map(_._2).max,
          o.stagingBytes)
      } else SweepResult(ref.kind, ref.path, segs, ratio, action, batchId)
    }
  }

  /** Postings layout taken through the POLICY-DRIVEN lifecycle the
    * sweep manages: built on half the corpus, grown by three append
    * batches (segment inflation), ~1/7 deleted (tombstone mass), then
    * ONE [[sweep]] whose thresholds both triggers exceed — the
    * compaction it applies must leave serving ≡ a survivors rebuild.
    * The build asserts the trigger actually fired (a sweep that
    * no-ops would still pass the oracle — the require is the proof
    * the policy path ran). */
  private val saved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedMaintPath(s: SparkSession, d: String): String =
    graft.BuildOnce.memo(saved, d) {
      val path = s"${graft.GraftSession.scratchDir}/maint_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = graft.Tables.documents(s, d)
      TextQueries.buildPostings(s, docs.where(col("doc_id") % 2 === 0),
        path)
      Seq(1, 3, 5).foreach(r =>
        TextQueries.postingsAppend(s,
          docs.where(pmod(col("doc_id"), lit(6)) === r), path))
      TextQueries.postingsDelete(s,
        docs.where(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"),
        path)
      val ref = LayoutRef("postings", path)
      val policy = Policy(maxSegments = 8, maxTombstoneRatio = 0.05)
      require(needsCompact(s, ref, policy),
        s"index_maintenance: the grown+deleted layout at $path did " +
          "not trip the compact policy — the entry would not exercise " +
          "the sweep")
      val result = sweep(s, Seq(ref), policy, batchId = 1L)
      require(result.head.action == "compact",
        s"index_maintenance: sweep chose ${result.head.action}")
      path
    }

  /** The policy-driven sweep, driver-verified end to end: after the
    * sweep compacts the grown-and-deleted layout, BM25 serving must
    * hash-match a from-scratch rebuild over the survivors (the
    * `bm25_serve_delete` oracle — same doomed residue), proving the
    * sweep's compaction folded segments and tombstones without
    * touching semantics. */
  val indexMaintenance = GQuery(
    "index_maintenance",
    (s, d) => {
      val path = savedMaintPath(s, d)
      val lists = TextQueries.servedLists(s, path, TextQueries.bm25Terms)
      val dfs = graft.Pq.read(s, s"$path/df")
        .where(col("term").isin(TextQueries.bm25Terms: _*))
      TextQueries.bm25TopK(lists, dfs, graft.Pq.read(s, s"$path/stats"))
    },
    TextQueries.bm25ServeDelete.oracle)

  def all: Seq[GQuery] = Seq(indexMaintenance)
}
