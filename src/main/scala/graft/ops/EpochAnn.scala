package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The float-IVF vector index on EPOCH manifests ([[Epoch]]) — the
  * one way an [[Ann]] index is persisted, maintained and read. Every
  * mutation writes new generation dirs and publishes them behind ONE
  * manifest rename, so centroids and assigned lists always flip
  * together: a reader pins one manifest and can never pair new lists
  * with old centroids, and serving needs no maintenance window.
  *
  * Index semantics are the SHARED [[Ann]] code paths — assignment,
  * search and the k-means refit ([[Ann.assign]], [[Ann.query]] over
  * the loaded [[Ann.IvfIndex]], [[Ann.meanCentroids]]) — and
  * [[EpochIvfpq]] reuses them, so the two vector tiers cannot drift on
  * what a cell, a cosine or a refit is. Mutations publish epochs:
  *
  *  - APPEND (∝ |batch|): the batch assigns against the PINNED
  *    centroids and lands as one new cell-partitioned delta dir
  *    REFERENCED beside the old ones — bit-identical to a one-pass
  *    assignment under frozen centroids;
  *  - DELETE (∝ |doomed|): accumulated tombstones as a fresh dir;
  *  - UPDATE (upsert): survivors-minus-batch plus the re-assigned
  *    batch as ONE generation under ONE ledger key;
  *  - COMPACT: survivors re-written into one generation, tombstones
  *    cleared;
  *  - RETRAIN: warm-start Lloyd refit over the pinned survivors, new
  *    centroids AND re-assigned lists in one epoch.
  *
  * Reads are [[load]]: resolve once, pin every directory. The multi-
  * root cell-partitioned scan keeps partition pruning (a probed cell
  * reads that cell's directories across every referenced delta).
  * Exactly-once append/delete/update via the manifest ledger
  * (`app_<id>` / `del_<id>` / `upd_<id>`). `sim_ivf_append` drives
  * build → append → serve under the recall oracle; `EpochAnnSpec` pins
  * snapshot isolation across a retrain, ledger replays, and
  * lifecycle ≡ an in-memory rebuild. */
object EpochAnn {

  private val Assigned = "assigned"
  private val Cents = "centroids"
  private val Tomb = "tombstones"

  /** Epoch 0: built index, one generation. */
  def build(s: SparkSession, embeddings: DataFrame, path: String,
      k: Int, iters: Int = 2): Unit = {
    val g = Epoch.genDir(s, path, 0L)
    val idx = Ann.build(embeddings, k = k, iters = iters)
    writeGen(s, g, idx)
    Epoch.commit(s, path, Epoch.Manifest(0L,
      Map(Assigned -> Seq("g0/assigned"), Cents -> Seq("g0/centroids"),
        Tomb -> Seq.empty),
      Seq.empty))
  }

  private def writeGen(s: SparkSession, g: String, idx: Ann.IvfIndex)
      : Unit = {
    idx.assigned.write.mode("overwrite")
      .partitionBy("cell").parquet(s"$g/assigned")
    import s.implicits._
    idx.centroids.toDF("centroid_id", "centroid_emb")
      .write.mode("overwrite").parquet(s"$g/centroids")
  }

  private def current(s: SparkSession, path: String): Epoch.Manifest =
    Epoch.resolve(s, path).getOrElse(throw new IllegalStateException(
      s"EpochAnn: no committed epoch at $path — build first"))

  /** The assigned component as a UNION of per-generation reads — a
    * cell-partitioned layout cannot share one relation across
    * generation roots (partition inference refuses differing root
    * names), and the union loses nothing: a `cell isin (…)` probe
    * filter pushes through the union into EVERY branch's scan as
    * partition pruning. */
  private def readAssigned(s: SparkSession, path: String,
      m: Epoch.Manifest): DataFrame =
    m.dirs(path, Assigned).map(graft.Pq.read(s, _))
      .reduce(_ unionByName _)

  // r20 §5: centroids resident per pinned component-dir set (same
  // immutable-generation reasoning as EpochIvfpq's caches) — one
  // collect per epoch, not per served query. ACCRETIVE by design
  // (snapshot readers pin OLD generations concurrently with current
  // serving — one-generation-per-path would thrash between them), so
  // r21 adds the fieldsCache-style size bound: the cache cannot grow
  // past the cap across unbounded retrain/compact cycles.
  private val CentCacheMax = 256
  private val centCache = scala.collection.concurrent.TrieMap
    .empty[String, Seq[(Long, Seq[Double])]]

  /** The pinned centroid table in id order — the order [[Ann.build]]
    * and [[Ann.meanCentroids]] produce. Order is semantic: ties in
    * [[Ann.assign]]'s fold (a zero-norm vector ties every cell) go to
    * the earlier-listed centroid, and a parquet read returns rows in
    * file-split order, so an unsorted read would assign appended ties
    * differently from a one-pass build. Shared with [[EpochIvfpq]]. */
  private[ops] def centroidsOf(s: SparkSession, path: String,
      m: Epoch.Manifest): Seq[(Long, Seq[Double])] = {
    if (centCache.size > CentCacheMax) centCache.clear()
    graft.BuildOnce.memo(centCache, m.dirs(path, Cents).mkString(";"))(
      Epoch.read(s, path, m, Cents).get
        .select(col("centroid_id").cast(LongType), col("centroid_emb"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        .sortBy(_._1))
  }

  /** Load ONE pinned epoch as the shared [[Ann.IvfIndex]] — after
    * this, every [[Ann]] read path (query, serveBatch, kNN join,
    * cellSkew) works unchanged. Pinned tombstones anti-join the
    * assigned rows (broadcast; the cell restriction still pushes below
    * the join), so every search path observes the deletes. */
  def load(s: SparkSession, path: String): Ann.IvfIndex =
    loadOn(s, path, current(s, path))

  /** [[load]] against an explicitly pinned manifest — the snapshot-
    * isolated reader face. */
  def loadOn(s: SparkSession, path: String, m: Epoch.Manifest)
      : Ann.IvfIndex = {
    val assigned = readAssigned(s, path, m)
    Ann.IvfIndex(centroidsOf(s, path, m),
      Epoch.read(s, path, m, Tomb)
        .map(t => assigned.join(broadcast(t), Seq("vec_id"),
          "left_anti"))
        .getOrElse(assigned))
  }

  /** Append under frozen PINNED centroids as one delta generation.
    * Ledger-replay-safe on `app_<batchId>`; empty batches commit
    * nothing; a batch whose id or embedding type differs from the
    * layout is refused by name ([[Ann.appendSchemaGate]]); re-adding
    * tombstoned ids is refused (compact first). */
  def append(s: SparkSession, newVectors: DataFrame, path: String,
      batchId: Long): Unit = {
    val m = current(s, path)
    val key = s"app_$batchId"
    if (m.has(key)) return
    Ann.appendSchemaGate(s, m.dirs(path, Assigned).head, newVectors,
      "vec_id", "embedding", "EpochAnn.append")
    if (newVectors.isEmpty) return
    Epoch.read(s, path, m, Tomb).foreach { t =>
      require(newVectors.select(col("vec_id"))
        .join(broadcast(t), Seq("vec_id")).limit(1).count() == 0L,
        s"EpochAnn.append: batch re-adds tombstoned vec ids at $path " +
          "— compact first (tombstones fold in), then append")
    }
    val g = Epoch.genDir(s, path, m.next)
    Ann.assign(newVectors, centroidsOf(s, path, m), "vec_id",
      "embedding")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$g/delta")
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      m.components.updated(Assigned,
        m.components(Assigned) :+ s"g${m.next}/delta"),
      m.applied :+ key))
  }

  /** Tombstone-delete under `del_<batchId>`; ids absent from the
    * pinned residents tombstone nothing, an all-absent batch commits
    * nothing. */
  def delete(s: SparkSession, ids: DataFrame, path: String,
      batchId: Long): Unit = {
    val m = current(s, path)
    val key = s"del_$batchId"
    if (m.has(key)) return
    val wanted = ids.select(col("vec_id").cast(LongType)).distinct()
    val resident = readAssigned(s, path, m)
      .select(col("vec_id"))
    val oldTomb = Epoch.read(s, path, m, Tomb)
    val fresh = oldTomb
      .foldLeft(wanted.join(resident, Seq("vec_id"), "left_semi"))(
        (d, t) => d.join(broadcast(t), Seq("vec_id"), "left_anti"))
      .localCheckpoint(true)
    if (fresh.isEmpty) return
    val g = Epoch.genDir(s, path, m.next)
    oldTomb.map(_.unionByName(fresh)).getOrElse(fresh)
      .coalesce(1).write.mode("overwrite").parquet(s"$g/tombstones")
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      m.components.updated(Tomb, Seq(s"g${m.next}/tombstones")),
      m.applied :+ key))
  }

  /** UPSERT a batch as ONE epoch under `upd_<batchId>` — the batch's
    * stale versions go and its new versions land, re-assigned under
    * the PINNED centroids, in the same manifest rename, so no reader
    * observes the delete without the re-add. Ids absent from the index
    * upsert to inserts. */
  def update(s: SparkSession, newVectors: DataFrame, path: String,
      batchId: Long): Unit = {
    val m = current(s, path)
    upsert(s, path, m, batchId, Assigned, newVectors)(
      loadOn(s, path, m).assigned,
      Ann.assign(_, centroidsOf(s, path, m), "vec_id", "embedding"))
  }

  /** The upsert both vector tiers share ([[update]],
    * [[EpochIvfpq.update]]): survivors-minus-batch plus the batch
    * placed by `place` (cell-assign, plus PQ-encode on the compressed
    * tier) publish as ONE fresh `component` generation with the
    * tombstones cleared. A tombstone+delta pair can NOT express an
    * upsert — the tombstones anti-join the whole union at load, so
    * they would swallow the re-added rows — so the batch's ids are
    * compacted out instead, keeping load one anti-join with no id
    * exemptions. Cost is ∝ residents (like compact); workloads needing
    * ∝|batch| upserts between compactions chain delete + append epochs
    * of DISJOINT-id batches instead. `residents` (the pinned
    * tombstone-free rows) is only evaluated when the ledger does not
    * hold the key. */
  private[ops] def upsert(s: SparkSession, path: String,
      m: Epoch.Manifest, batchId: Long, component: String,
      newVectors: DataFrame)(residents: => DataFrame,
      place: DataFrame => DataFrame): Unit = {
    val key = s"upd_$batchId"
    if (m.has(key)) return
    val batch = newVectors.select(col("vec_id").cast(LongType),
      col("embedding")).localCheckpoint(true)
    val survivors = residents
      .join(broadcast(batch.select(col("vec_id"))), Seq("vec_id"),
        "left_anti")
    val g = Epoch.genDir(s, path, m.next)
    survivors.unionByName(place(batch))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$g/$component")
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      m.components
        .updated(component, Seq(s"g${m.next}/$component"))
        .updated(Tomb, Seq.empty),
      m.applied :+ key))
  }

  /** Fold deltas + tombstones into one fresh generation (centroids
    * carried; idempotent, no ledger key — recompacting an already
    * compacted epoch is an equal epoch). */
  def compact(s: SparkSession, path: String): Unit = {
    val m = current(s, path)
    val g = Epoch.genDir(s, path, m.next)
    loadOn(s, path, m).assigned
      .write.mode("overwrite").partitionBy("cell").parquet(s"$g/assigned")
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      m.components
        .updated(Assigned, Seq(s"g${m.next}/assigned"))
        .updated(Tomb, Seq.empty),
      m.applied))
  }

  /** Warm-start Lloyd refit over the PINNED survivors — new centroids
    * and the full re-assignment publish as ONE epoch, so no reader can
    * pair new lists with old centroids. Subsumes [[compact]]. */
  def retrain(s: SparkSession, path: String, iters: Int = 2): Unit = {
    val m = current(s, path)
    val idx = loadOn(s, path, m)
    require(idx.centroids.nonEmpty,
      s"EpochAnn.retrain: $path has no centroids")
    val dim = idx.centroids.head._2.length
    val resident = idx.assigned.select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)
    var cents = idx.centroids
    for (_ <- 1 to iters)
      cents = Ann.meanCentroids(
        Ann.assign(resident, cents, "vec_id", "embedding"),
        "embedding", dim)
    val g = Epoch.genDir(s, path, m.next)
    writeGen(s, g,
      Ann.IvfIndex(cents,
        Ann.assign(resident, cents, "vec_id", "embedding")))
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      Map(Assigned -> Seq(s"g${m.next}/assigned"),
        Cents -> Seq(s"g${m.next}/centroids"),
        Tomb -> Seq.empty),
      m.applied))
  }
}
