package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The COMPRESSED (IVF-PQ) vector index on EPOCH manifests ([[Epoch]])
  * — [[EpochAnn]]'s twin for the [[Ivfpq]] index, and the one way it
  * is persisted, maintained and read. The refreshed quantizers and the
  * re-encoded corpus publish as ONE manifest rename, so a pinned reader
  * keeps a coherent (codes, books, centroids) triple by construction.
  * On this index a mixed-generation read would not be a stale answer
  * but a WRONG one: ADC distances decode codes through the codebooks
  * they were encoded with.
  *
  * Index semantics are the SHARED [[Ivfpq]] code paths — [[load]]
  * returns a plain [[Ivfpq.IvfPqIndex]], so the two-phase search
  * (cell-pruned codes-only ADC scan → exact re-rank), the filtered
  * variant, and the kNN join all work unchanged. Mutations:
  *
  *  - APPEND (∝ |batch|): cell-assign against the PINNED centroids +
  *    PQ-encode with the PINNED books ([[graft.functions.PqEncode]],
  *    the identical kernel the build used — bit-identical codes), one
  *    new cell-partitioned delta dir referenced beside the old ones;
  *  - DELETE (∝ |doomed|): accumulated tombstones as a fresh dir,
  *    anti-joined below BOTH search phases at [[load]];
  *  - UPDATE (upsert): survivors-minus-batch plus the re-encoded batch
  *    as ONE epoch under ONE ledger key (`upd_<id>`) — the upsert
  *    [[EpochAnn.upsert]] shares with the float tier;
  *  - COMPACT: survivors into one generation, tombstones cleared,
  *    quantizers carried;
  *  - RETRAIN: full [[Ivfpq.build]] refit over the pinned survivors —
  *    encoded + centroids + books flip together, subsumes compact.
  *
  * Exactly-once via the manifest ledger (`app_<id>` / `del_<id>` /
  * `upd_<id>`). `sim_ivfpq_append` drives build → append → serve under
  * the standard recall oracle; `EpochIvfpqSpec` pins snapshot
  * isolation across a retrain (the coherent-triple property), ledger
  * replays, the update roundtrip, and lifecycle ≡ an in-memory
  * rebuild. */
object EpochIvfpq {

  private val Encoded = "encoded"
  private val Cents = "centroids"
  private val Books = "books"
  private val Tomb = "tombstones"

  /** Epoch 0: built index, one generation. */
  def build(s: SparkSession, embeddings: DataFrame, path: String,
      k: Int, m: Int, codes: Int, iters: Int = 2): Unit = {
    val g = Epoch.genDir(s, path, 0L)
    writeGen(s, g, Ivfpq.build(embeddings, k = k, m = m, codes = codes,
      iters = iters))
    Epoch.commit(s, path, Epoch.Manifest(0L,
      Map(Encoded -> Seq("g0/encoded"), Cents -> Seq("g0/centroids"),
        Books -> Seq("g0/books"), Tomb -> Seq.empty),
      Seq.empty))
  }

  private def writeGen(s: SparkSession, g: String,
      idx: Ivfpq.IvfPqIndex): Unit = {
    idx.encoded.write.mode("overwrite")
      .partitionBy("cell").parquet(s"$g/encoded")
    import s.implicits._
    idx.centroids.toDF("centroid_id", "centroid_emb")
      .write.mode("overwrite").parquet(s"$g/centroids")
    idx.books.zipWithIndex.flatMap { case (book, sub) =>
      book.zipWithIndex.map { case (cent, code) => (sub, code, cent) }
    }.toDF("sub", "code", "centroid")
      .write.mode("overwrite").parquet(s"$g/books")
  }

  private def current(s: SparkSession, path: String): Epoch.Manifest =
    Epoch.resolve(s, path).getOrElse(throw new IllegalStateException(
      s"EpochIvfpq: no committed epoch at $path — build first"))

  /** Union of the per-generation encoded reads — same multi-root
    * cell-partitioned shape as [[EpochAnn.readAssigned]]: a probe's
    * `cell isin (…)` pushes through the union into every branch as
    * partition pruning. */
  private def readEncoded(s: SparkSession, path: String,
      m: Epoch.Manifest): DataFrame =
    m.dirs(path, Encoded).map(graft.Pq.read(s, _))
      .reduce(_ unionByName _)

  // r20 §5: codebooks resident per pinned component-dir set — a
  // committed generation's book files are immutable (epoch layouts
  // only ever ADD generations), so the manifest's dir list is a
  // complete staleness key and the (m·codes·dsub)-bounded collect runs
  // once per epoch instead of once per served query. ACCRETIVE by
  // design (snapshot readers pin OLD generations concurrently with
  // current serving); r21 adds the fieldsCache-style size bound so
  // unbounded retrain cycles cannot grow the cache without limit. The
  // coarse centroids share [[EpochAnn.centroidsOf]]'s cache.
  private val QuantCacheMax = 256
  private val bookCache = scala.collection.concurrent.TrieMap
    .empty[String, Seq[Seq[Seq[Double]]]]

  private def booksOf(s: SparkSession, path: String,
      m: Epoch.Manifest): Seq[Seq[Seq[Double]]] = {
    if (bookCache.size > QuantCacheMax) bookCache.clear()
    graft.BuildOnce.memo(bookCache, m.dirs(path, Books).mkString(";"))(
      Epoch.read(s, path, m, Books).get
        .select(col("sub").cast("int"), col("code").cast("int"),
          col("centroid"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (_, rows) => rows.sortBy(_._2).map(_._3).toSeq })
  }

  /** Load the CURRENT pinned epoch as a plain [[Ivfpq.IvfPqIndex]] —
    * every [[Ivfpq]] read path works unchanged on it. */
  def load(s: SparkSession, path: String): Ivfpq.IvfPqIndex =
    loadOn(s, path, current(s, path))

  /** [[load]] against an explicitly pinned manifest — the snapshot-
    * isolated reader face. */
  def loadOn(s: SparkSession, path: String, m: Epoch.Manifest)
      : Ivfpq.IvfPqIndex = {
    val books = booksOf(s, path, m)
    val encoded = readEncoded(s, path, m)
    Ivfpq.IvfPqIndex(EpochAnn.centroidsOf(s, path, m),
      books.length, books.head.head.length, books,
      Epoch.read(s, path, m, Tomb)
        .map(t => encoded.join(broadcast(t), Seq("vec_id"), "left_anti"))
        .getOrElse(encoded))
  }

  /** Append under the PINNED frozen quantizers as one delta
    * generation. Ledger-replay-safe on `app_<batchId>`; empty batches
    * commit nothing; a batch whose id or embedding type differs from
    * the layout is refused by name ([[Ann.appendSchemaGate]]);
    * re-adding tombstoned ids is refused (compact first — the
    * tombstone would swallow the re-added rows at load). */
  def append(s: SparkSession, newVectors: DataFrame, path: String,
      batchId: Long): Unit = {
    val m = current(s, path)
    val key = s"app_$batchId"
    if (m.has(key)) return
    Ann.appendSchemaGate(s, m.dirs(path, Encoded).head, newVectors,
      "vec_id", "embedding", "EpochIvfpq.append")
    if (newVectors.isEmpty) return
    Epoch.read(s, path, m, Tomb).foreach { t =>
      require(newVectors.select(col("vec_id"))
        .join(broadcast(t), Seq("vec_id")).limit(1).count() == 0L,
        s"EpochIvfpq.append: batch re-adds tombstoned vec ids at " +
          s"$path — compact first, then append")
    }
    val g = Epoch.genDir(s, path, m.next)
    encodeBatch(s, path, m, newVectors)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$g/delta")
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      m.components.updated(Encoded,
        m.components(Encoded) :+ s"g${m.next}/delta"),
      m.applied :+ key))
  }

  /** Cell-assign + PQ-encode a batch against the manifest's pinned
    * quantizers — the one projection [[Ivfpq.build]] runs, on |batch|
    * rows. */
  private def encodeBatch(s: SparkSession, path: String,
      m: Epoch.Manifest, batch: DataFrame): DataFrame = {
    val books = booksOf(s, path, m)
    Ann.assign(batch, EpochAnn.centroidsOf(s, path, m), "vec_id", "embedding")
      .select(col("vec_id"), col("embedding"), col("cell"),
        graft.functions.PqEncode.pqEncode(
          ProductQuant.unit(col("embedding")), books).as("codes"))
  }

  /** Tombstone-delete under `del_<batchId>`; ids absent from the
    * pinned residents tombstone nothing, an all-absent batch commits
    * nothing. */
  def delete(s: SparkSession, ids: DataFrame, path: String,
      batchId: Long): Unit = {
    val m = current(s, path)
    val key = s"del_$batchId"
    if (m.has(key)) return
    val fresh = freshTombstones(s, path, m, ids)
    if (fresh.isEmpty) return
    val g = Epoch.genDir(s, path, m.next)
    Epoch.read(s, path, m, Tomb).map(_.unionByName(fresh))
      .getOrElse(fresh)
      .coalesce(1).write.mode("overwrite").parquet(s"$g/tombstones")
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      m.components.updated(Tomb, Seq(s"g${m.next}/tombstones")),
      m.applied :+ key))
  }

  /** Doomed ids restricted to live residents, minus already-tombstoned
    * ones — materialized (the frame must not lazily re-read layout
    * dirs a later epoch may prune). */
  private def freshTombstones(s: SparkSession, path: String,
      m: Epoch.Manifest, ids: DataFrame): DataFrame = {
    val wanted = ids.select(col("vec_id").cast(LongType)).distinct()
    val resident = readEncoded(s, path, m).select(col("vec_id"))
    Epoch.read(s, path, m, Tomb)
      .foldLeft(wanted.join(resident, Seq("vec_id"), "left_semi"))(
        (d, t) => d.join(broadcast(t), Seq("vec_id"), "left_anti"))
      .localCheckpoint(true)
  }

  /** UPSERT a batch as ONE epoch under `upd_<batchId>`: no reader can
    * observe the delete without the re-add, because both land in the
    * same manifest rename ([[EpochAnn.upsert]]). Ids absent from the
    * index upsert to inserts. */
  def update(s: SparkSession, newVectors: DataFrame, path: String,
      batchId: Long): Unit = {
    val m = current(s, path)
    EpochAnn.upsert(s, path, m, batchId, Encoded, newVectors)(
      loadOn(s, path, m).encoded, encodeBatch(s, path, m, _))
  }

  /** Fold deltas + tombstones into one fresh generation (quantizers
    * carried; idempotent, no ledger key). */
  def compact(s: SparkSession, path: String): Unit = {
    val m = current(s, path)
    val g = Epoch.genDir(s, path, m.next)
    loadOn(s, path, m).encoded
      .write.mode("overwrite").partitionBy("cell").parquet(s"$g/encoded")
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      m.components
        .updated(Encoded, Seq(s"g${m.next}/encoded"))
        .updated(Tomb, Seq.empty),
      m.applied))
  }

  /** Full quantizer refit over the PINNED survivors — re-trained
    * centroids, re-trained codebooks, and the re-encoded corpus
    * publish as ONE epoch (the coherent triple). Product codebooks have
    * no meaningful warm start in this k-means form, so both quantizers
    * refit from scratch ([[Ivfpq.build]] verbatim); k/m/codes carried
    * from the pinned index, so the serving plan shape is unchanged;
    * subsumes [[compact]]. */
  def retrain(s: SparkSession, path: String, iters: Int = 2): Unit = {
    val m = current(s, path)
    val idx = loadOn(s, path, m)
    require(idx.centroids.nonEmpty,
      s"EpochIvfpq.retrain: $path has no centroids")
    val resident = idx.encoded.select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val g = Epoch.genDir(s, path, m.next)
    writeGen(s, g, Ivfpq.build(resident, k = idx.centroids.length,
      m = idx.m, codes = idx.books.head.length, iters = iters))
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      Map(Encoded -> Seq(s"g${m.next}/encoded"),
        Cents -> Seq(s"g${m.next}/centroids"),
        Books -> Seq(s"g${m.next}/books"), Tomb -> Seq.empty),
      m.applied))
  }
}
