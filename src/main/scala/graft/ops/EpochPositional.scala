package graft.ops

import graft.GQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The POSITIONAL (phrase) index on EPOCH manifests ([[Epoch]]) — the
  * one way a positional index is built, maintained and read. The row
  * builders, adjacency fold and presentation are [[PhraseQueries]]'
  * shared code; build/append/delete/compact each publish ONE atomic
  * manifest flip, so phrase serving continues uninterrupted through any
  * mutation. Components: `lists` (multi-dir — appends reference a new
  * delta beside the old segments), `stats` (exact long accumulators,
  * rewritten per mutation), `tombstones`. No df side table — a term's
  * df is the row count of its posting list, derived from rows already
  * in hand — so a mutation touches at most two components, committed
  * together. Ledger exactly-once (`app_<id>` / `del_<id>`). Every
  * reader resolves the manifest once and reads through [[lists]]. */
object EpochPositional {

  private val Lists = "lists"
  private val Stats = "stats"
  private val Tomb = "tombstones"

  /** Epoch 0: the built index. */
  def build(s: SparkSession, docs: DataFrame, path: String): Unit = {
    val g = Epoch.genDir(s, path, 0L)
    val proj = PhraseQueries.docProjection(docs)
    PhraseQueries.positionalRows(proj)
      .repartitionByRange(8, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$g/lists")
    PhraseQueries.statsFrame(proj)
      .write.mode("overwrite").parquet(s"$g/stats")
    Epoch.commit(s, path, Epoch.Manifest(0L,
      Map(Lists -> Seq("g0/lists"), Stats -> Seq("g0/stats"),
        Tomb -> Seq.empty),
      Seq.empty))
  }

  private[ops] def current(s: SparkSession, path: String)
      : Epoch.Manifest =
    Epoch.resolve(s, path).getOrElse(throw new IllegalStateException(
      s"EpochPositional: no committed epoch at $path — build first"))

  /** Append one document batch as a referenced delta generation —
    * positional rows are per-document state, so the delta's rows are
    * identical to a rebuild's for those docs. Ledger-replay-safe on
    * `app_<batchId>`; tombstoned re-adds refused (compact first). */
  def append(s: SparkSession, newDocs: DataFrame, path: String,
      batchId: Long): Unit = {
    val m = current(s, path)
    val key = s"app_$batchId"
    if (m.has(key)) return
    val proj = PhraseQueries.docProjection(newDocs)
    val nw = proj.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("sd")).head()
    if (nw.getLong(0) == 0L) return
    Epoch.read(s, path, m, Tomb).foreach { t =>
      require(proj.select(col("doc_id"))
        .join(broadcast(t), Seq("doc_id")).limit(1).count() == 0L,
        s"EpochPositional.append: batch re-adds tombstoned doc ids " +
          s"at $path — compact first, then append")
    }
    val g = Epoch.genDir(s, path, m.next)
    PhraseQueries.positionalRows(proj)
      .repartitionByRange(8, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$g/delta")
    val old = stats(s, path, m)
      .select(col("sum_dl"), col("n_docs_l")).head()
    writeStats(s, s"$g/stats", old.getLong(1) + nw.getLong(0),
      old.getLong(0) + nw.getLong(1))
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      m.components
        .updated(Lists, m.components(Lists) :+ s"g${m.next}/delta")
        .updated(Stats, Seq(s"g${m.next}/stats")),
      m.applied :+ key))
  }

  /** Tombstone-delete under `del_<batchId>` — accumulated tombstones +
    * subtracted stats as one epoch; the positional lists untouched.
    * Already-tombstoned ids are excluded up front, so a re-delivered id
    * under a NEW batch id commits nothing either. */
  def delete(s: SparkSession, docIds: DataFrame, path: String,
      batchId: Long): Unit = {
    val m = current(s, path)
    val key = s"del_$batchId"
    if (m.has(key)) return
    val ids = docIds.select(col("doc_id").cast(LongType)).distinct()
    val oldTomb = Epoch.read(s, path, m, Tomb)
    val freshIds = oldTomb
      .map(t => ids.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(ids)
      .localCheckpoint(true)
    val matched = Epoch.read(s, path, m, Lists).get
      .join(broadcast(freshIds), Seq("doc_id"))
    val docStats = matched.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("sd")).head()
    if (docStats.getLong(0) == 0L) return
    val g = Epoch.genDir(s, path, m.next)
    oldTomb.map(_.unionByName(freshIds)).getOrElse(freshIds)
      .coalesce(1).write.mode("overwrite").parquet(s"$g/tombstones")
    val old = stats(s, path, m)
      .select(col("sum_dl"), col("n_docs_l")).head()
    writeStats(s, s"$g/stats", old.getLong(1) - docStats.getLong(0),
      old.getLong(0) - docStats.getLong(1))
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      m.components
        .updated(Tomb, Seq(s"g${m.next}/tombstones"))
        .updated(Stats, Seq(s"g${m.next}/stats")),
      m.applied :+ key))
  }

  /** Fold deltas + tombstones into one fresh generation; stats
    * recomputed from ground truth. Idempotent, no ledger key. */
  def compact(s: SparkSession, path: String, nFiles: Int = 8): Unit = {
    val m = current(s, path)
    val g = Epoch.genDir(s, path, m.next)
    val all = Epoch.read(s, path, m, Lists).get
    val survivors = Epoch.read(s, path, m, Tomb)
      .map(t => all.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(all)
    survivors.repartitionByRange(nFiles, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$g/lists")
    val st = graft.Pq.read(s, s"$g/lists")
      .select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("sd")).head()
    writeStats(s, s"$g/stats", st.getLong(0), st.getLong(1))
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      Map(Lists -> Seq(s"g${m.next}/lists"),
        Stats -> Seq(s"g${m.next}/stats"),
        Tomb -> Seq.empty),
      m.applied))
  }

  private def writeStats(s: SparkSession, dir: String, nDocs: Long,
      sumDl: Long): Unit = {
    import s.implicits._
    Seq((nDocs.toDouble,
      if (nDocs == 0L) 0.0 else sumDl.toDouble / nDocs.toDouble,
      sumDl, nDocs))
      .toDF("n_docs", "avgdl", "sum_dl", "n_docs_l")
      .write.mode("overwrite").parquet(dir)
  }

  /** The ONE positional-list read behind every serving path: the
    * pinned manifest's multi-dir `lists` scan restricted to `terms`
    * (a pushed `In(term, …)`; every term when None), minus the pinned
    * `tombstones` by broadcast anti-join when that component is
    * non-empty. */
  private[ops] def lists(s: SparkSession, path: String, m: Epoch.Manifest,
      terms: Option[Seq[String]]): DataFrame = {
    val all = Epoch.read(s, path, m, Lists).get
    val scan = terms.fold(all)(ts => all.where(col("term").isin(ts: _*)))
    Epoch.read(s, path, m, Tomb)
      .map(t => scan.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(scan)
  }

  /** The pinned manifest's corpus stats row. */
  private[ops] def stats(s: SparkSession, path: String,
      m: Epoch.Manifest): DataFrame =
    Epoch.read(s, path, m, Stats).get

  /** Phrase hits served against ONE pinned manifest — the shared
    * adjacency fold over [[lists]]. */
  def servePhraseOn(s: SparkSession, path: String, m: Epoch.Manifest,
      phrase: Seq[String]): DataFrame =
    PhraseQueries.phraseHits(PhraseQueries.phraseStarts(
      lists(s, path, m, Some(phrase.distinct)), phrase))

  /** Phrase hits served from a positional layout path — resolve the
    * current manifest, then [[servePhraseOn]]. */
  def servePhrase(s: SparkSession, path: String, phrase: Seq[String])
      : DataFrame =
    servePhraseOn(s, path, current(s, path), phrase)

  /** Snapshot-isolated phrase serving over the grown index (even half
    * built, odd half appended as a delta epoch) — the state
    * `phrase_serve_append` serves, under the same builder and the
    * `phrase_search` full-corpus oracle. */
  val phraseServeEpoch =
    PhraseQueries.phraseServeAppend.copy(name = "phrase_serve_epoch")

  def all: Seq[GQuery] = Seq(phraseServeEpoch)
}
