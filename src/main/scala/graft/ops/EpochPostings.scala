package graft.ops

import graft.GQuery
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The BM25 postings layout on EPOCH manifests ([[Epoch]]) — the
  * serve-during-mutation successor to the swap-disciplined layout in
  * [[TextQueries]] (`buildPostings`/`postingsAppend*`/`postingsCompact`
  * /`postingsDelete`, whose contract is "mutate in a maintenance
  * window"). Same index semantics, same side tables, same serving
  * arithmetic — [[TextQueries.docProjection]]/[[TextQueries.postingRows]]
  * /[[TextQueries.statsFrame]]/[[TextQueries.bm25TopK]] are shared, so
  * the two layouts can never drift on what a term, a document length,
  * or a score is — but every mutation here publishes a NEW epoch
  * instead of renaming live directories:
  *
  *  - APPEND (∝ |batch|): one new segment dir joins the `lists`
  *    component (old segment dirs are REFERENCED, not rewritten), df
  *    and stats merge into fresh dirs — the visible flip is one
  *    manifest rename covering all three together, so a reader can
  *    never see appended lists with pre-append stats ([[Layout]]'s
  *    three-step seam, closed).
  *  - DELETE (∝ |doomed| + |dictionary|): the accumulated tombstone
  *    set, subtracted df, and subtracted stats land as one epoch;
  *    posting lists untouched.
  *  - COMPACT: survivors re-range-partitioned into one segment dir,
  *    df/stats recomputed from ground truth (the repair discipline of
  *    [[TextQueries.postingsCompact]]), tombstones cleared — one epoch.
  *
  * Exactly-once WITHOUT marker files: append/delete carry namespaced
  * batch keys in the manifest's applied ledger, committed in the same
  * rename as the data (see [[Epoch]]). Readers pin one manifest per
  * query ([[servedOn]]), so concurrent serving during any of the above
  * sees wholly-old or wholly-new — `EpochServeSpec` races a serve loop
  * against append+compact to pin exactly that, and `bm25_serve_epoch`
  * drives the lifecycle under the driver's full-corpus oracle. */
object EpochPostings {

  private val Lists = "lists"
  private val Df = "df"
  private val Stats = "stats"
  private val Tomb = "tombstones"

  /** Epoch 0: the built index — lists/df/stats in `g0`, empty ledger. */
  def build(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val g = Epoch.genDir(s, path, 0L)
    val proj = TextQueries.docProjection(docs)
    val lists = TextQueries.postingRows(proj)
    lists.repartitionByRange(8, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$g/lists")
    lists.groupBy(col("term"))
      .agg(count(lit(1)).cast(DoubleType).as("df"))
      .write.mode("overwrite").parquet(s"$g/df")
    TextQueries.statsFrame(proj).write.mode("overwrite")
      .parquet(s"$g/stats")
    Epoch.commit(s, path, Epoch.Manifest(0L,
      Map(Lists -> Seq("g0/lists"), Df -> Seq("g0/df"),
        Stats -> Seq("g0/stats"), Tomb -> Seq.empty),
      Seq.empty))
  }

  private def current(s: org.apache.spark.sql.SparkSession, path: String)
      : Epoch.Manifest =
    Epoch.resolve(s, path).getOrElse(throw new IllegalStateException(
      s"EpochPostings: no committed epoch at $path — build first"))

  /** Append one document batch as epoch N+1 — segment dir + merged
    * df/stats, old segments referenced. Replay-safe on `app_<batchId>`
    * in the ledger; an empty batch commits nothing; re-adding a
    * tombstoned doc id is refused by name (compact first — the swap
    * appends' tombstone-gate contract, checked against the PINNED
    * tombstone set). */
  def append(s: org.apache.spark.sql.SparkSession,
      newDocs: org.apache.spark.sql.DataFrame, path: String,
      batchId: Long): Unit = {
    val m = current(s, path)
    val key = s"app_$batchId"
    if (m.has(key)) return
    val proj = TextQueries.docProjection(newDocs)
    val nw = proj.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("sd")).head()
    if (nw.getLong(0) == 0L) return
    Epoch.read(s, path, m, Tomb).foreach { t =>
      val readd = proj.select(col("doc_id"))
        .join(broadcast(t), Seq("doc_id")).limit(1).count()
      require(readd == 0L,
        s"EpochPostings.append: batch re-adds tombstoned doc ids at " +
          s"$path — compact first (tombstones fold in), then append")
    }
    val g = Epoch.genDir(s, path, m.next)
    val lists = TextQueries.postingRows(proj)
    lists.repartitionByRange(8, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$g/delta")
    val dfNew = lists.groupBy(col("term"))
      .agg(count(lit(1)).cast(DoubleType).as("df"))
    Epoch.read(s, path, m, Df).get.unionByName(dfNew)
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .write.mode("overwrite").parquet(s"$g/df")
    val old = Epoch.read(s, path, m, Stats).get
      .select(col("sum_dl"), col("n_docs_l")).head()
    val sumDl = old.getLong(0) + nw.getLong(1)
    val nDocs = old.getLong(1) + nw.getLong(0)
    writeStats(s, s"$g/stats", nDocs, sumDl)
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      m.components
        .updated(Lists, m.components(Lists) :+ s"g${m.next}/delta")
        .updated(Df, Seq(s"g${m.next}/df"))
        .updated(Stats, Seq(s"g${m.next}/stats")),
      m.applied :+ key))
  }

  /** Tombstone-delete a doc-id batch as epoch N+1: accumulated
    * tombstone set + algebraically subtracted df/stats, lists
    * untouched. Replay-safe on `del_<batchId>`; ids already tombstoned
    * or absent subtract nothing. Unlike the swap layout's delete
    * ([[TextQueries.postingsDelete]] — tombstones commit first, a
    * crash leaves stale stats for compaction to heal), the epoch
    * commit is all-or-nothing: no stale-stats window exists at all. */
  def delete(s: org.apache.spark.sql.SparkSession,
      docIds: org.apache.spark.sql.DataFrame, path: String,
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
    val dfDel = matched.groupBy(col("term"))
      .agg((-count(lit(1)).cast(DoubleType)).as("df"))
    Epoch.read(s, path, m, Df).get.unionByName(dfDel)
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .where(col("df") > 0d)
      .write.mode("overwrite").parquet(s"$g/df")
    val old = Epoch.read(s, path, m, Stats).get
      .select(col("sum_dl"), col("n_docs_l")).head()
    writeStats(s, s"$g/stats", old.getLong(1) - docStats.getLong(0),
      old.getLong(0) - docStats.getLong(1))
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      m.components
        .updated(Tomb, Seq(s"g${m.next}/tombstones"))
        .updated(Df, Seq(s"g${m.next}/df"))
        .updated(Stats, Seq(s"g${m.next}/stats")),
      m.applied :+ key))
  }

  /** Fold appended segments + tombstones into one fresh generation:
    * survivor lists re-range-partitioned into `nFiles` sorted runs,
    * df/stats recomputed from the compacted lists (ground truth — the
    * swap layout's repair discipline, though the epoch layout has no
    * stale-stats window to heal), tombstones cleared. Idempotent
    * without a ledger key: re-running compacts the already-compacted
    * epoch to an equal one. Old generations stay readable until
    * [[Epoch.prune]]. */
  def compact(s: org.apache.spark.sql.SparkSession, path: String,
      nFiles: Int = 8): Unit = {
    val m = current(s, path)
    val g = Epoch.genDir(s, path, m.next)
    val all = Epoch.read(s, path, m, Lists).get
    val survivors = Epoch.read(s, path, m, Tomb)
      .map(t => all.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(all)
    survivors.repartitionByRange(nFiles, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$g/lists")
    val compacted = graft.Pq.read(s, s"$g/lists")
    compacted.groupBy(col("term"))
      .agg(count(lit(1)).cast(DoubleType).as("df"))
      .write.mode("overwrite").parquet(s"$g/df")
    val st = compacted.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("sd")).head()
    writeStats(s, s"$g/stats", st.getLong(0), st.getLong(1))
    Epoch.commit(s, path, Epoch.Manifest(m.next,
      Map(Lists -> Seq(s"g${m.next}/lists"),
        Df -> Seq(s"g${m.next}/df"),
        Stats -> Seq(s"g${m.next}/stats"),
        Tomb -> Seq.empty),
      m.applied))
  }

  private def writeStats(s: org.apache.spark.sql.SparkSession,
      dir: String, nDocs: Long, sumDl: Long): Unit = {
    import s.implicits._
    Seq((nDocs.toDouble,
      if (nDocs == 0L) 0.0 else sumDl.toDouble / nDocs.toDouble,
      sumDl, nDocs))
      .toDF("n_docs", "avgdl", "sum_dl", "n_docs_l")
      .write.mode("overwrite").parquet(dir)
  }

  /** Serve BM25 top-10 for `terms` against ONE pinned manifest — every
    * directory the query reads (lists, df, stats, tombstones) comes
    * from `m`, which is what makes a concurrent epoch commit invisible
    * to this query. The multi-dir lists scan keeps the pushed
    * `In(term,…)` restriction of the swap layout's serving path
    * (one relation over the segment dirs — `EpochServeSpec` pins the
    * pushed filter). */
  def servedOn(s: org.apache.spark.sql.SparkSession, path: String,
      m: Epoch.Manifest, terms: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val lists0 = Epoch.read(s, path, m, Lists).get
      .where(col("term").isin(terms: _*))
    val lists = Epoch.read(s, path, m, Tomb)
      .map(t => lists0.join(broadcast(t), Seq("doc_id"), "left_anti"))
      .getOrElse(lists0)
    val dfs = Epoch.read(s, path, m, Df).get
      .where(col("term").isin(terms: _*))
    TextQueries.bm25TopK(lists, dfs, Epoch.read(s, path, m, Stats).get)
  }

  /** Resolve-then-serve: the reader face — one manifest read pins the
    * epoch, then [[servedOn]]. */
  def serve(s: org.apache.spark.sql.SparkSession, path: String,
      terms: Seq[String]): org.apache.spark.sql.DataFrame =
    servedOn(s, path, current(s, path), terms)

  /** Per-process epoch layout taken through the FULL lifecycle —
    * build(half) → append(half) → compact → prune to the retention
    * horizon — the state `bm25_serve_epoch` serves. */
  private val saved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedEpochPath(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.BuildOnce.memo(saved, d) {
      val path = s"${graft.GraftSession.scratchDir}/postings_epoch_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = graft.Tables.documents(s, d)
      build(s, docs.where(col("doc_id") % 2 === 0), path)
      append(s, docs.where(col("doc_id") % 2 === 1), path, batchId = 1L)
      compact(s, path)
      Epoch.prune(s, path, keep = 2)
      path
    }

  /** The manifest-pointer serving face, driver-verified end-to-end:
    * the full maintenance lifecycle (build half → append half →
    * compact → prune) on the EPOCH layout must serve exactly what
    * `bm25_serve`'s full-corpus oracle computes — same arithmetic,
    * same pushed-filter scan shape, but every mutation step was an
    * atomic manifest flip a concurrent reader could have overlapped
    * safely (`EpochServeSpec` races exactly that). */
  val bm25ServeEpoch = GQuery(
    "bm25_serve_epoch",
    (s, d) => serve(s, savedEpochPath(s, d), TextQueries.bm25Terms),
    // identical oracle to bm25_serve: the epoch lifecycle must be
    // invisible in the served answer
    Some("""
      WITH docs AS (
        SELECT doc_id, str_split(text, ' ') AS toks,
               CAST(len(str_split(text, ' ')) AS BIGINT) AS dl
        FROM documents WHERE text IS NOT NULL),
      stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
        FROM docs),
      tf AS (
        SELECT term, doc_id, dl, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
        WHERE term IN ('spark', 'merge', 'filter')
        GROUP BY 1, 2, 3),
      dfs AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT tf.doc_id,
               CAST(round(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) / s.avgdl))),
                 4) AS DECIMAL(38,4)) AS score_term
        FROM tf JOIN dfs d USING (term) CROSS JOIN stats s),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk,
             doc_id, n_terms, score
      FROM agg
      ORDER BY score DESC, doc_id
      LIMIT 10
    """))

  /** Per-process layout grown by TWO CONCURRENT WRITERS under the OCC
    * protocol ([[Epoch.occ]]): epoch 0 holds the even doc ids, then two
    * threads race to append the 1-mod-4 and 3-mod-4 residue classes.
    * Exactly one thread wins each epoch-number claim; the loser rebases
    * (re-resolves, recomputes its df/stats merge on the winner's epoch)
    * and lands as the next epoch — BOTH appends survive regardless of
    * interleaving, which is the lost-update anomaly the single-mutator
    * contract previously ruled out by fiat. The final index is
    * order-independent because disjoint-batch appends commute (segment
    * dirs union, df/stats merges are algebraic). */
  private val occSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedOccPath(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.BuildOnce.memo(occSaved, d) {
      val path = s"${graft.GraftSession.scratchDir}/postings_occ_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = graft.Tables.documents(s, d)
      build(s, docs.where(col("doc_id") % 2 === 0), path)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val writers = Seq(1L, 3L).map { res =>
          scala.concurrent.Future {
            Epoch.occ(s, path) {
              append(s, docs.where(col("doc_id") % 4 === res), path,
                batchId = res)
            }
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(writers),
          scala.concurrent.duration.Duration(300, "s"))
      } finally pool.shutdownNow()
      path
    }

  /** MULTI-WRITER commit protocol, driver-verified: two concurrent
    * appenders race [[Epoch.occ]]'s claim/rebase loop and BOTH batches
    * must land — the served answer is the full-corpus BM25 ranking,
    * byte-equal to the single-writer lifecycle's ([[bm25ServeEpoch]]'s
    * oracle, unchanged). `EpochOccSpec` pins the protocol edges: both
    * ledger keys present, three committed epochs, claim blocking, and
    * the orphan-claim break path. */
  val bm25EpochConcurrent = GQuery(
    "bm25_epoch_concurrent",
    (s, d) => serve(s, savedOccPath(s, d), TextQueries.bm25Terms),
    bm25ServeEpoch.oracle)

  /** Full-corpus build (epoch 0), then a residue-class delete
    * (epoch 1) — the state whose HISTORY `bm25_serve_asof` reads. */
  private val asofSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedAsofPath(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.BuildOnce.memo(asofSaved, d) {
      val path = s"${graft.GraftSession.scratchDir}/postings_asof_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = graft.Tables.documents(s, d)
      build(s, docs, path)
      delete(s, docs.where(col("doc_id") % 5 === 2).select("doc_id"),
        path, batchId = 1L)
      path
    }

  /** TIME-TRAVEL read, driver-verified: the index was built on the
    * full corpus (epoch 0) and then ~1/5 of it was deleted (epoch 1),
    * but this entry serves AS OF epoch 0 ([[Epoch.resolveAsOf]] —
    * Iceberg's snapshot-id read) and must return the FULL-corpus
    * answer, deletes invisible. The swap layout cannot express this at
    * all (mutations overwrite in place); on the manifest layout it is
    * the same pinned-read face every query uses, just pinned to an
    * older manifest — which is why snapshot isolation under concurrent
    * mutation and as-of history reads are ONE mechanism, not two.
    * History is bounded by [[Epoch.prune]]'s retention horizon
    * (`EpochServeSpec` pins both the as-of answer and the
    * pruned-history None). */
  val bm25ServeAsof = GQuery(
    "bm25_serve_asof",
    (s, d) => {
      val path = savedAsofPath(s, d)
      val m0 = Epoch.resolveAsOf(s, path, 0L).getOrElse(
        throw new IllegalStateException(
          s"bm25_serve_asof: epoch 0 missing at $path"))
      servedOn(s, path, m0, TextQueries.bm25Terms)
    },
    // the FULL-corpus oracle — identical to bm25_serve_epoch's: the
    // later delete epoch must be invisible to the pinned epoch-0 read
    bm25ServeEpoch.oracle)

  def all: Seq[GQuery] =
    Seq(bm25ServeEpoch, bm25ServeAsof, bm25EpochConcurrent)
}
