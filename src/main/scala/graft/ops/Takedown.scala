package graft.ops

import graft.{GQuery, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** UNIFIED cross-tier takedown — the one consistency primitive a
  * deployment actually invokes when content must go: ONE call that
  * removes a document set from EVERY serving tier the engine persists,
  * replay-safe under a single batch id. The reference gets global
  * consistency only by full reload (`updatecalaccessrawdata.py:
  * ~100-200` re-derives all state each cycle); this is the incremental
  * replacement — each tier's own delete leg, composed so none can be
  * forgotten.
  *
  * Per-tier legs and their replay story under ONE `batchId`:
  *
  *  - Swap-layout BM25 postings ([[TextQueries.postingsDelete]]) and
  *    near-dup ([[NearDup.neardupDelete]]): tombstone writes,
  *    idempotent BY CONSTRUCTION (already-tombstoned ids are excluded
  *    up front) — no marker needed, a replayed leg is a mechanical
  *    no-op.
  *  - The suggest dictionary ([[EpochSuggest.delete]]): an algebraic
  *    negative df merge — NOT idempotent, so it is skipped on a replay
  *    by the manifest ledger key `del_<batchId>`.
  *  - Materialized views ([[graft.plans.EpochMv.refreshDelete]]):
  *    the view's delete merge as a new manifest generation, under the
  *    same ledger key.
  *  - The positional index ([[EpochPositional.delete]]), the vector
  *    indexes ([[EpochAnn.delete]], [[EpochIvfpq.delete]]), the epoch
  *    twins of the other index tiers and the table tier: each leg one
  *    manifest generation under the same `del_<batchId>` ledger key.
  *
  * A crash ANYWHERE in the composition replays to the identical final
  * state: the caller re-invokes with the same batch id, tombstone legs
  * no-op on their own, ledgered legs skip exactly the merges that
  * committed. The doomed frame is MATERIALIZED up front (the
  * lazy-segment trap: a frame derived from one of these layouts would
  * otherwise be re-read mid-mutation). Run in a maintenance window
  * without concurrent serving — the same contract as every layout
  * mutation here; replay a crashed takedown BEFORE any compaction
  * folds the postings lists (the suggest leg is text-driven so it has
  * no ordering constraint, but the per-tier delete semantics are).
  *
  * 100 TB shape: every leg is ∝ |doomed| or ∝ |dictionary|, never a
  * corpus rescan — tombstones are bounded side segments, the suggest
  * and MV merges rewrite term/cell-level state. `takedown_all`
  * hash-verifies the whole composition against per-tier
  * survivors-rebuilds in one driver-checked frame; `TakedownSpec` pins
  * the crash-replay no-op and per-tier absence of the doomed ids. */
object Takedown {

  /** The tier paths one takedown spans; every field optional so a
    * deployment wires exactly the layouts it runs. `mvEpoch` names a
    * view whose base table carries `doc_id` — the MV delete algebra
    * needs the doomed rows' MEASURES, which the takedown derives
    * itself by an id join against the (not-yet-shrunk) base; the
    * caller shrinks the base table only AFTER the takedown returns,
    * so a replayed call either re-derives the same rows or skips on
    * its ledger key. */
  final case class Tiers(
      postings: Option[String] = None,
      neardup: Option[String] = None,
      // the SERVE-SAFE epoch layouts (ops/Epoch): deletes publish a new
      // manifest generation under the ledger key del_<batchId> —
      // exactly-once rides the manifest, and concurrent readers keep
      // their pinned snapshots throughout. The positional index, the
      // suggest dictionary and both vector indexes live only here.
      postingsEpoch: Option[String] = None,
      positionalEpoch: Option[String] = None,
      suggestEpoch: Option[String] = None,
      ivfEpoch: Option[String] = None,
      ivfpqEpoch: Option[String] = None,
      neardupEpoch: Option[String] = None,
      // the MV tier takes the view DEFINITION (base + layout root +
      // shape), because its delete leg derives the doomed rows'
      // measures from the base itself: takedown first, base shrink
      // after
      mvEpoch: Option[graft.plans.EpochMv.EpochMvDef] = None,
      // the TABLE tier itself ([[EpochTable]], keyed on doc_id): the
      // takedown finally removes the ROWS, not just the derived
      // indexes — tombstone epoch ∝ |doomed|, physical drop at the
      // next table compact
      tableEpoch: Option[String] = None)

  /** Take down `doomedDocs` — (doc_id[, text]); text feeds the suggest
    * legs' per-term distinct-doc subtraction and is REQUIRED only when
    * a suggest tier is wired (an id-only takedown batch drives every
    * tombstone/MV leg without it), ids feed everything else (vector
    * tiers key the same ids as `vec_id` — the document ≙ embedding
    * convention of the test corpus; ids absent from a layout tombstone
    * nothing).
    *
    * ORDERING vs the data-plane row delete: when a suggest tier OR an
    * MV is wired, the takedown must run BEFORE the caller shrinks
    * the corpus/base table — both legs derive doomed state (per-term
    * text counts, per-row measures) from rows that must still exist.
    * An id-only batch against a corpus already shrunk cannot be joined
    * back to its text, and a replayed call whose base rows are gone
    * re-derives an empty MV delta — takedown-first is what keeps
    * replay ≡ once (`TakedownSpec` pins the ordering requirement). */
  def apply(s: SparkSession, doomedDocs: DataFrame, tiers: Tiers,
      batchId: Long): Unit = {
    val needsText = tiers.suggestEpoch.nonEmpty
    require(!needsText || doomedDocs.columns.contains("text"),
      "Takedown: a wired suggest tier needs the doomed docs' text " +
        "(the negative df merge subtracts per-term distinct-doc " +
        "counts) — join the ids to the corpus table first")
    val doomed = doomedDocs
      .select(col("doc_id").cast(LongType) +:
        (if (doomedDocs.columns.contains("text")) Seq(col("text"))
         else Seq(lit(null).cast(StringType).as("text"))): _*)
      .dropDuplicates("doc_id")
      .localCheckpoint(true)
    val ids = doomed.select("doc_id")
    tiers.postings.foreach(p => TextQueries.postingsDelete(s, ids, p))
    // every epoch leg commits under Epoch.occ: the epoch layouts are
    // multi-writer (streaming ingest + sweep compaction + this), and a
    // bare commit racing an occ writer would share its staging dir
    tiers.postingsEpoch.foreach(p => Epoch.occ(s, p) {
      EpochPostings.delete(s, ids, p, batchId)
    })
    tiers.positionalEpoch.foreach(p => Epoch.occ(s, p) {
      EpochPositional.delete(s, ids, p, batchId)
    })
    tiers.suggestEpoch.foreach(p => Epoch.occ(s, p) {
      EpochSuggest.delete(s, doomed, p, batchId)
    })
    tiers.ivfEpoch.foreach(p => Epoch.occ(s, p) {
      EpochAnn.delete(s, ids.select(col("doc_id").as("vec_id")), p,
        batchId)
    })
    tiers.ivfpqEpoch.foreach(p => Epoch.occ(s, p) {
      EpochIvfpq.delete(s, ids.select(col("doc_id").as("vec_id")), p,
        batchId)
    })
    tiers.neardupEpoch.foreach(p => Epoch.occ(s, p) {
      EpochNearDup.delete(s, ids, p, batchId)
    })
    tiers.tableEpoch.foreach(p => Epoch.occ(s, p) {
      EpochTable.delete(s, ids, p, batchId)
    })
    tiers.mvEpoch.foreach { d =>
      // lazy on purpose: the ledger check inside refreshDelete skips
      // without evaluating the frame
      val deletedRows = graft.Pq.read(s, d.basePath)
        .join(broadcast(ids), Seq("doc_id"))
      Epoch.occ(s, d.layoutPath) {
        graft.plans.EpochMv.refreshDelete(s, d, deletedRows, batchId)
      }
    }
    tiers.neardup.foreach(p => NearDup.neardupDelete(s, ids, p))
  }

  /** The doomed residue shared by the entry, its oracle, and the tier
    * builders: doc_id ≡ 3 (mod 5) — spares vec_id 0 (the vector
    * probe) and intersects the near-dup probe set's matches, so every
    * tier's served output visibly changes. */
  private[ops] val Residue = 3

  /** The view both takedown entries maintain: chars and rows per
    * source over a documents copy at `base`. */
  private def sourceCharsMv(base: String, layout: String)
      : graft.plans.EpochMv.EpochMvDef =
    graft.plans.EpochMv.EpochMvDef(base, layout, Seq("source"),
      Seq(graft.plans.MatView.AggSpec("sum", "n_chars",
          Some(DecimalType(38, 0)), "sum_chars_p"),
        graft.plans.MatView.AggSpec("count", "", None, "cnt_p")))

  private val savedState =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]

  private def scratch(prefix: String, d: String): String =
    s"${graft.GraftSession.scratchDir}/${prefix}_" +
      d.replaceAll("[^A-Za-z0-9]", "_")

  /** Build every tier FULL, create the MV, then ONE Takedown call
    * removes the residue everywhere — the state `takedown_all` serves.
    * The MV's deleted base rows are materialized before the base table
    * itself shrinks (the warehouse-side row delete is the caller's
    * data-plane op; the takedown owns the derived state). */
  private[ops] def savedPaths(s: SparkSession, d: String)
      : Map[String, String] =
    graft.BuildOnce.memo(savedState, d) {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val post = scratch("tk_post", d)
      val pos = scratch("tk_pos", d)
      val nd = scratch("tk_nd", d)
      val sug = scratch("tk_sug", d)
      val vec = scratch("tk_vec", d)
      val ivf = scratch("tk_ivf", d)
      val base = scratch("tk_mvbase", d)
      val mv = scratch("tk_mv", d)
      TextQueries.buildPostings(s, docs, post)
      EpochPositional.build(s, docs, pos)
      NearDup.buildNearDup(s, docs, nd)
      EpochSuggest.create(s, docs, sug, Suggest.Distance1)
      EpochIvfpq.build(s, emb, vec, k = 8, m = 4, codes = 16)
      EpochAnn.build(s, emb, ivf, k = 8)
      docs.select(col("doc_id"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(base)
      val mvDef = sourceCharsMv(base, mv)
      graft.plans.EpochMv.create(s, mvDef)
      val doomed = docs.where(col("doc_id") % 5 === Residue)
        .select(col("doc_id"), col("text"))
        .localCheckpoint(true)
      Takedown(s, doomed,
        Tiers(postings = Some(post), positionalEpoch = Some(pos),
          neardup = Some(nd), suggestEpoch = Some(sug),
          ivfEpoch = Some(ivf), ivfpqEpoch = Some(vec),
          mvEpoch = Some(mvDef)),
        batchId = 1L)
      Layout.replaceDir(s,
        graft.Pq.read(s, base).where(col("doc_id") % 5 =!= Residue), base)
      Map("post" -> post, "pos" -> pos, "nd" -> nd, "sug" -> sug,
        "vec" -> vec, "ivf" -> ivf, "base" -> base)
    }

  /** One normalized row shape so seven tiers hash in one frame:
    * (tier, k, id, v). Each tier's mapping is fixed here and mirrored
    * column-for-column in the oracle. */
  private def norm(tier: String, k: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.Column] =
    Seq(lit(tier).as("tier"), k.cast(LongType).as("k"),
      id.cast(StringType).as("id"), v.cast(DoubleType).as("v"))

  /** The global takedown verdict, driver-verified in ONE frame: after
    * a single [[Takedown.apply]], every tier serves exactly what a
    * from-scratch rebuild over the survivors would serve —
    *  - `bm25`: top-10 keyword serving (rnk, doc_id, score);
    *  - `phrase`: exact-phrase hits (doc_id, n_occ, first_pos);
    *  - `neardup`: served near-dup pairs (probe_id, match_id, jaccard);
    *  - `suggest`: spell corrections over the shrunk dictionary
    *    (rnk, query|term, df);
    *  - `vector`: the brute-force survivor top-5 anchor with the
    *    IVF-PQ recall gate folded into `v` (1.0 = served search hit
    *    ≥ 3 of 5);
    *  - `mv`: the rollup THROUGH the rewrite over the delete-refreshed
    *    view (n_rows, source, sum_chars).
    * One hash over the union is the global-consistency proof the
    * reference's full reload provides implicitly — no tier can be
    * forgotten, stale, or double-subtracted without failing here. */
  val takedownAll = GQuery(
    "takedown_all",
    (s, d) => {
      val p = savedPaths(s, d)
      val docs = Tables.documents(s, d)
      // r20 guide §2.6: the seven tiers' plan CONSTRUCTION is where the
      // serve-time driver round-trips live (probe lookups, bounded
      // candidate collects, quantizer loads) — all independent of each
      // other. Build each tier under a Future so those eager actions
      // overlap instead of running ~a dozen tiny jobs end-to-end; the
      // union below is unchanged (rows, ordering, hash identical).
      // r21: graft.Overlap — dedicated labeled pool, finite await.
      def Future[T](body: => T) = graft.Overlap.future(s)(body)
      val bm25F = Future {
        val lists = TextQueries.servedLists(s, p("post"),
          TextQueries.bm25Terms)
        val dfs = graft.Pq.read(s, s"${p("post")}/df")
          .where(col("term").isin(TextQueries.bm25Terms: _*))
        TextQueries.bm25TopK(lists,
          dfs, graft.Pq.read(s, s"${p("post")}/stats"))
          .select(norm("bm25", col("rnk"), col("doc_id"),
            col("score")): _*)
      }
      val phraseF = Future(EpochPositional.servePhrase(s, p("pos"),
        Seq("spark", "merge"))
        .select(norm("phrase", col("doc_id"), col("n_occ"),
          col("first_pos")): _*))
      val neardupF = Future(NearDup.serveNearDup(s,
        docs.where(col("doc_id") % 62 === 8), p("nd"))
        .select(norm("neardup", col("probe_id"), col("match_id"),
          col("jaccard")): _*))
      val suggestF = Future(Suggest.suggestBatch(s,
        EpochSuggest.currentGen(s, p("sug")), Suggest.probeQueries)
        .select(norm("suggest", col("rnk"),
          concat(col("query"), lit("|"), col("term")),
          col("df")): _*))
      // one brute survivor anchor feeds BOTH vector tiers' recall
      // gates (the IVF-PQ and the float-IVF leg of the same takedown)
      def vectorTier(tier: String,
          served: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val emb = Tables.embeddings(s, d)
        val brute = VectorQueries.bruteTopKOf(
          emb.where(col("vec_id") % 5 =!= Residue),
          VectorQueries.IvfTopK,
          // probe id 0 survives the takedown (0 % 5 != Residue), so the
          // memoized request vector is the row the filtered fetch found
          knownProbe = Some(VectorQueries.probeEmbedding(s, d)))
        val hits = served.select(col("neighbor_id"), lit(1L).as("hit"))
        brute.join(broadcast(hits), Seq("neighbor_id"), "left")
          .select(norm(tier, col("rnk"), col("neighbor_id"),
            (sum(coalesce(col("hit"), lit(0L)))
              .over(org.apache.spark.sql.expressions.Window
                .partitionBy()) >= 3).cast(IntegerType)): _*)
      }
      val vectorF = Future(vectorTier("vector",
        Ivfpq.search(EpochIvfpq.load(s, p("vec")), probeId = 0,
          topK = VectorQueries.IvfTopK, nProbe = 3,
          shortlist = VectorQueries.shortlistFor(
            // r20 §5: once-per-process corpus count (VectorQueries
            // embCount memo) instead of a count job per timed rep
            VectorQueries.embCount(s, d), minS = 100),
          knownProbe = Some(VectorQueries.probeEmbedding(s, d)))))
      // seventh tier: the float-IVF index the SAME takedown call
      // tombstoned — served search must recall the survivor anchor
      val vectorIvfF = Future(vectorTier("vector_ivf",
        Ann.query(EpochAnn.load(s, p("ivf")), probeId = 0,
          topK = VectorQueries.IvfTopK, nProbe = 3,
          knownProbe = Some(VectorQueries.probeEmbedding(s, d)))))
      val mvQF = Future(graft.Pq.read(s, p("base"))
        .groupBy(col("source"))
        .agg(sum(col("n_chars").cast(DecimalType(38, 0)))
          .as("sum_chars"),
          count(lit(1)).as("n_rows"))
        .select(norm("mv", col("n_rows"), col("source"),
          col("sum_chars")): _*))
      graft.Overlap.await(Seq(bm25F, phraseF, neardupF,
          suggestF, vectorF, vectorIvfF, mvQF))
        .reduce(_ unionByName _)
        .orderBy("tier", "k", "id")
    },
    Some(s"""
      WITH surv AS (
        SELECT doc_id, text, source, n_chars FROM documents
        WHERE text IS NOT NULL AND doc_id % 5 <> $Residue),
      bdocs AS (
        SELECT doc_id, str_split(text, ' ') AS toks,
               CAST(len(str_split(text, ' ')) AS BIGINT) AS dl
        FROM surv),
      bstats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
        FROM bdocs),
      btf AS (
        SELECT term, doc_id, dl, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM bdocs)
        WHERE term IN ('spark', 'merge', 'filter')
        GROUP BY 1, 2, 3),
      bdfs AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
               FROM btf GROUP BY 1),
      bscored AS (
        SELECT btf.doc_id,
               CAST(round(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (btf.tf * 2.2)
                 / (btf.tf + 1.2 * (0.25 + 0.75 * (CAST(btf.dl AS DOUBLE) / s.avgdl))),
                 4) AS DECIMAL(38,4)) AS score_term
        FROM btf JOIN bdfs d USING (term) CROSS JOIN bstats s),
      bagg AS (
        SELECT doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM bscored GROUP BY 1),
      bm25 AS (
        SELECT 'bm25' AS tier,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                 AS BIGINT) AS k,
               CAST(doc_id AS VARCHAR) AS id, score AS v
        FROM bagg
        ORDER BY score DESC, doc_id
        LIMIT 10),
      phits AS (
        SELECT doc_id,
               list_filter(range(1, len(toks)), i ->
                 toks[i] = 'spark' AND toks[i+1] = 'merge') AS starts
        FROM bdocs),
      phrase AS (
        SELECT 'phrase' AS tier, doc_id AS k,
               CAST(len(starts) AS VARCHAR) AS id,
               CAST(list_min(starts) - 1 AS DOUBLE) AS v
        FROM phits WHERE len(starts) > 0),
      nsh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS tok
        FROM surv),
      nsigs AS (
        SELECT doc_id,
               MIN(md5('0:' || tok)) AS s0, MIN(md5('1:' || tok)) AS s1,
               MIN(md5('2:' || tok)) AS s2, MIN(md5('3:' || tok)) AS s3,
               MIN(md5('4:' || tok)) AS s4, MIN(md5('5:' || tok)) AS s5,
               MIN(md5('6:' || tok)) AS s6, MIN(md5('7:' || tok)) AS s7
        FROM nsh GROUP BY doc_id),
      nbands AS (
        SELECT doc_id, 0 AS band_idx, md5(s0 || s1) AS band_key FROM nsigs
        UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM nsigs
        UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM nsigs
        UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM nsigs),
      nprobes AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL AND doc_id % 62 = 8),
      npsh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS tok
        FROM nprobes),
      npsigs AS (
        SELECT doc_id,
               MIN(md5('0:' || tok)) AS s0, MIN(md5('1:' || tok)) AS s1,
               MIN(md5('2:' || tok)) AS s2, MIN(md5('3:' || tok)) AS s3,
               MIN(md5('4:' || tok)) AS s4, MIN(md5('5:' || tok)) AS s5,
               MIN(md5('6:' || tok)) AS s6, MIN(md5('7:' || tok)) AS s7
        FROM npsh GROUP BY doc_id),
      npbands AS (
        SELECT doc_id, 0 AS band_idx, md5(s0 || s1) AS band_key FROM npsigs
        UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM npsigs
        UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM npsigs
        UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM npsigs),
      ncand AS (
        SELECT DISTINCT p.doc_id AS probe_id, b.doc_id AS match_id
        FROM npbands p JOIN nbands b
          ON p.band_idx = b.band_idx AND p.band_key = b.band_key
             AND p.doc_id <> b.doc_id),
      ntsets AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS toks
        FROM surv),
      nptsets AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS toks
        FROM nprobes),
      neardup AS (
        SELECT 'neardup' AS tier, probe_id AS k,
               CAST(match_id AS VARCHAR) AS id,
               CAST(len(list_intersect(pa.toks, mb.toks)) AS DOUBLE) /
               (len(pa.toks) + len(mb.toks)
                - len(list_intersect(pa.toks, mb.toks))) AS v
        FROM ncand
        JOIN nptsets pa ON pa.doc_id = probe_id
        JOIN ntsets mb ON mb.doc_id = match_id
        WHERE CAST(len(list_intersect(pa.toks, mb.toks)) AS DOUBLE) /
              (len(pa.toks) + len(mb.toks)
               - len(list_intersect(pa.toks, mb.toks))) >= 0.5),
      sterms AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
              FROM surv)
        WHERE term <> ''
        GROUP BY term),
      sq AS (SELECT unnest(['spqrk', 'mergee', 'rows', 'zzz']) AS query),
      shits AS (
        SELECT sq.query, t.term, t.df,
               ROW_NUMBER() OVER (PARTITION BY sq.query
                 ORDER BY t.df DESC, t.term) AS rnk
        FROM sq JOIN sterms t ON levenshtein(sq.query, t.term) <= 1),
      suggest AS (
        SELECT 'suggest' AS tier, CAST(rnk AS BIGINT) AS k,
               query || '|' || term AS id, CAST(df AS DOUBLE) AS v
        FROM shits WHERE rnk <= 3),
      vprobe AS (SELECT embedding AS probe_emb FROM embeddings
                 WHERE vec_id = 0),
      vsims AS (
        SELECT e.vec_id AS neighbor_id,
               list_cosine_similarity(e.embedding, p.probe_emb) AS sim
        FROM embeddings e, vprobe p
        WHERE e.vec_id <> 0 AND e.vec_id % 5 <> $Residue),
      vector AS (
        SELECT 'vector' AS tier, rnk AS k,
               CAST(neighbor_id AS VARCHAR) AS id, 1.0 AS v
        FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC,
                 neighbor_id) AS BIGINT) AS rnk, neighbor_id
              FROM vsims)
        WHERE rnk <= ${VectorQueries.IvfTopK}),
      vector_ivf AS (
        SELECT 'vector_ivf' AS tier, rnk AS k,
               CAST(neighbor_id AS VARCHAR) AS id, 1.0 AS v
        FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC,
                 neighbor_id) AS BIGINT) AS rnk, neighbor_id
              FROM vsims)
        WHERE rnk <= ${VectorQueries.IvfTopK}),
      mv AS (
        SELECT 'mv' AS tier, CAST(COUNT(*) AS BIGINT) AS k, source AS id,
               CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) AS v
        FROM documents WHERE doc_id % 5 <> $Residue
        GROUP BY source)
      SELECT tier, k, id, v FROM (
        SELECT * FROM bm25 UNION ALL SELECT * FROM phrase
        UNION ALL SELECT * FROM neardup UNION ALL SELECT * FROM suggest
        UNION ALL SELECT * FROM vector UNION ALL SELECT * FROM vector_ivf
        UNION ALL SELECT * FROM mv)
      ORDER BY tier, k, id
    """))

  /** EPOCH-tier takedown state: the EIGHT epoch layouts (postings,
    * positional, suggest, float-IVF, IVF-PQ, near-dup, MV, and the
    * TABLE tier itself) built FULL,
    * then ONE Takedown call with only epoch tiers wired removes the
    * residue — every leg a manifest generation under the shared
    * `del_1` ledger key, no maintenance window anywhere; the base
    * table shrinks only AFTER the takedown (the MV-ordering
    * contract). Converged coverage with `takedown_all`'s swap tiers. */
  private val savedEpochState =
    scala.collection.concurrent.TrieMap.empty[String, Map[String, String]]

  private[ops] def savedEpochPaths(s: SparkSession, d: String)
      : Map[String, String] =
    graft.BuildOnce.memo(savedEpochState, d) {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val post = scratch("tke_post", d)
      val pos = scratch("tke_pos", d)
      val sug = scratch("tke_sug", d)
      val vec = scratch("tke_vec", d)
      val vecpq = scratch("tke_vecpq", d)
      val nd = scratch("tke_nd", d)
      val base = scratch("tke_mvbase", d)
      val mv = scratch("tke_mv", d)
      EpochPostings.build(s, docs, post)
      EpochPositional.build(s, docs, pos)
      EpochSuggest.create(s, docs, sug, Suggest.Distance1)
      EpochAnn.build(s, emb, vec, k = 8)
      EpochIvfpq.build(s, emb, vecpq, k = 8, m = 4, codes = 16)
      EpochNearDup.build(s, docs, nd)
      val tab = scratch("tke_tab", d)
      EpochTable.refresh(s, tab,
        docs.select(col("doc_id"), col("source"),
          col("n_chars").cast(LongType).as("n_chars")),
        version = 0L)
      docs.select(col("doc_id"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(base)
      val mvDef = sourceCharsMv(base, mv)
      graft.plans.EpochMv.create(s, mvDef)
      val doomed = docs.where(col("doc_id") % 5 === Residue)
        .select(col("doc_id"), col("text"))
        .localCheckpoint(true)
      Takedown(s, doomed,
        Tiers(postingsEpoch = Some(post), positionalEpoch = Some(pos),
          suggestEpoch = Some(sug), ivfEpoch = Some(vec),
          ivfpqEpoch = Some(vecpq), neardupEpoch = Some(nd),
          mvEpoch = Some(mvDef), tableEpoch = Some(tab)),
        batchId = 1L)
      Layout.replaceDir(s,
        graft.Pq.read(s, base).where(col("doc_id") % 5 =!= Residue), base)
      Map("post" -> post, "pos" -> pos, "sug" -> sug, "vec" -> vec,
        "vecpq" -> vecpq, "nd" -> nd, "base" -> base, "mv" -> mv,
        "tab" -> tab)
    }

  /** The SERVE-SAFE takedown verdict, driver-verified in one frame:
    * after a single [[Takedown.apply]] over the EIGHT EPOCH layouts
    * (each leg one atomic manifest flip — a concurrent reader never
    * needed a window, the property the swap tiers cannot give), every
    * tier serves exactly the survivors rebuild:
    *  - `bm25`: the pinned-manifest keyword top-10;
    *  - `phrase`: exact-phrase hits over the pinned positional scan;
    *  - `suggest`: the dictionary after the negative-df merge;
    *  - `vector` / `vector_pq`: the brute-force survivor anchor with
    *    the epoch-IVF / epoch-IVF-PQ recall gates folded into `v`;
    *  - `neardup`: served near-dup pairs off the pinned LSH epoch;
    *  - `mv`: the rollup THROUGH the rewrite over the epoch MV's
    *    delete-refreshed generation;
    *  - `table`: the ROWS themselves — the takedown's tombstone epoch
    *    on the table tier, served as the survivors (the leg no
    *    derived-index takedown can provide).
    * Same normalized (tier, k, id, v) shape and per-tier oracle
    * branches as `takedown_all`, PLUS the table leg the swap
    * composition delegates to the caller's data plane — the epoch
    * composition owns the whole removal, rows included. */
  val takedownEpoch = GQuery(
    "takedown_epoch",
    (s, d) => {
      val p = savedEpochPaths(s, d)
      val docs = Tables.documents(s, d)
      // r20 guide §2.6: overlap the eight tiers' construction-time
      // driver actions (manifest resolves, probe lookups, bounded
      // collects) — same discipline and rationale as takedown_all.
      // r21: graft.Overlap — dedicated labeled pool, finite await.
      def Future[T](body: => T) = graft.Overlap.future(s)(body)
      val bm25F = Future {
        val m = Epoch.resolve(s, p("post")).get
        EpochPostings.servedOn(s, p("post"), m, TextQueries.bm25Terms)
          .select(norm("bm25", col("rnk"), col("doc_id"),
            col("score")): _*)
      }
      val phraseF = Future(EpochPositional.servePhrase(s, p("pos"),
        Seq("spark", "merge"))
        .select(norm("phrase", col("doc_id"), col("n_occ"),
          col("first_pos")): _*))
      val suggestF = Future(Suggest.suggestBatch(s,
        EpochSuggest.currentGen(s, p("sug")), Suggest.probeQueries)
        .select(norm("suggest", col("rnk"),
          concat(col("query"), lit("|"), col("term")),
          col("df")): _*))
      def vectorTier(tier: String,
          served: org.apache.spark.sql.DataFrame)
          : org.apache.spark.sql.DataFrame = {
        val emb = Tables.embeddings(s, d)
        val brute = VectorQueries.bruteTopKOf(
          emb.where(col("vec_id") % 5 =!= Residue),
          VectorQueries.IvfTopK,
          // probe id 0 survives the takedown (0 % 5 != Residue), so the
          // memoized request vector is the row the filtered fetch found
          knownProbe = Some(VectorQueries.probeEmbedding(s, d)))
        val hits = served.select(col("neighbor_id"), lit(1L).as("hit"))
        brute.join(broadcast(hits), Seq("neighbor_id"), "left")
          .select(norm(tier, col("rnk"), col("neighbor_id"),
            (sum(coalesce(col("hit"), lit(0L)))
              .over(org.apache.spark.sql.expressions.Window
                .partitionBy()) >= 3).cast(IntegerType)): _*)
      }
      val vectorF = Future(vectorTier("vector",
        Ann.query(EpochAnn.load(s, p("vec")), probeId = 0,
          topK = VectorQueries.IvfTopK, nProbe = 3,
          knownProbe = Some(VectorQueries.probeEmbedding(s, d)))))
      // fifth tier: the epoch IVF-PQ index the SAME manifest-ledger
      // takedown tombstoned — the compressed two-phase search over the
      // pinned triple must recall the survivor anchor
      val vectorPqF = Future(vectorTier("vector_pq",
        Ivfpq.search(EpochIvfpq.load(s, p("vecpq")), probeId = 0,
          topK = VectorQueries.IvfTopK, nProbe = 3,
          shortlist = VectorQueries.shortlistFor(
            // r20 §5: once-per-process corpus count (VectorQueries
            // embCount memo) instead of a count job per timed rep
            VectorQueries.embCount(s, d), minS = 100),
          knownProbe = Some(VectorQueries.probeEmbedding(s, d)))))
      val neardupF = Future(EpochNearDup.serve(s, p("nd"),
        docs.where(col("doc_id") % 62 === 8))
        .select(norm("neardup", col("probe_id"), col("match_id"),
          col("jaccard")): _*))
      val mvQF = Future(graft.Pq.read(s, p("base"))
        .groupBy(col("source"))
        .agg(sum(col("n_chars").cast(DecimalType(38, 0)))
          .as("sum_chars"),
          count(lit(1)).as("n_rows"))
        .select(norm("mv", col("n_rows"), col("source"),
          col("sum_chars")): _*))
      // eighth tier: the TABLE rows themselves — the SAME takedown
      // call tombstoned them; the pinned serve is the survivors
      val tableQF = Future(EpochTable.serve(s, p("tab"))
        .select(norm("table", col("doc_id"), col("source"),
          col("n_chars")): _*))
      graft.Overlap.await(Seq(bm25F, phraseF, suggestF,
          vectorF, vectorPqF, neardupF, mvQF, tableQF))
        .reduce(_ unionByName _)
        .orderBy("tier", "k", "id")
    },
    Some(s"""
      WITH surv AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL AND doc_id % 5 <> $Residue),
      bdocs AS (
        SELECT doc_id, str_split(text, ' ') AS toks,
               CAST(len(str_split(text, ' ')) AS BIGINT) AS dl
        FROM surv),
      bstats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
        FROM bdocs),
      btf AS (
        SELECT term, doc_id, dl, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM bdocs)
        WHERE term IN ('spark', 'merge', 'filter')
        GROUP BY 1, 2, 3),
      bdfs AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
               FROM btf GROUP BY 1),
      bscored AS (
        SELECT btf.doc_id,
               CAST(round(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (btf.tf * 2.2)
                 / (btf.tf + 1.2 * (0.25 + 0.75 * (CAST(btf.dl AS DOUBLE) / s.avgdl))),
                 4) AS DECIMAL(38,4)) AS score_term
        FROM btf JOIN bdfs d USING (term) CROSS JOIN bstats s),
      bagg AS (
        SELECT doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM bscored GROUP BY 1),
      bm25 AS (
        SELECT 'bm25' AS tier,
               CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                 AS BIGINT) AS k,
               CAST(doc_id AS VARCHAR) AS id, score AS v
        FROM bagg
        ORDER BY score DESC, doc_id
        LIMIT 10),
      phits AS (
        SELECT doc_id,
               list_filter(range(1, len(toks)), i ->
                 toks[i] = 'spark' AND toks[i+1] = 'merge') AS starts
        FROM bdocs),
      phrase AS (
        SELECT 'phrase' AS tier, doc_id AS k,
               CAST(len(starts) AS VARCHAR) AS id,
               CAST(list_min(starts) - 1 AS DOUBLE) AS v
        FROM phits WHERE len(starts) > 0),
      sterms AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
              FROM surv)
        WHERE term <> ''
        GROUP BY term),
      sq AS (SELECT unnest(['spqrk', 'mergee', 'rows', 'zzz']) AS query),
      shits AS (
        SELECT sq.query, t.term, t.df,
               ROW_NUMBER() OVER (PARTITION BY sq.query
                 ORDER BY t.df DESC, t.term) AS rnk
        FROM sq JOIN sterms t ON levenshtein(sq.query, t.term) <= 1),
      suggest AS (
        SELECT 'suggest' AS tier, CAST(rnk AS BIGINT) AS k,
               query || '|' || term AS id, CAST(df AS DOUBLE) AS v
        FROM shits WHERE rnk <= 3),
      vprobe AS (SELECT embedding AS probe_emb FROM embeddings
                 WHERE vec_id = 0),
      vsims AS (
        SELECT e.vec_id AS neighbor_id,
               list_cosine_similarity(e.embedding, p.probe_emb) AS sim
        FROM embeddings e, vprobe p
        WHERE e.vec_id <> 0 AND e.vec_id % 5 <> $Residue),
      vector AS (
        SELECT 'vector' AS tier, rnk AS k,
               CAST(neighbor_id AS VARCHAR) AS id, 1.0 AS v
        FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC,
                 neighbor_id) AS BIGINT) AS rnk, neighbor_id
              FROM vsims)
        WHERE rnk <= ${VectorQueries.IvfTopK}),
      vector_pq AS (
        SELECT 'vector_pq' AS tier, rnk AS k,
               CAST(neighbor_id AS VARCHAR) AS id, 1.0 AS v
        FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC,
                 neighbor_id) AS BIGINT) AS rnk, neighbor_id
              FROM vsims)
        WHERE rnk <= ${VectorQueries.IvfTopK}),
      nsh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS tok
        FROM surv),
      nsigs AS (
        SELECT doc_id,
               MIN(md5('0:' || tok)) AS s0, MIN(md5('1:' || tok)) AS s1,
               MIN(md5('2:' || tok)) AS s2, MIN(md5('3:' || tok)) AS s3,
               MIN(md5('4:' || tok)) AS s4, MIN(md5('5:' || tok)) AS s5,
               MIN(md5('6:' || tok)) AS s6, MIN(md5('7:' || tok)) AS s7
        FROM nsh GROUP BY doc_id),
      nbands AS (
        SELECT doc_id, 0 AS band_idx, md5(s0 || s1) AS band_key FROM nsigs
        UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM nsigs
        UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM nsigs
        UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM nsigs),
      nprobes AS (
        SELECT doc_id, text FROM documents
        WHERE text IS NOT NULL AND doc_id % 62 = 8),
      npsh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS tok
        FROM nprobes),
      npsigs AS (
        SELECT doc_id,
               MIN(md5('0:' || tok)) AS s0, MIN(md5('1:' || tok)) AS s1,
               MIN(md5('2:' || tok)) AS s2, MIN(md5('3:' || tok)) AS s3,
               MIN(md5('4:' || tok)) AS s4, MIN(md5('5:' || tok)) AS s5,
               MIN(md5('6:' || tok)) AS s6, MIN(md5('7:' || tok)) AS s7
        FROM npsh GROUP BY doc_id),
      npbands AS (
        SELECT doc_id, 0 AS band_idx, md5(s0 || s1) AS band_key FROM npsigs
        UNION ALL SELECT doc_id, 1, md5(s2 || s3) FROM npsigs
        UNION ALL SELECT doc_id, 2, md5(s4 || s5) FROM npsigs
        UNION ALL SELECT doc_id, 3, md5(s6 || s7) FROM npsigs),
      ncand AS (
        SELECT DISTINCT p.doc_id AS probe_id, b.doc_id AS match_id
        FROM npbands p JOIN nbands b
          ON p.band_idx = b.band_idx AND p.band_key = b.band_key
             AND p.doc_id <> b.doc_id),
      ntsets AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS toks
        FROM surv),
      nptsets AS (
        SELECT doc_id,
               list_distinct(list_transform(
                 range(1, len(str_split(text, ' '))),
                 i -> str_split(text, ' ')[i] || ' ' ||
                      str_split(text, ' ')[i+1])) AS toks
        FROM nprobes),
      neardup AS (
        SELECT 'neardup' AS tier, probe_id AS k,
               CAST(match_id AS VARCHAR) AS id,
               CAST(len(list_intersect(pa.toks, mb.toks)) AS DOUBLE) /
               (len(pa.toks) + len(mb.toks)
                - len(list_intersect(pa.toks, mb.toks))) AS v
        FROM ncand
        JOIN nptsets pa ON pa.doc_id = probe_id
        JOIN ntsets mb ON mb.doc_id = match_id
        WHERE CAST(len(list_intersect(pa.toks, mb.toks)) AS DOUBLE) /
              (len(pa.toks) + len(mb.toks)
               - len(list_intersect(pa.toks, mb.toks))) >= 0.5),
      mv AS (
        SELECT 'mv' AS tier, CAST(COUNT(*) AS BIGINT) AS k, source AS id,
               CAST(SUM(CAST(n_chars AS DECIMAL(38,0))) AS DOUBLE) AS v
        FROM documents WHERE doc_id % 5 <> $Residue
        GROUP BY source),
      tbl AS (
        SELECT 'table' AS tier, doc_id AS k, source AS id,
               CAST(n_chars AS DOUBLE) AS v
        FROM documents WHERE doc_id % 5 <> $Residue)
      SELECT tier, k, id, v FROM (
        SELECT * FROM bm25 UNION ALL SELECT * FROM phrase
        UNION ALL SELECT * FROM suggest UNION ALL SELECT * FROM vector
        UNION ALL SELECT * FROM vector_pq
        UNION ALL SELECT * FROM neardup UNION ALL SELECT * FROM mv
        UNION ALL SELECT * FROM tbl)
      ORDER BY tier, k, id
    """))

  def all: Seq[GQuery] = Seq(takedownAll, takedownEpoch)
}
