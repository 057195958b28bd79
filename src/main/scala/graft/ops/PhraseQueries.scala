package graft.ops

import graft.{GQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Positional retrieval — exact-phrase search over a POSITIONAL inverted
  * index, the capability layer BM25's bag-of-words postings can't express
  * (reference surface: the keyword search a CAL-ACCESS consumer runs over
  * memo/text columns is LIKE-scans, e.g. the `text_memo_cd` consumption
  * documented in SURVEY §2.6; this tier is the indexed form of the same
  * question, extended to the phrase semantics a real search box needs).
  *
  * Index layout ([[EpochPositional]], the one build/maintain/read
  * face): the BM25 layout ([[TextQueries]])
  * with the posting row widened to carry the term's sorted 0-based
  * POSITION LIST — `(term, doc_id, dl, positions)` term-range-partitioned
  * and term-sorted, plus the same exact-accumulator corpus stats side
  * table. One layout serves BOTH query families: tf (BM25's per-doc term
  * frequency) is `size(positions)` by construction, so a positional index
  * subsumes a frequency index — which is exactly why production engines
  * (Lucene's default posting format included, a public design) store
  * positions inline with the postings rather than as a second index.
  *
  * Query semantics: a phrase [t0 … tk-1] matches doc d at start position
  * p iff positions(t0) contains p and positions(ti) contains p+i for all
  * i. The match set is computed WITHOUT re-tokenizing anything: each
  * query term's posting rows are read under a pushed `In(term, …)` filter
  * (the `bm25_serve` scan shape), the ≤k frames equi-join on doc_id
  * (bounded by the rarest term's df — the classic conjunctive-query
  * intersection), and the start set is a fold of
  * `array_intersect(acc, positions_i - i)` — per-row array arithmetic,
  * no explode, no shuffle beyond the doc_id joins. Occurrence count and
  * first offset fall out of the same start array for free.
  *
  * 100 TB shape: phrase cost is |posting rows of the query's terms|, not
  * corpus size — the same lookup discipline as BM25 serving; the k-way
  * doc_id join is broadcast-eligible whenever any term is rare (AQE picks
  * it at runtime since each leg is a pushed-filter scan with known
  * stats). Compare the alternative a LIKE-scan pays: every byte of every
  * document on every query. `PhraseSpec` pins the pushed filter, the
  * adjacency fold against hand-checked fixtures (including repeated
  * terms, e.g. "big big"), and serve ≡ tokenize-on-read equality.
  */
object PhraseQueries {

  /** The query phrase shared by all three entries and their oracles —
    * one definition so the Spark forms and the SQL can never drift
    * (the [[TextQueries.bm25Terms]] discipline). Chosen to match a
    * moderate document subset with multi-occurrence docs at sf0.1. */
  private[ops] val phraseTerms = Seq("spark", "merge")

  /** (doc_id, toks, dl) tokenize-on-read projection — same tokenization
    * rule as the BM25 tier (single definition there is private; the
    * rule is the one-split contract both layouts document). */
  private[ops] def docProjection(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast(LongType).as("dl"))

  /** Positional posting rows of one document set: `(term, doc_id, dl,
    * positions)` with positions the SORTED 0-based offsets of `term` in
    * the doc. Like the BM25 tier's postingRows, every field is
    * per-document state only — an appended segment's rows are identical
    * to what a full rebuild would compute for those docs, so the layout
    * inherits the append story unchanged. */
  private[ops] def positionalRows(proj: DataFrame,
      termFilter: Option[Seq[String]] = None): DataFrame = {
    val exploded = proj.select(col("doc_id"), col("dl"),
      posexplode(col("toks")).as(Seq("pos", "term")))
    // the restriction applies AFTER posexplode — positions are offsets
    // in the ORIGINAL token sequence, never in a filtered view of it
    termFilter.fold(exploded)(ts =>
        exploded.where(col("term").isin(ts: _*)))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(sort_array(collect_list(col("pos").cast(LongType)))
        .as("positions"))
  }

  /** Corpus stats with exact long accumulators — the BM25 layout's
    * statsFrame contract (sum_dl/n_docs_l merge exactly on append). */
  private[ops] def statsFrame(proj: DataFrame): DataFrame =
    proj.agg(count(lit(1)).as("n_docs_l"), sum(col("dl")).as("sum_dl"))
      .select(col("n_docs_l").cast(DoubleType).as("n_docs"),
        (col("sum_dl").cast(DoubleType) /
          col("n_docs_l").cast(DoubleType)).as("avgdl"),
        col("sum_dl"), col("n_docs_l"))

  /** The full-corpus index, epoch 0 ([[EpochPositional.build]]) — the
    * layout every read-only positional entry serves. */
  private val positionalSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedPositionalPath(s: SparkSession, d: String): String =
    graft.BuildOnce.memo(positionalSaved, d) {
      val path = s"${graft.GraftSession.scratchDir}/positional_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      EpochPositional.build(s, Tables.documents(s, d), path)
      path
    }

  /** Half-built, half-appended layout (doc-id parity split, the odd
    * half one delta epoch) — `bm25_serve_append`'s positional twin,
    * served by `phrase_serve_append` and `phrase_serve_epoch` against
    * the full-corpus oracle. */
  private val positionalAppendSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedPositionalAppendPath(s: SparkSession,
      d: String): String =
    graft.BuildOnce.memo(positionalAppendSaved, d) {
      val path = s"${graft.GraftSession.scratchDir}/positional_app_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = Tables.documents(s, d)
      EpochPositional.build(s, docs.where(col("doc_id") % 2 === 0), path)
      EpochPositional.append(s, docs.where(col("doc_id") % 2 === 1), path,
        batchId = 1L)
      path
    }

  /** The append layout taken through the FULL lifecycle: build-half →
    * append-half → [[EpochPositional.compact]] back to 8 sorted runs —
    * the layout `phrase_serve_compact` serves. Separate path from
    * [[savedPositionalAppendPath]] so the un-compacted mixed layout
    * stays independently served. */
  private val positionalCompactSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedPositionalCompactPath(s: SparkSession,
      d: String): String =
    graft.BuildOnce.memo(positionalCompactSaved, d) {
      val path = s"${graft.GraftSession.scratchDir}/positional_cpt_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = Tables.documents(s, d)
      EpochPositional.build(s, docs.where(col("doc_id") % 2 === 0), path)
      EpochPositional.append(s, docs.where(col("doc_id") % 2 === 1), path,
        batchId = 1L)
      EpochPositional.compact(s, path)
      path
    }

  /** Full build, then the doc_id ≡ 1 (mod 5) residue tombstoned —
    * `bm25_serve_delete`'s positional twin; the residue intersects the
    * phrase-match set at every SF so the delete visibly reshapes the
    * served rows. */
  private val positionalDeleteSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedPositionalDeletePath(s: SparkSession,
      d: String): String =
    graft.BuildOnce.memo(positionalDeleteSaved, d) {
      val path = s"${graft.GraftSession.scratchDir}/positional_del_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = Tables.documents(s, d)
      EpochPositional.build(s, docs, path)
      EpochPositional.delete(s,
        docs.where(pmod(col("doc_id"), lit(5)) === 1).select("doc_id"),
        path, batchId = 1L)
      path
    }

  /** Phrase-match frame from positional posting rows restricted to the
    * phrase's terms: one row per matching doc with the start-position
    * array. The fold intersects each term's positions shifted back by
    * its phrase offset, so a surviving start p proves t_i sits at p+i
    * for every i — repeated phrase terms just intersect the same
    * posting row against itself at two offsets, which is exactly the
    * right semantics ("big big" needs positions p and p+1 both
    * present). Join legs are inner on doc_id: a doc missing ANY phrase
    * term cannot match. */
  private[ops] def phraseStarts(rows: DataFrame,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseStarts: empty phrase")
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      rows.where(col("term") === t)
        .select(col("doc_id"), col("positions").as(s"p$i"))
    }
    val joined = legs.reduce(_.join(_, "doc_id"))
    val starts = phrase.indices.tail.foldLeft(col("p0")) { (acc, i) =>
      array_intersect(acc, transform(col(s"p$i"), x => x - i))
    }
    joined.select(col("doc_id"), starts.as("starts"))
      .where(size(col("starts")) > 0)
  }

  /** (doc_id, n_occ, first_pos) presentation of a match frame — the
    * shared tail of the tokenize-on-read and served forms. */
  private[ops] def phraseHits(matches: DataFrame): DataFrame =
    matches.select(col("doc_id"),
        size(col("starts")).cast(LongType).as("n_occ"),
        array_min(col("starts")).as("first_pos"))
      .orderBy("doc_id")

  /** The oracle shared by `phrase_search` and `phrase_serve`: DuckDB
    * re-derives the start set positionally from the token array (1-based
    * list indexing, hence the -1 on the emitted offset), so a hash match
    * proves the index path finds exactly the adjacent occurrences. */
  private[ops] val phraseOracle = """
      WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL),
      hits AS (
        SELECT doc_id,
               list_filter(range(1, len(t)), i ->
                 t[i] = 'spark' AND t[i+1] = 'merge') AS starts
        FROM toks)
      SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_occ,
             CAST(list_min(starts) - 1 AS BIGINT) AS first_pos
      FROM hits
      WHERE len(starts) > 0
      ORDER BY doc_id
    """

  /** Exact-phrase match, tokenize-on-read form (the oracle-self-contained
    * twin of [[phraseServe]], `bm25_search`'s discipline): positional
    * rows are built in-query restricted to the phrase terms BEFORE
    * grouping, then the adjacency fold. */
  val phraseSearch = GQuery(
    "phrase_search",
    (s, d) => {
      val rows = positionalRows(docProjection(Tables.documents(s, d)),
        Some(phraseTerms))
      phraseHits(phraseStarts(rows, phraseTerms))
    },
    Some(phraseOracle))

  /** Exact-phrase match over the PERSISTED positional index: pushed
    * `In(term, …)` posting reads, adjacency fold, no tokenization
    * anywhere in the plan. Same oracle as `phrase_search`, so the
    * build→persist→serve roundtrip is itself hash-verified. */
  val phraseServe = GQuery(
    "phrase_serve",
    (s, d) => EpochPositional.servePhrase(s, savedPositionalPath(s, d),
      phraseTerms),
    Some(phraseOracle))

  /** The positional index under GROWTH: built on the even-id half,
    * the odd half appended as a delta epoch, then phrase-served. The
    * oracle is the FULL-corpus phrase SQL — per-document posting state
    * means appended serving must equal full-rebuild serving exactly,
    * and the hash match proves it (the `bm25_serve_append`
    * discipline). */
  val phraseServeAppend = GQuery(
    "phrase_serve_append",
    (s, d) => EpochPositional.servePhrase(s,
      savedPositionalAppendPath(s, d), phraseTerms),
    Some(phraseOracle))

  /** The full maintenance lifecycle, driver-verified: build-half →
    * append-half → compact → phrase-serve. Compaction folds the
    * appended segments into 8 term-sorted runs and heals stats from
    * ground truth; row content is untouched, so the FULL-corpus oracle
    * must still hash-match — compact ≡ no semantic change, on top of
    * append ≡ rebuild. */
  val phraseServeCompact = GQuery(
    "phrase_serve_compact",
    (s, d) => EpochPositional.servePhrase(s,
      savedPositionalCompactPath(s, d), phraseTerms),
    Some(phraseOracle))

  /** The positional index under DELETE: full build, doc_id ≡ 1 (mod 5)
    * tombstoned ([[EpochPositional.delete]] — lists untouched, serving
    * paths anti-join the pinned tombstones), then phrase-served. Oracle =
    * the phrase SQL over ONLY the survivors, so the hash match is the
    * delete ≡ rebuild-over-survivors proof; a deleted doc can never
    * surface in a phrase result (the takedown guarantee, now on all
    * FOUR persisted index forms). */
  val phraseServeDelete = GQuery(
    "phrase_serve_delete",
    (s, d) => EpochPositional.servePhrase(s,
      savedPositionalDeletePath(s, d), phraseTerms),
    Some("""
      WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL AND doc_id % 5 <> 1),
      hits AS (
        SELECT doc_id,
               list_filter(range(1, len(t)), i ->
                 t[i] = 'spark' AND t[i+1] = 'merge') AS starts
        FROM toks)
      SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_occ,
             CAST(list_min(starts) - 1 AS BIGINT) AS first_pos
      FROM hits
      WHERE len(starts) > 0
      ORDER BY doc_id
    """))

  /** Ordered proximity search — "t0 … t1 within W tokens", the NEAR
    * operator positional postings exist to answer cheaply (exact phrase
    * is its W=1 special case). A start position p matches iff t1 occurs
    * at some q with p < q ≤ p+W; the check is a per-row `exists` over
    * the two position arrays already in hand from the SAME pushed-`In`
    * layout read as [[phraseStarts]] — no new index, no explode, no
    * extra shuffle. Plan/cost shape identical to exact phrase:
    * |posting rows of the query terms|, corpus-independent. */
  private[ops] def nearStarts(rows: DataFrame, t0: String, t1: String,
      window: Int): DataFrame = {
    require(window >= 1, s"nearStarts: window $window < 1")
    val legs = rows.where(col("term") === t0)
      .select(col("doc_id"), col("positions").as("p0"))
      .join(rows.where(col("term") === t1)
        .select(col("doc_id"), col("positions").as("p1")), "doc_id")
    legs.select(col("doc_id"),
        filter(col("p0"), p =>
          exists(col("p1"), q => q > p && q <= p + window)).as("starts"))
      .where(size(col("starts")) > 0)
  }

  /** Proximity serving entry: the phrase pair within 3 tokens, ordered,
    * off the persisted positional index. Same presentation as
    * `phrase_serve`; the oracle re-derives both position lists from the
    * token array and applies the identical window predicate. */
  val phraseNear = GQuery(
    "phrase_near",
    (s, d) => {
      val path = savedPositionalPath(s, d)
      val rows = EpochPositional.lists(s, path,
        EpochPositional.current(s, path), Some(phraseTerms))
      phraseHits(nearStarts(rows, phraseTerms(0), phraseTerms(1),
        window = 3))
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL),
      pos AS (
        SELECT doc_id,
               list_transform(list_filter(range(1, len(t) + 1),
                 i -> t[i] = 'spark'), i -> i - 1) AS p0,
               list_transform(list_filter(range(1, len(t) + 1),
                 i -> t[i] = 'merge'), i -> i - 1) AS p1
        FROM toks),
      hits AS (
        SELECT doc_id,
               list_filter(p0, p ->
                 len(list_filter(p1, q -> q > p AND q <= p + 3)) > 0)
                 AS starts
        FROM pos)
      SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_occ,
             CAST(list_min(starts) AS BIGINT) AS first_pos
      FROM hits
      WHERE len(starts) > 0
      ORDER BY doc_id
    """))

  /** Phrase-constrained BM25 ranking — the "quoted query" a search box
    * actually issues: candidates must contain the phrase EXACTLY, and
    * the survivors rank by the same Okapi BM25 the bag-of-words tier
    * serves ([[TextQueries.bm25ScoreTerm]], shared expression — one
    * scoring definition across both tiers). Everything derives from the
    * ONE pushed-`In` read of the positional lists: tf is
    * `size(positions)` (the subsumption the layout exists for), df is a
    * count over the rows already in hand, the phrase filter is
    * [[phraseStarts]] on the same rows, and only the 1-row stats table
    * is a second read. The phrase-match set joins the scored frame as a
    * broadcast (bounded by the rarest term's df), so ranking cost stays
    * |candidate postings|, corpus-independent. Decimal per-term rounding
    * before the exact sum keeps ordering engine-stable (the
    * `lm_perplexity` ln discipline). */
  val phraseRank = GQuery(
    "phrase_rank",
    (s, d) => {
      val path = savedPositionalPath(s, d)
      val m = EpochPositional.current(s, path)
      val rows = EpochPositional.lists(s, path, m, Some(phraseTerms))
      val stats = EpochPositional.stats(s, path, m)
        .select(col("n_docs"), col("avgdl"))
      val matches = phraseStarts(rows, phraseTerms)
        .select(col("doc_id"),
          size(col("starts")).cast(LongType).as("n_occ"))
      val tf = rows.select(col("term"), col("doc_id"), col("dl"),
        size(col("positions")).cast(DoubleType).as("tf"))
      val dfs = tf.groupBy(col("term"))
        .agg(count(lit(1)).cast(DoubleType).as("df"))
      val scored = tf
        .join(broadcast(dfs), "term")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), TextQueries.bm25ScoreTerm.as("score_term"))
        .groupBy(col("doc_id"))
        .agg(sum(col("score_term")).as("score_dec"))
      scored.join(broadcast(matches), "doc_id")
        .select(col("doc_id"), col("n_occ"),
          col("score_dec").cast(DoubleType).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(10)
        .select(
          row_number().over(Window.orderBy(col("score").desc,
            col("doc_id"))).cast(LongType).as("rnk"),
          col("doc_id"), col("n_occ"), col("score"))
        .orderBy(col("rnk"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, str_split(text, ' ') AS t,
               CAST(len(str_split(text, ' ')) AS BIGINT) AS dl
        FROM documents WHERE text IS NOT NULL),
      stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
        FROM docs),
      hits AS (
        SELECT doc_id,
               CAST(len(list_filter(range(1, len(t)), i ->
                 t[i] = 'spark' AND t[i+1] = 'merge')) AS BIGINT) AS n_occ
        FROM docs),
      tf AS (
        SELECT term, doc_id, dl, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(t) AS term FROM docs)
        WHERE term IN ('spark', 'merge')
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
        SELECT doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY a.score DESC, a.doc_id) AS BIGINT) AS rnk,
             a.doc_id, h.n_occ, a.score
      FROM agg a JOIN hits h USING (doc_id)
      WHERE h.n_occ > 0
      ORDER BY a.score DESC, a.doc_id
      LIMIT 10
    """))

  /** Match highlighting — the snippet a search result page shows:
    * for each phrase match, the token window [first_pos−2, first_pos+
    * |phrase|+1] of the ORIGINAL document, rejoined. The doc-store
    * read this implies is the real serving shape: the positional index
    * finds matches WITHOUT touching document text, then text is
    * fetched for ONLY the matched docs (the match frame broadcasts
    * onto the documents scan — bounded by match count, never a corpus
    * join). Window arithmetic is per-row `slice` on the split tokens;
    * clamping at both document edges is pinned in `PhraseSpec`. */
  val phraseSnippet = GQuery(
    "phrase_snippet",
    (s, d) => {
      val path = savedPositionalPath(s, d)
      val matches = phraseStarts(EpochPositional.lists(s, path,
        EpochPositional.current(s, path), Some(phraseTerms)), phraseTerms)
        .select(col("doc_id"),
          size(col("starts")).cast(LongType).as("n_occ"),
          array_min(col("starts")).as("first_pos"))
      val ctx = 2
      val winLen = phraseTerms.length + 2 * ctx
      val toks = split(col("text"), " ")
      val s0 = greatest(col("first_pos") - ctx, lit(0L))
      val e0 = least(col("first_pos") + (phraseTerms.length + ctx - 1),
        size(toks).cast(LongType) - 1)
      Tables.documents(s, d)
        .join(broadcast(matches), "doc_id")
        .select(col("doc_id"), col("n_occ"), col("first_pos"),
          array_join(slice(toks, (s0 + 1).cast(IntegerType),
            (e0 - s0 + 1).cast(IntegerType)), " ").as("snippet"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL),
      hits AS (
        SELECT doc_id, t,
               list_filter(range(1, len(t)), i ->
                 t[i] = 'spark' AND t[i+1] = 'merge') AS starts
        FROM toks)
      SELECT doc_id,
             CAST(len(starts) AS BIGINT) AS n_occ,
             CAST(list_min(starts) - 1 AS BIGINT) AS first_pos,
             array_to_string(
               t[GREATEST(list_min(starts) - 2, 1):LEAST(list_min(starts) + 3, len(t))],
               ' ') AS snippet
      FROM hits
      WHERE len(starts) > 0
      ORDER BY doc_id
    """))

  /** The exploded (query_id, term, offset, phrase_len) request frame of
    * a bounded phrase-query batch — broadcast onto posting rows by both
    * the batched serving path and the percolation stream. */
  private def requestFrame(s: SparkSession,
      queries: Seq[(Long, Seq[String])]): DataFrame = {
    require(queries.nonEmpty, "phrase batch: empty query batch")
    queries.foreach { case (qid, ph) =>
      require(ph.nonEmpty, s"phrase batch: empty phrase for query $qid") }
    import s.implicits._
    queries
      .flatMap { case (qid, ph) =>
        ph.zipWithIndex.map { case (t, i) =>
          (qid, t, i.toLong, ph.length.toLong) } }
      .toDF("query_id", "term", "offset", "phrase_len")
  }

  /** The grouped adjacency fold over (positional rows ⋈ request frame):
    * each joined row shifts its positions back by the term's phrase
    * offset, the (query, doc) group collects the ≤|phrase| shifted
    * arrays, and `aggregate` intersects them — [[phraseStarts]]'s
    * arithmetic expressed once per group, which is what lets ONE pass
    * serve heterogeneous phrases. Docs missing any phrase term never
    * survive the `n_present = phrase_len` gate (countDistinct(offset)
    * — repeated phrase terms are each their own offset requirement). */
  private def matchBatch(rows: DataFrame, qreq: DataFrame): DataFrame =
    rows.join(broadcast(qreq), "term")
      .select(col("query_id"), col("doc_id"), col("phrase_len"),
        col("offset"),
        transform(col("positions"), p => p - col("offset")).as("shifted"))
      .groupBy(col("query_id"), col("doc_id"), col("phrase_len"))
      .agg(countDistinct(col("offset")).as("n_present"),
        collect_list(col("shifted")).as("arrs"))
      .where(col("n_present") === col("phrase_len"))
      .select(col("query_id"), col("doc_id"),
        aggregate(
          slice(col("arrs"), lit(2),
            greatest(size(col("arrs")) - 1, lit(0))),
          element_at(col("arrs"), 1),
          (acc, x) => array_intersect(acc, x)).as("starts"))
      .where(size(col("starts")) > 0)
      .select(col("query_id"), col("doc_id"),
        size(col("starts")).cast(LongType).as("n_occ"),
        array_min(col("starts")).as("first_pos"))
      .orderBy("query_id", "doc_id")

  /** Serve a bounded BATCH of phrase queries against the positional
    * index in ONE distributed pass — `bm25ServeBatch`'s positional twin.
    * The batch's term union restricts the posting scan (one pushed
    * `In(term, …)` read); the exploded (query_id, term, offset) request
    * rows BROADCAST onto the matched lists; and the per-(query, doc)
    * adjacency check becomes a grouped fold: each joined row shifts its
    * positions back by the term's phrase offset, the group collects the
    * ≤|phrase| shifted arrays, and `aggregate` intersects them — the
    * same start-set arithmetic as [[phraseStarts]], expressed once per
    * group instead of once per join leg (a k-way join can't serve
    * heterogeneous phrases in one pass; the grouped fold can). Docs
    * missing any phrase term never survive the `n_present = phrase_len`
    * gate — countDistinct(offset) handles repeated phrase terms
    * correctly (each offset is its own requirement). Index side never
    * moves to the driver; work is |matched posting rows|, corpus-
    * independent. A single-query batch reproduces [[phraseServe]] row
    * for row (pinned in `PhraseSpec`). */
  def phraseServeBatch(s: SparkSession, d: String,
      queries: Seq[(Long, Seq[String])]): DataFrame = {
    val qreq = requestFrame(s, queries)
    val path = savedPositionalPath(s, d)
    val rows = EpochPositional.lists(s, path,
      EpochPositional.current(s, path),
      Some(queries.flatMap(_._2).distinct))
    matchBatch(rows, qreq)
  }

  /** PERCOLATION — the standing-query direction: a bounded set of
    * phrase queries is registered once, and each incoming DOCUMENT
    * batch is matched against all of them in one pass (the public
    * percolator pattern — alerting, routing, compliance filters). The
    * routing is the exact inverse of [[phraseServeBatch]]: there the
    * corpus-scale side is the persisted index and the query batch
    * broadcasts; here the corpus-scale side is the document STREAM and
    * the standing requests broadcast. Positional rows are built on the
    * batch alone (restricted to the standing terms BEFORE grouping —
    * the batch is never indexed or persisted), then the same
    * [[matchBatch]] fold; documents never collect to the driver.
    * Streaming face: `StreamRunner.phrasePercolateStream`. */
  def percolateBatch(docs: DataFrame,
      queries: Seq[(Long, Seq[String])]): DataFrame = {
    val qreq = requestFrame(docs.sparkSession, queries)
    val rows = positionalRows(docProjection(docs),
      Some(queries.flatMap(_._2).distinct))
    matchBatch(rows, qreq)
  }

  /** The batched serving shape, driver-verified over three phrases
    * (each selective at every SF). The oracle re-derives each phrase's
    * start set independently and unions — a hash match proves the
    * one-pass grouped fold loses nothing vs. per-query serving. */
  val phraseMulti = GQuery(
    "phrase_multi",
    (s, d) => phraseServeBatch(s, d, Seq(
      1L -> Seq("spark", "merge"),
      2L -> Seq("table", "row"),
      3L -> Seq("fast", "scan"))),
    Some("""
      WITH toks AS (
        SELECT doc_id, str_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL),
      h1 AS (
        SELECT 1 AS query_id, doc_id,
               list_filter(range(1, len(t)), i ->
                 t[i] = 'spark' AND t[i+1] = 'merge') AS starts
        FROM toks),
      h2 AS (
        SELECT 2 AS query_id, doc_id,
               list_filter(range(1, len(t)), i ->
                 t[i] = 'table' AND t[i+1] = 'row') AS starts
        FROM toks),
      h3 AS (
        SELECT 3 AS query_id, doc_id,
               list_filter(range(1, len(t)), i ->
                 t[i] = 'fast' AND t[i+1] = 'scan') AS starts
        FROM toks),
      allh AS (
        SELECT * FROM h1 UNION ALL SELECT * FROM h2
        UNION ALL SELECT * FROM h3)
      SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
             CAST(len(starts) AS BIGINT) AS n_occ,
             CAST(list_min(starts) - 1 AS BIGINT) AS first_pos
      FROM allh
      WHERE len(starts) > 0
      ORDER BY query_id, doc_id
    """))

  /** The SEARCH-RESULTS PAGE, driver-verified as one frame — the
    * composition a search frontend actually renders: BM25 top-10 over
    * the postings index (rank + score), each result annotated with the
    * first hit position of ANY query term from the POSITIONAL index
    * and a KWIC snippet cut from the document text around it.
    * Contrast [[phraseSnippet]]: that entry snips every doc matching
    * an exact phrase, unranked; this one is the ranked-retrieval page.
    *
    * Scale shape: the ranked ids (≤10, the LIMIT) are collected and
    * PUSHED as `doc_id IN (…)` into both the positional-list read and
    * the documents scan — the row-lookup access path a 100 TB serving
    * store gives you, instead of a full corpus scan filtered through a
    * broadcast join. Every query-dependent read stays `In`-pruned
    * (term on the index scans, doc_id on the fetches); the two ≤10-row
    * annotation frames broadcast onto the ranked spine. Top-10 docs
    * all scored > 0, so a first hit always exists (inner joins safe).
    * The oracle recomputes ranking, hit positions, and snippets from
    * scratch in one SQL statement. */
  val searchSnippets = GQuery(
    "search_snippets",
    (s, d) => {
      val post = TextQueries.savedPostingsPath(s, d)
      val pos = savedPositionalPath(s, d)
      val terms = TextQueries.bm25Terms
      val top = TextQueries.bm25TopK(
        TextQueries.servedLists(s, post, terms),
        graft.Pq.read(s, s"$post/df").where(col("term").isin(terms: _*)),
        graft.Pq.read(s, s"$post/stats"))
        .select(col("rnk"), col("doc_id"), col("score"))
        .localCheckpoint(true)
      val ids = top.select(col("doc_id"))
        .collect().map(_.getLong(0)).toSeq
      require(ids.size <= 10, s"search_snippets: ${ids.size} ids")
      val hits = EpochPositional.lists(s, pos,
          EpochPositional.current(s, pos), Some(terms))
        .where(col("doc_id").isin(ids: _*))
        .groupBy(col("doc_id"))
        .agg(min(array_min(col("positions"))).as("hit_pos"))
      val toks = split(col("text"), " ")
      val ctx = 2
      val docs = Tables.documents(s, d)
        .where(col("doc_id").isin(ids: _*))
        .select(col("doc_id"), toks.as("toks"))
      val s0 = greatest(col("hit_pos") - ctx, lit(0L))
      val e0 = least(col("hit_pos") + ctx,
        size(col("toks")).cast(LongType) - 1)
      top.join(broadcast(hits), "doc_id")
        .join(broadcast(docs), "doc_id")
        .select(col("rnk"), col("doc_id"), col("score"), col("hit_pos"),
          array_join(slice(col("toks"), (s0 + 1).cast(IntegerType),
            (e0 - s0 + 1).cast(IntegerType)), " ").as("snippet"))
        .orderBy(col("rnk"))
    },
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
        SELECT doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1),
      top AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                 AS BIGINT) AS rnk, doc_id, score
        FROM agg
        ORDER BY score DESC, doc_id
        LIMIT 10),
      hit AS (
        SELECT d.doc_id, d.toks,
               CAST(list_min(list_filter(range(1, len(d.toks) + 1),
                 i -> d.toks[i] IN ('spark', 'merge', 'filter')))
                 AS BIGINT) AS pos1
        FROM docs d JOIN top USING (doc_id))
      SELECT t.rnk, t.doc_id, t.score,
             CAST(h.pos1 - 1 AS BIGINT) AS hit_pos,
             array_to_string(
               h.toks[greatest(h.pos1 - 2, 1):least(len(h.toks), h.pos1 + 2)],
               ' ') AS snippet
      FROM top t JOIN hit h USING (doc_id)
      ORDER BY rnk
    """))

  def all: Seq[GQuery] = Seq(phraseSearch, phraseServe, phraseNear,
    phraseRank, phraseSnippet, phraseServeAppend, phraseServeCompact,
    phraseServeDelete, phraseMulti, searchSnippets)
}
