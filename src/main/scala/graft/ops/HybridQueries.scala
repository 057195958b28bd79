package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GQuery, Tables}

/** Hybrid retrieval — reciprocal-rank fusion (RRF) of the keyword tier
  * (BM25 over the inverted index, X10) and the vector tier (cosine ANN,
  * X3/X9). This is the composed retrieval shape a training-data /
  * retrieval pipeline actually runs: a query carries text terms AND an
  * embedding, each tier returns its own ranked list, and the fused
  * ranking is Σ_lists 1/(K + rank) with K = 60 (the standard RRF
  * constant — rank-only fusion, deliberately insensitive to the two
  * tiers' incomparable score scales).
  *
  * The reference has no retrieval tier at all (it delegates querying to
  * the RDBMS — SURVEY.md §1); both member tiers and this fusion are the
  * beyond-reference LLM-pipeline surface the build mandates.
  *
  * Determinism discipline (the registry's decimal rule): each 1/(K+r)
  * contribution is rounded to 6 decimals and cast DECIMAL(38,6) BEFORE
  * the per-doc sum — the sum of ≤2 exact decimals is exact and
  * order-independent, so fused ordering (tie-break doc_id) can never
  * split the engines. No K+r in range terminates at exactly 7 decimal
  * digits, so cross-engine rounding-mode edge cases cannot arise.
  *
  * Scale: fusion itself is a full-outer join of two ≤topK-row lists —
  * driver-free, bounded by the requested k, never by the corpus. The
  * corpus-scale work lives entirely in the member tiers, each already
  * built for 100 TB (pushed `In(term,…)` postings reads; IVF cell
  * pruning); for a BATCH of queries the same fusion runs per query_id
  * over `bm25ServeBatch` × `Ann.serveBatch` outputs as a (query_id,
  * doc_id) equi-join — identical arithmetic, one more grouping column.
  */
object HybridQueries {

  /** Standard RRF smoothing constant (Cormack et al.'s k = 60). */
  private val RrfK = 60

  /** Keyword-list depth — matches the BM25 entries' top-10. */
  private val KwTopK = 10

  /** One list contribution: round(1/(K + rank), 6) as exact decimal;
    * NULL rank (doc absent from that list) → NULL, coalesced to 0 by
    * the fusion sum. */
  private def rrfTerm(rnk: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    round(lit(1.0) / (lit(RrfK.toDouble) + rnk.cast(DoubleType)), 6)
      .cast(DecimalType(38, 6))

  /** Hard ceiling on member-list depth accepted by [[rrfFuse]] — far
    * above every tier's topK (≤ 10) yet small enough that the keyless
    * form's single-partition global window stays trivially bounded. */
  private[ops] val MaxFuseRank = 1000L

  /** Mechanical enforcement of the ≤topK member-list contract: member
    * ranks ARE list depths (each tier emits contiguous 1..topK ranks),
    * so a rank beyond [[MaxFuseRank]] proves an unbounded input — fail
    * the job with a named error the moment one streams past, BEFORE the
    * join feeds the keyless form's single-partition window. In-bound
    * rows pass through unchanged (same values, same hashes); the guard
    * is one codegen'd conditional in the projection, free at runtime. */
  private def boundedRank(rnk: org.apache.spark.sql.Column, side: String)
      : org.apache.spark.sql.Column =
    when(rnk > lit(MaxFuseRank), raise_error(concat(
      lit(s"rrfFuse: $side list exceeds $MaxFuseRank rows (rank "),
      rnk.cast(StringType),
      lit(") — member tiers must emit bounded topK lists"))))
      .otherwise(rnk)

  /** Fuse two ranked lists (…keys, doc_id, kw_rnk) ⋈ (…keys, doc_id,
    * vec_rnk) into the RRF ranking, per key group. Emits EVERY fused
    * doc (≤ kw_k + vec_k rows per group, the union), ranked by fused
    * score desc then doc_id within each group. With no keys the window
    * is the single-partition global one over a by-construction-bounded
    * frame (the bm25TopK discipline); with `query_id` it is the
    * per-request WindowGroupLimit shape of the batch serving path —
    * sized by the request batch, never by the corpus. ONE definition
    * behind the exact, served, and batched entries so their arithmetic
    * cannot drift. The bound is MECHANICAL, not a comment: member ranks
    * stream through [[boundedRank]], so an input list deeper than
    * [[MaxFuseRank]] fails the job by name instead of silently feeding
    * the keyless form's single-partition sort. */
  private[ops] def rrfFuse(kw: DataFrame, vec: DataFrame,
      keys: Seq[String] = Nil): DataFrame = {
    val zero = lit(BigDecimal(0)).cast(DecimalType(38, 6))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("rrf").desc, col("doc_id"))
    // r20 §2.4: the full-outer join of two per-(key, doc) UNIQUE ranked
    // lists is exactly a union + max-per-side aggregate — one exchange
    // where the join paid two plus a sort. Rank uniqueness per side is
    // the member-tier contract (each emits contiguous 1..topK per key),
    // so max() only ever folds one non-null rank with nulls; fused rows,
    // values and hashes are identical to the join form.
    val kwB = kw
      .withColumn("kw_rnk", boundedRank(col("kw_rnk"), "keyword"))
      .select(keys.map(col) ++ Seq(col("doc_id"), col("kw_rnk"),
        lit(null).cast(LongType).as("vec_rnk")): _*)
    val vecB = vec
      .withColumn("vec_rnk", boundedRank(col("vec_rnk"), "vector"))
      .select(keys.map(col) ++ Seq(col("doc_id"),
        lit(null).cast(LongType).as("kw_rnk"), col("vec_rnk")): _*)
    kwB.unionByName(vecB)
      .groupBy((keys :+ "doc_id").map(col): _*)
      .agg(max(col("kw_rnk")).as("kw_rnk"),
        max(col("vec_rnk")).as("vec_rnk"))
      .select(keys.map(col) ++ Seq(col("doc_id"), col("kw_rnk"),
        col("vec_rnk"),
        (coalesce(rrfTerm(col("kw_rnk")), zero) +
          coalesce(rrfTerm(col("vec_rnk")), zero))
          .cast(DoubleType).as("rrf")): _*)
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .select(keys.map(col) ++ Seq(col("rnk"), col("doc_id"),
        col("kw_rnk"), col("vec_rnk"), col("rrf")): _*)
      .orderBy((keys :+ "rnk").map(col): _*)
  }

  /** The exact keyword list: BM25 top-10 (the oracle-verified
    * `bm25_search` pipeline verbatim) as (doc_id, kw_rnk). */
  private def kwExact(s: SparkSession, d: String): DataFrame =
    TextQueries.bm25Search.fn(s, d)
      .select(col("doc_id"), col("rnk").as("kw_rnk"))

  /** The exact vector list: brute-force cosine top-`IvfTopK` of probe
    * vec_id 0 (the `sim_topk` implementation verbatim — doc_id ≡ vec_id
    * across the documents/embeddings tables) as (doc_id, vec_rnk). */
  private def vecExact(s: SparkSession, d: String): DataFrame =
    VectorQueries.bruteTopK(s, d, VectorQueries.IvfTopK)
      .select(col("neighbor_id").as("doc_id"), col("rnk").as("vec_rnk"))

  /** X3+X10 hybrid retrieval, exact form: RRF-fuse the BM25 top-10 and
    * the brute-force cosine top-5 for the (terms, embedding-of-doc-0)
    * query. Both member lists are byte-identical to their own
    * oracle-verified entries (`bm25_search`, `sim_topk`), so this entry
    * hash-verifies exactly the fusion arithmetic on top of them. */
  val hybridSearch = GQuery(
    "hybrid_search",
    (s, d) => rrfFuse(kwExact(s, d), vecExact(s, d)),
    Some(s"""
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
      kwagg AS (
        SELECT doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1),
      kw AS (
        SELECT doc_id, kw_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS kw_rnk
          FROM kwagg)
        WHERE kw_rnk <= $KwTopK),
      probe AS (SELECT embedding AS probe_emb FROM embeddings WHERE vec_id = 0),
      sims AS (
        SELECT e.vec_id AS doc_id,
               list_cosine_similarity(e.embedding, p.probe_emb) AS sim
        FROM embeddings e, probe p
        WHERE e.vec_id <> 0),
      vec AS (
        SELECT doc_id, vec_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rnk
          FROM sims)
        WHERE vec_rnk <= ${VectorQueries.IvfTopK}),
      fused AS (
        SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id, kw.kw_rnk, vec.vec_rnk,
               CAST(COALESCE(CAST(round(1.0 / ($RrfK + kw.kw_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6)))
                  + COALESCE(CAST(round(1.0 / ($RrfK + vec.vec_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6))) AS DOUBLE) AS rrf
        FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk,
             doc_id, kw_rnk, vec_rnk, rrf
      FROM fused
      ORDER BY rnk
    """))

  /** Hybrid retrieval over the PERSISTED serving indexes: the keyword
    * list from the saved postings layout (`bm25_serve` — exact by
    * construction, pushed `In(term,…)` scan) and the vector list from
    * the saved IVF index (`Ann.query`, nProbe = 3 — approximate,
    * recall@5 ≥ 3/5 per the `sim_ivf` gate), fused with the SAME
    * [[rrfFuse]]. Driver verification follows the `recallAnchored`
    * discipline: the hash anchor is the EXACT fused ranking (identical
    * to `hybrid_search`'s oracle rows), plus one `fuse_ok` boolean the
    * oracle asserts TRUE — at most 2 exact-fused docs missing from the
    * served fusion. That bound is IMPLIED by the member gates, not
    * tuned: the keyword lists are identical, so every doc the served
    * fusion misses must be an exact-vec-only doc, and vector recall
    * ≥ 3 of top-5 leaves at most 2 of those. */
  val hybridServe = GQuery(
    "hybrid_serve",
    (s, d) => {
      val kwServed = TextQueries.bm25Serve.fn(s, d)
        .select(col("doc_id"), col("rnk").as("kw_rnk"))
      val vecServed = Ann.query(
        EpochAnn.load(s, VectorQueries.savedIvfPath(s, d, k = 8)),
        probeId = 0, topK = VectorQueries.IvfTopK, nProbe = 3,
        knownProbe = Some(VectorQueries.probeEmbedding(s, d)))
        .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rnk"))
      // served fusion is ≤ 15 rows by construction — broadcastable
      val servedIds = rrfFuse(kwServed, vecServed)
        .select(col("doc_id"), lit(1L).as("hit"))
      rrfFuse(kwExact(s, d), vecExact(s, d))
        .join(broadcast(servedIds), Seq("doc_id"), "left")
        .select(col("rnk"), col("doc_id"), col("kw_rnk"), col("vec_rnk"),
          col("rrf"),
          (sum(when(col("hit").isNull, lit(1L)).otherwise(lit(0L)))
            .over(Window.partitionBy()) <= 2).as("fuse_ok"))
        .orderBy(col("rnk"))
    },
    // hybrid_search's oracle with the tolerance boolean asserted TRUE:
    // the served fusion must cover all but ≤2 of the exact fused docs
    Some(s"""
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
      kwagg AS (
        SELECT doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1),
      kw AS (
        SELECT doc_id, kw_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS kw_rnk
          FROM kwagg)
        WHERE kw_rnk <= $KwTopK),
      probe AS (SELECT embedding AS probe_emb FROM embeddings WHERE vec_id = 0),
      sims AS (
        SELECT e.vec_id AS doc_id,
               list_cosine_similarity(e.embedding, p.probe_emb) AS sim
        FROM embeddings e, probe p
        WHERE e.vec_id <> 0),
      vec AS (
        SELECT doc_id, vec_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rnk
          FROM sims)
        WHERE vec_rnk <= ${VectorQueries.IvfTopK}),
      fused AS (
        SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id, kw.kw_rnk, vec.vec_rnk,
               CAST(COALESCE(CAST(round(1.0 / ($RrfK + kw.kw_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6)))
                  + COALESCE(CAST(round(1.0 / ($RrfK + vec.vec_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6))) AS DOUBLE) AS rrf
        FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk,
             doc_id, kw_rnk, vec_rnk, rrf, TRUE AS fuse_ok
      FROM fused
      ORDER BY rnk
    """))

  /** The 3-request hybrid batch shared by [[hybridMulti]] and its
    * oracle's VALUES table: query_id doubles as the probe embedding's
    * vec_id (the `sim_serve` request discipline), term sets are
    * `bm25_multi`'s (vocabulary already oracle-proven). */
  private val multiRequests: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "merge"),
    1L -> Seq("filter"),
    2L -> Seq("spark", "filter", "query"))

  /** Exact per-probe vector lists for the request batch, as
    * (query_id, doc_id, vec_rnk) — the `perProbeRecallAnchored`
    * brute-force shape: the bounded probe side broadcasts, the corpus
    * side scans once, per-probe top-5 in one window pass. */
  private def vecExactBatch(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VecMath
    val e = Tables.embeddings(s, d)
    val probes = e.filter(col("vec_id") < multiRequests.size)
      .select(col("vec_id").as("query_id"), col("embedding").as("pemb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("doc_id"))
    e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        (VecMath.vecDot(col("embedding"), col("pemb")) /
          (sqrt(VecMath.vecNormSq(col("embedding"))) *
            sqrt(VecMath.vecNormSq(col("pemb"))))).as("sim"))
      .withColumn("vec_rnk", row_number().over(w).cast(LongType))
      .filter(col("vec_rnk") <= VectorQueries.IvfTopK)
      .select("query_id", "doc_id", "vec_rnk")
  }

  /** Serve a bounded BATCH of hybrid requests — each (query_id, terms,
    * probe embedding) — against BOTH persisted indexes in one
    * distributed pass per tier, RRF-fused per query_id: keyword lists
    * from [[TextQueries.bm25ServeBatch]] over the term-sorted postings
    * layout (pushed `In(term,…)` scan), vector lists from
    * [[Ann.serveBatch]] over the cell-partitioned IVF layout (both
    * built once per process), fused by the shared keyed [[rrfFuse]].
    * This is the micro-batch body of
    * `graft.streaming.StreamRunner.hybridServeStream` and the served
    * member of [[hybridMulti]] — ONE pipeline behind the registry
    * entry, the public API, and the stream, so none can drift. The
    * term union restricts the postings scan, request pairs broadcast,
    * per-query grouping and top-k are WindowGroupLimit passes sized by
    * the batch — nothing beyond the two index probes scales with more
    * than (batch × topK). `excludeSelf` as on `Ann.serveBatch`:
    * default true for resident probe ids; pass false when request ids
    * live outside the index id space. */
  def hybridServeBatch(s: SparkSession, d: String,
      requests: Seq[(Long, Seq[String], Seq[Double])],
      kwTopK: Int = KwTopK, vecTopK: Int = VectorQueries.IvfTopK,
      nProbe: Int = 3, excludeSelf: Boolean = true): DataFrame = {
    require(requests.nonEmpty, "hybridServeBatch: empty request batch")
    val kw = TextQueries.bm25ServeBatch(s, d,
      requests.map(r => (r._1, r._2)), kwTopK)
      .select(col("query_id"), col("doc_id"), col("rnk").as("kw_rnk"))
    val vec = Ann.serveBatch(
      EpochAnn.load(s, VectorQueries.savedIvfPath(s, d, k = 8)),
      requests.map(r => (r._1, r._3)), vecTopK, nProbe,
      excludeSelf = excludeSelf)
      .select(col("probe_id").as("query_id"),
        col("neighbor_id").as("doc_id"), col("rank").as("vec_rnk"))
    rrfFuse(kw, vec, Seq("query_id"))
  }

  /** BATCHED hybrid serving, driver-verified: a 3-request batch — each
    * request carrying its own term set AND its own probe embedding —
    * answered in ONE [[hybridServeBatch]] pass (one distributed pass
    * per tier against the persisted indexes, per-query fusion).
    *
    * Verification follows [[hybridServe]]'s discipline per query: the
    * anchor is each request's EXACT fused ranking (served keyword list
    * — exact by the `bm25_multi`-proven roundtrip — fused with the
    * brute-force vector list), plus a per-query `fuse_ok` the oracle
    * asserts TRUE: ≤2 anchor docs missing from that query's served
    * fusion, implied by the per-probe recall ≥ 3/5 gate (`sim_serve`)
    * and keyword-side exactness. */
  val hybridMulti = GQuery(
    "hybrid_multi",
    (s, d) => {
      val kwServed = TextQueries.bm25ServeBatch(s, d, multiRequests,
        topK = KwTopK)
        .select(col("query_id"), col("doc_id"), col("rnk").as("kw_rnk"))
      // r20 §5: request vectors via the once-per-process probe memo
      // (VectorQueries.probeEmbedding) instead of a collect per rep
      val probeEmb: Map[Long, Seq[Double]] =
        (0L until multiRequests.size.toLong)
          .map(i => i -> VectorQueries.probeEmbedding(s, d, i)).toMap
      val servedIds = hybridServeBatch(s, d,
        multiRequests.map { case (qid, terms) =>
          (qid, terms, probeEmb(qid)) })
        .select(col("query_id"), col("doc_id"), lit(1L).as("hit"))
      rrfFuse(kwServed, vecExactBatch(s, d), Seq("query_id"))
        .join(broadcast(servedIds), Seq("query_id", "doc_id"), "left")
        .select(col("query_id"), col("rnk"), col("doc_id"), col("kw_rnk"),
          col("vec_rnk"), col("rrf"),
          (sum(when(col("hit").isNull, lit(1L)).otherwise(lit(0L)))
            .over(Window.partitionBy(col("query_id"))) <= 2).as("fuse_ok"))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(s"""
      WITH q(query_id, term) AS (VALUES
        (CAST(0 AS BIGINT), 'spark'), (0, 'merge'),
        (1, 'filter'),
        (2, 'spark'), (2, 'filter'), (2, 'query')),
      docs AS (
        SELECT doc_id, str_split(text, ' ') AS toks,
               CAST(len(str_split(text, ' ')) AS BIGINT) AS dl
        FROM documents WHERE text IS NOT NULL),
      stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
        FROM docs),
      tf AS (
        SELECT term, doc_id, dl, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
        WHERE term IN (SELECT term FROM q)
        GROUP BY 1, 2, 3),
      dfs AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT q.query_id, tf.doc_id,
               CAST(round(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) / s.avgdl))),
                 4) AS DECIMAL(38,4)) AS score_term
        FROM tf
        JOIN q ON q.term = tf.term
        JOIN dfs d ON d.term = tf.term
        CROSS JOIN stats s),
      kwagg AS (
        SELECT query_id, doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1, 2),
      kw AS (
        SELECT query_id, doc_id, kw_rnk FROM (
          SELECT query_id, doc_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id) AS BIGINT) AS kw_rnk
          FROM kwagg)
        WHERE kw_rnk <= $KwTopK),
      probes AS (
        SELECT vec_id AS query_id, embedding AS pemb
        FROM embeddings WHERE vec_id < 3),
      vsims AS (
        SELECT p.query_id, e.vec_id AS doc_id,
               list_cosine_similarity(e.embedding, p.pemb) AS sim
        FROM embeddings e CROSS JOIN probes p
        WHERE e.vec_id <> p.query_id),
      vec AS (
        SELECT query_id, doc_id, vec_rnk FROM (
          SELECT query_id, doc_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rnk
          FROM vsims)
        WHERE vec_rnk <= ${VectorQueries.IvfTopK}),
      fused AS (
        SELECT COALESCE(kw.query_id, vec.query_id) AS query_id,
               COALESCE(kw.doc_id, vec.doc_id) AS doc_id,
               kw.kw_rnk, vec.vec_rnk,
               CAST(COALESCE(CAST(round(1.0 / ($RrfK + kw.kw_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6)))
                  + COALESCE(CAST(round(1.0 / ($RrfK + vec.vec_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6))) AS DOUBLE) AS rrf
        FROM kw FULL OUTER JOIN vec
          ON kw.query_id = vec.query_id AND kw.doc_id = vec.doc_id)
      SELECT query_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk,
             doc_id, kw_rnk, vec_rnk, rrf, TRUE AS fuse_ok
      FROM fused
      ORDER BY query_id, rnk
    """))

  /** Re-ranking stage — the third leg of the modern retrieval stack
    * (retrieve per tier → fuse → MODEL RE-RANK): the fused shortlist
    * joins back to the documents table and is re-ordered by the
    * hashed-feature linear model of `model_score` (integer-exact score
    * — no float drift can reorder the engines), with the fusion score
    * and doc_id as deterministic tie-breaks. Where a cross-encoder
    * would sit in production, the stand-in keeps the exact plan shape:
    * per-candidate feature extraction fused into the candidate read,
    * no driver round-trip, no model server.
    *
    * Scale: the model touches ONLY the shortlist — the ≤15-row fused
    * list broadcasts onto the documents scan (map-side join, no
    * shuffle; Catalyst prunes the scan to doc_id+text). At serving
    * scale the bounded id list would instead push down as an
    * `In(doc_id,…)` point-lookup against doc-id-sorted row groups (the
    * bm25Terms discipline); the registry form stays lazy — no eager
    * collect inside the builder, the heavy_hitters_sketch lesson — and
    * the oracle hash-verifies the re-ranked ordering either way. */
  val hybridRerank = GQuery(
    "hybrid_rerank",
    (s, d) => {
      val fusedList = rrfFuse(kwExact(s, d), vecExact(s, d))
        .select(col("rnk").as("fuse_rnk"), col("doc_id"), col("rrf"))
      val toks = array_remove(
        split(lower(coalesce(col("text"), lit(""))), "[^a-z0-9]+"), "")
      val weights = transform(DedupQueries.tokenHashes32(toks),
        v => (((v % 256) * 37 + 11) % 1001) - 500)
      // model scores only for shortlist docs: the ≤15-row id list
      // broadcasts onto the documents scan (map-side inner join) — then
      // the shortlist LEFT-joins the bounded score frame, mirroring the
      // oracle's LEFT JOIN: a fused doc_id absent from documents (an id
      // outside the documents id space) keeps its row at score 0 instead
      // of silently dropping from the re-rank
      val scores = Tables.documents(s, d)
        .join(broadcast(fusedList.select(col("doc_id"))), "doc_id")
        .select(col("doc_id"),
          aggregate(weights, lit(0L), (acc, w) => acc + w).as("mscore"))
      fusedList.join(broadcast(scores), Seq("doc_id"), "left")
        .select(col("doc_id"), col("fuse_rnk"), col("rrf"),
          coalesce(col("mscore"), lit(0L)).as("score"))
        .select(row_number().over(Window.orderBy(col("score").desc,
            col("rrf").desc, col("doc_id"))).cast(LongType).as("rnk"),
          col("doc_id"), col("fuse_rnk"), col("score"), col("rrf"))
        .orderBy(col("rnk"))
    },
    Some(s"""
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
      kwagg AS (
        SELECT doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1),
      kw AS (
        SELECT doc_id, kw_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS kw_rnk
          FROM kwagg)
        WHERE kw_rnk <= $KwTopK),
      probe AS (SELECT embedding AS probe_emb FROM embeddings WHERE vec_id = 0),
      sims AS (
        SELECT e.vec_id AS doc_id,
               list_cosine_similarity(e.embedding, p.probe_emb) AS sim
        FROM embeddings e, probe p
        WHERE e.vec_id <> 0),
      vec AS (
        SELECT doc_id, vec_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rnk
          FROM sims)
        WHERE vec_rnk <= ${VectorQueries.IvfTopK}),
      fused AS (
        SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id,
               CAST(COALESCE(CAST(round(1.0 / ($RrfK + kw.kw_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6)))
                  + COALESCE(CAST(round(1.0 / ($RrfK + vec.vec_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6))) AS DOUBLE) AS rrf
        FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id),
      franked AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS fuse_rnk,
               doc_id, rrf
        FROM fused),
      mtoks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                           '[^a-z0-9]+'), t -> t <> '') AS mtoks
        FROM documents),
      mflat AS (SELECT doc_id, unnest(mtoks) AS tok FROM mtoks),
      mhv AS (
        SELECT doc_id,
               (CAST(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS BIGINT) << 28)
             + ((strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) << 24)
             + ((strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) << 20)
             + ((strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) << 16)
             + ((strpos('0123456789abcdef', substr(md5(tok), 5, 1)) - 1) << 12)
             + ((strpos('0123456789abcdef', substr(md5(tok), 6, 1)) - 1) << 8)
             + ((strpos('0123456789abcdef', substr(md5(tok), 7, 1)) - 1) << 4)
             +  (strpos('0123456789abcdef', substr(md5(tok), 8, 1)) - 1) AS v
        FROM mflat),
      msc AS (
        SELECT doc_id,
               SUM((((v % 256) * 37 + 11) % 1001) - 500) AS score
        FROM mhv GROUP BY 1),
      reranked AS (
        SELECT f.doc_id, f.fuse_rnk, f.rrf,
               CAST(COALESCE(m.score, 0) AS BIGINT) AS score
        FROM franked f LEFT JOIN msc m USING (doc_id))
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, rrf DESC, doc_id) AS BIGINT) AS rnk,
             doc_id, fuse_rnk, score, rrf
      FROM reranked
      ORDER BY rnk
    """))

  /** FILTERED hybrid retrieval — "search within a metadata predicate",
    * the most common real serving request ("lang = 'en'" etc.; id
    * residue stands in for the payload column, matching `sim_filtered`).
    * The predicate composes into BOTH member tiers as a CANDIDATE
    * filter — the k best MATCHING docs per tier, not the matching
    * subset of the unfiltered top-k (the classic post-filter bug):
    *
    *  - keyword tier: the posting rows read from the persisted index
    *    (pushed `In(term,…)` scan as ever) are filtered by the doc
    *    predicate BEFORE scoring, while df and corpus stats stay
    *    INDEX-WIDE — the at-rest statistics a real index serves; a
    *    filter selects candidates, it does not re-weight IDF. Exact by
    *    construction, like every keyword serving path.
    *  - vector tier: [[Ann.query]]'s `candidateFilter` — the predicate
    *    applies after cell pruning and before ranking (`sim_filtered`'s
    *    proven shape), recall ≥ 3/5 against the FILTERED brute force.
    *
    * Fusion and verification follow [[hybridServe]]'s discipline: the
    * hash anchor is the exact filtered fusion (filtered keyword list +
    * filtered brute-force vector list), plus `fuse_ok` — ≤ 2 anchor
    * docs missing from the served fusion, implied by keyword-side
    * exactness + the filtered vector recall gate. */
  val hybridFiltered = GQuery(
    "hybrid_filtered",
    (s, d) => {
      val path = TextQueries.savedPostingsPath(s, d)
      val lists = TextQueries.servedLists(s, path, TextQueries.bm25Terms)
      val dfs = graft.Pq.read(s, s"$path/df")
        .where(col("term").isin(TextQueries.bm25Terms: _*))
      val stats = graft.Pq.read(s, s"$path/stats")
      val kwFiltered = TextQueries.bm25TopK(
        lists.where(pmod(col("doc_id"), lit(3)) === 0), dfs, stats)
        .select(col("doc_id"), col("rnk").as("kw_rnk"))
      val vecPred = pmod(col("vec_id"), lit(3)) === 0
      val vecServed = Ann.query(
        EpochAnn.load(s, VectorQueries.savedIvfPath(s, d, k = 8)),
        probeId = 0, topK = VectorQueries.IvfTopK, nProbe = 3,
        candidateFilter = Some(vecPred),
        knownProbe = Some(VectorQueries.probeEmbedding(s, d)))
        .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rnk"))
      val vecExactFiltered = VectorQueries.bruteTopK(s, d,
        VectorQueries.IvfTopK, Some(vecPred))
        .select(col("neighbor_id").as("doc_id"), col("rnk").as("vec_rnk"))
      val servedIds = rrfFuse(kwFiltered, vecServed)
        .select(col("doc_id"), lit(1L).as("hit"))
      rrfFuse(kwFiltered, vecExactFiltered)
        .join(broadcast(servedIds), Seq("doc_id"), "left")
        .select(col("rnk"), col("doc_id"), col("kw_rnk"), col("vec_rnk"),
          col("rrf"),
          (sum(when(col("hit").isNull, lit(1L)).otherwise(lit(0L)))
            .over(Window.partitionBy()) <= 2).as("fuse_ok"))
        .orderBy(col("rnk"))
    },
    Some(s"""
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
        FROM tf JOIN dfs d USING (term) CROSS JOIN stats s
        WHERE tf.doc_id % 3 = 0),
      kwagg AS (
        SELECT doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1),
      kw AS (
        SELECT doc_id, kw_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS kw_rnk
          FROM kwagg)
        WHERE kw_rnk <= $KwTopK),
      probe AS (SELECT embedding AS probe_emb FROM embeddings WHERE vec_id = 0),
      sims AS (
        SELECT e.vec_id AS doc_id,
               list_cosine_similarity(e.embedding, p.probe_emb) AS sim
        FROM embeddings e, probe p
        WHERE e.vec_id <> 0 AND e.vec_id % 3 = 0),
      vec AS (
        SELECT doc_id, vec_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rnk
          FROM sims)
        WHERE vec_rnk <= ${VectorQueries.IvfTopK}),
      fused AS (
        SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id, kw.kw_rnk, vec.vec_rnk,
               CAST(COALESCE(CAST(round(1.0 / ($RrfK + kw.kw_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6)))
                  + COALESCE(CAST(round(1.0 / ($RrfK + vec.vec_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6))) AS DOUBLE) AS rrf
        FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk,
             doc_id, kw_rnk, vec_rnk, rrf, TRUE AS fuse_ok
      FROM fused
      ORDER BY rnk
    """))

  /** Hybrid serving under INDEX GROWTH — the composed-stack roundtrip
    * the per-tier append entries (`bm25_serve_append`,
    * `sim_ivf_append`) each prove alone: BOTH persisted indexes were
    * built on the even-id half of the corpus and grown to the whole of
    * it by their append paths (new term-sorted postings segments +
    * algebraic df/stats merges; frozen-centroid assignment into a
    * referenced delta generation), and the hybrid query then serves against the
    * two grown layouts. The hash anchor is the EXACT full-corpus
    * fusion — `hybrid_search`'s oracle rows verbatim — plus the usual
    * `fuse_ok` ≤ 2-missing gate: the appended keyword index is exact
    * by the `bm25_serve_append` roundtrip, so every miss is a
    * vec-only doc, and the appended IVF's recall ≥ 3/5 gate
    * (`sim_ivf_append`) leaves at most 2 of those. */
  val hybridServeAppend = GQuery(
    "hybrid_serve_append",
    (s, d) => {
      val path = TextQueries.savedPostingsAppendPath(s, d)
      val lists = TextQueries.servedLists(s, path, TextQueries.bm25Terms)
      val dfs = graft.Pq.read(s, s"$path/df")
        .where(col("term").isin(TextQueries.bm25Terms: _*))
      val stats = graft.Pq.read(s, s"$path/stats")
      val kwServed = TextQueries.bm25TopK(lists, dfs, stats)
        .select(col("doc_id"), col("rnk").as("kw_rnk"))
      val vecServed = Ann.query(
        EpochAnn.load(s, VectorQueries.appendedIvfPath(s, d, k = 8)),
        probeId = 0, topK = VectorQueries.IvfTopK, nProbe = 3,
        knownProbe = Some(VectorQueries.probeEmbedding(s, d)))
        .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rnk"))
      val servedIds = rrfFuse(kwServed, vecServed)
        .select(col("doc_id"), lit(1L).as("hit"))
      rrfFuse(kwExact(s, d), vecExact(s, d))
        .join(broadcast(servedIds), Seq("doc_id"), "left")
        .select(col("rnk"), col("doc_id"), col("kw_rnk"), col("vec_rnk"),
          col("rrf"),
          (sum(when(col("hit").isNull, lit(1L)).otherwise(lit(0L)))
            .over(Window.partitionBy()) <= 2).as("fuse_ok"))
        .orderBy(col("rnk"))
    },
    // hybrid_serve's oracle verbatim: the grown indexes must cover the
    // exact full-corpus fusion within the same tolerance
    Some(s"""
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
      kwagg AS (
        SELECT doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1),
      kw AS (
        SELECT doc_id, kw_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS kw_rnk
          FROM kwagg)
        WHERE kw_rnk <= $KwTopK),
      probe AS (SELECT embedding AS probe_emb FROM embeddings WHERE vec_id = 0),
      sims AS (
        SELECT e.vec_id AS doc_id,
               list_cosine_similarity(e.embedding, p.probe_emb) AS sim
        FROM embeddings e, probe p
        WHERE e.vec_id <> 0),
      vec AS (
        SELECT doc_id, vec_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rnk
          FROM sims)
        WHERE vec_rnk <= ${VectorQueries.IvfTopK}),
      fused AS (
        SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id, kw.kw_rnk, vec.vec_rnk,
               CAST(COALESCE(CAST(round(1.0 / ($RrfK + kw.kw_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6)))
                  + COALESCE(CAST(round(1.0 / ($RrfK + vec.vec_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6))) AS DOUBLE) AS rrf
        FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk,
             doc_id, kw_rnk, vec_rnk, rrf, TRUE AS fuse_ok
      FROM fused
      ORDER BY rnk
    """))

  /** BATCHED re-ranking — [[hybridRerank]]'s per-query form, closing
    * the batched stack (retrieve per tier → fuse per query → model
    * re-rank per query, all in ONE pass): every request's fused
    * shortlist is re-ordered by the same hashed-feature model, scored
    * once per DISTINCT candidate doc (the deduped id set broadcasts
    * onto the documents scan — a doc shared by two shortlists is
    * scored once, not twice), then LEFT-joined back per shortlist row
    * and re-ranked within each query_id by one WindowGroupLimit-shaped
    * window pass. Nothing beyond the member tiers scales past
    * (batch × topK) rows; at serving scale the bounded id set pushes
    * down as an `In(doc_id,…)` point-lookup exactly as [[hybridRerank]]
    * documents. */
  val hybridMultiRerank = GQuery(
    "hybrid_multi_rerank",
    (s, d) => {
      val kwServed = TextQueries.bm25ServeBatch(s, d, multiRequests,
        topK = KwTopK)
        .select(col("query_id"), col("doc_id"), col("rnk").as("kw_rnk"))
      val fused = rrfFuse(kwServed, vecExactBatch(s, d), Seq("query_id"))
        .select(col("query_id"), col("rnk").as("fuse_rnk"), col("doc_id"),
          col("rrf"))
      val toks = array_remove(
        split(lower(coalesce(col("text"), lit(""))), "[^a-z0-9]+"), "")
      val weights = transform(DedupQueries.tokenHashes32(toks),
        v => (((v % 256) * 37 + 11) % 1001) - 500)
      val scores = Tables.documents(s, d)
        .join(broadcast(fused.select(col("doc_id")).distinct()), "doc_id")
        .select(col("doc_id"),
          aggregate(weights, lit(0L), (acc, w) => acc + w).as("mscore"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("rrf").desc, col("doc_id"))
      fused.join(broadcast(scores), Seq("doc_id"), "left")
        .select(col("query_id"), col("doc_id"), col("fuse_rnk"), col("rrf"),
          coalesce(col("mscore"), lit(0L)).as("score"))
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .select(col("query_id"), col("rnk"), col("doc_id"), col("fuse_rnk"),
          col("score"), col("rrf"))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(s"""
      WITH q(query_id, term) AS (VALUES
        (CAST(0 AS BIGINT), 'spark'), (0, 'merge'),
        (1, 'filter'),
        (2, 'spark'), (2, 'filter'), (2, 'query')),
      docs AS (
        SELECT doc_id, str_split(text, ' ') AS toks,
               CAST(len(str_split(text, ' ')) AS BIGINT) AS dl
        FROM documents WHERE text IS NOT NULL),
      stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
        FROM docs),
      tf AS (
        SELECT term, doc_id, dl, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM docs)
        WHERE term IN (SELECT term FROM q)
        GROUP BY 1, 2, 3),
      dfs AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      scored AS (
        SELECT q.query_id, tf.doc_id,
               CAST(round(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) / s.avgdl))),
                 4) AS DECIMAL(38,4)) AS score_term
        FROM tf
        JOIN q ON q.term = tf.term
        JOIN dfs d ON d.term = tf.term
        CROSS JOIN stats s),
      kwagg AS (
        SELECT query_id, doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1, 2),
      kw AS (
        SELECT query_id, doc_id, kw_rnk FROM (
          SELECT query_id, doc_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY score DESC, doc_id) AS BIGINT) AS kw_rnk
          FROM kwagg)
        WHERE kw_rnk <= $KwTopK),
      probes AS (
        SELECT vec_id AS query_id, embedding AS pemb
        FROM embeddings WHERE vec_id < 3),
      vsims AS (
        SELECT p.query_id, e.vec_id AS doc_id,
               list_cosine_similarity(e.embedding, p.pemb) AS sim
        FROM embeddings e CROSS JOIN probes p
        WHERE e.vec_id <> p.query_id),
      vec AS (
        SELECT query_id, doc_id, vec_rnk FROM (
          SELECT query_id, doc_id,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rnk
          FROM vsims)
        WHERE vec_rnk <= ${VectorQueries.IvfTopK}),
      fused AS (
        SELECT COALESCE(kw.query_id, vec.query_id) AS query_id,
               COALESCE(kw.doc_id, vec.doc_id) AS doc_id,
               CAST(COALESCE(CAST(round(1.0 / ($RrfK + kw.kw_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6)))
                  + COALESCE(CAST(round(1.0 / ($RrfK + vec.vec_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6))) AS DOUBLE) AS rrf
        FROM kw FULL OUTER JOIN vec
          ON kw.query_id = vec.query_id AND kw.doc_id = vec.doc_id),
      franked AS (
        SELECT query_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY rrf DESC, doc_id) AS BIGINT) AS fuse_rnk,
               doc_id, rrf
        FROM fused),
      mtoks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                           '[^a-z0-9]+'), t -> t <> '') AS mtoks
        FROM documents),
      mflat AS (SELECT doc_id, unnest(mtoks) AS tok FROM mtoks),
      mhv AS (
        SELECT doc_id,
               (CAST(strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS BIGINT) << 28)
             + ((strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1) << 24)
             + ((strpos('0123456789abcdef', substr(md5(tok), 3, 1)) - 1) << 20)
             + ((strpos('0123456789abcdef', substr(md5(tok), 4, 1)) - 1) << 16)
             + ((strpos('0123456789abcdef', substr(md5(tok), 5, 1)) - 1) << 12)
             + ((strpos('0123456789abcdef', substr(md5(tok), 6, 1)) - 1) << 8)
             + ((strpos('0123456789abcdef', substr(md5(tok), 7, 1)) - 1) << 4)
             +  (strpos('0123456789abcdef', substr(md5(tok), 8, 1)) - 1) AS v
        FROM mflat),
      msc AS (
        SELECT doc_id,
               SUM((((v % 256) * 37 + 11) % 1001) - 500) AS score
        FROM mhv GROUP BY 1),
      reranked AS (
        SELECT f.query_id, f.doc_id, f.fuse_rnk, f.rrf,
               CAST(COALESCE(m.score, 0) AS BIGINT) AS score
        FROM franked f LEFT JOIN msc m USING (doc_id))
      SELECT query_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score DESC, rrf DESC, doc_id) AS BIGINT) AS rnk,
             doc_id, fuse_rnk, score, rrf
      FROM reranked
      ORDER BY query_id, rnk
    """))

  /** TAKEDOWN PROPAGATION through the composed stack — the compliance
    * property the delete lifecycle exists for: the SAME doomed doc set
    * (doc_id ≡ 3 mod 7) was tombstoned out of BOTH persisted indexes
    * (`postingsDelete` on the postings layout; `EpochAnn.delete` on
    * an IVF twin built over the full corpus), and the hybrid query then serves
    * against the two tombstoned layouts. A deleted doc must be
    * unreachable through EITHER tier of the fused ranking — not merely
    * demoted: the keyword tier's anti-join removes its posting rows
    * (with df/stats already subtracted, so surviving scores equal a
    * rebuild's), and the vector tier's anti-join removes it from every
    * probed cell before ranking.
    *
    * Verification follows [[hybridServe]]'s discipline over the
    * SURVIVOR corpus: the hash anchor is the exact fusion over the
    * survivors (tombstoned keyword serving is exact-by-rebuild per
    * `bm25_serve_delete`; vector side the filtered brute force), plus
    * the `fuse_ok` ≤ 2-missing gate implied by keyword exactness +
    * the tombstoned-IVF recall gate (`sim_ivf_delete`'s discipline at
    * a milder 1-in-7 deletion). */
  val hybridServeDelete = GQuery(
    "hybrid_serve_delete",
    (s, d) => {
      val path = TextQueries.savedPostingsDeletePath(s, d)
      val kwServed = TextQueries.bm25TopK(
        TextQueries.servedLists(s, path, TextQueries.bm25Terms),
        graft.Pq.read(s, s"$path/df")
          .where(col("term").isin(TextQueries.bm25Terms: _*)),
        graft.Pq.read(s, s"$path/stats"))
        .select(col("doc_id"), col("rnk").as("kw_rnk"))
      val vecServed = Ann.query(
        EpochAnn.load(s, VectorQueries.deletedIvfPath7(s, d, k = 8)),
        probeId = 0, topK = VectorQueries.IvfTopK, nProbe = 3,
        knownProbe = Some(VectorQueries.probeEmbedding(s, d)))
        .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rnk"))
      val vecExactSurvivors = VectorQueries.bruteTopK(s, d,
        VectorQueries.IvfTopK, Some(pmod(col("vec_id"), lit(7)) =!= 3))
        .select(col("neighbor_id").as("doc_id"), col("rnk").as("vec_rnk"))
      val servedIds = rrfFuse(kwServed, vecServed)
        .select(col("doc_id"), lit(1L).as("hit"))
      rrfFuse(kwServed, vecExactSurvivors)
        .join(broadcast(servedIds), Seq("doc_id"), "left")
        .select(col("rnk"), col("doc_id"), col("kw_rnk"), col("vec_rnk"),
          col("rrf"),
          (sum(when(col("hit").isNull, lit(1L)).otherwise(lit(0L)))
            .over(Window.partitionBy()) <= 2).as("fuse_ok"))
        .orderBy(col("rnk"))
    },
    // the hybrid_serve oracle over ONLY the survivors: one takedown,
    // propagated through both tiers of the fused ranking
    Some(s"""
      WITH docs AS (
        SELECT doc_id, str_split(text, ' ') AS toks,
               CAST(len(str_split(text, ' ')) AS BIGINT) AS dl
        FROM documents WHERE text IS NOT NULL AND doc_id % 7 <> 3),
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
      kwagg AS (
        SELECT doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1),
      kw AS (
        SELECT doc_id, kw_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS kw_rnk
          FROM kwagg)
        WHERE kw_rnk <= $KwTopK),
      probe AS (SELECT embedding AS probe_emb FROM embeddings WHERE vec_id = 0),
      sims AS (
        SELECT e.vec_id AS doc_id,
               list_cosine_similarity(e.embedding, p.probe_emb) AS sim
        FROM embeddings e, probe p
        WHERE e.vec_id <> 0 AND e.vec_id % 7 <> 3),
      vec AS (
        SELECT doc_id, vec_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rnk
          FROM sims)
        WHERE vec_rnk <= ${VectorQueries.IvfTopK}),
      fused AS (
        SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id, kw.kw_rnk, vec.vec_rnk,
               CAST(COALESCE(CAST(round(1.0 / ($RrfK + kw.kw_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6)))
                  + COALESCE(CAST(round(1.0 / ($RrfK + vec.vec_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6))) AS DOUBLE) AS rrf
        FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk,
             doc_id, kw_rnk, vec_rnk, rrf, TRUE AS fuse_ok
      FROM fused
      ORDER BY rnk
    """))

  /** PHRASE-constrained hybrid retrieval — the "quoted query plus
    * semantic match" a real search box issues: the keyword tier is
    * `phrase_rank` (only docs containing the exact phrase, BM25-ranked
    * off the positional index — [[PhraseQueries]]), the vector tier is
    * the cosine top-k, fused with the SAME [[rrfFuse]]. Phrase
    * precision and semantic recall compose instead of competing: a doc
    * with the exact phrase AND embedding proximity tops the fusion,
    * while semantic-only matches still surface below it (full-outer
    * fusion — the phrase constraint bounds the KEYWORD list, it does
    * not censor the vector list). Both member lists are byte-identical
    * to their own oracle-verified entries, so this entry hash-verifies
    * exactly the fusion arithmetic over the phrase tier; corpus-scale
    * work stays in the members (pushed positional reads, ANN pruning —
    * fusion joins two ≤topK lists). */
  val hybridPhrase = GQuery(
    "hybrid_phrase",
    (s, d) => rrfFuse(
      PhraseQueries.phraseRank.fn(s, d)
        .select(col("doc_id"), col("rnk").as("kw_rnk")),
      vecExact(s, d)),
    Some(s"""
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
      kwagg AS (
        SELECT doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1),
      kw AS (
        SELECT doc_id, kw_rnk FROM (
          SELECT a.doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY a.score DESC, a.doc_id) AS BIGINT) AS kw_rnk
          FROM kwagg a JOIN hits h USING (doc_id)
          WHERE h.n_occ > 0)
        WHERE kw_rnk <= $KwTopK),
      probe AS (SELECT embedding AS probe_emb FROM embeddings WHERE vec_id = 0),
      sims AS (
        SELECT e.vec_id AS doc_id,
               list_cosine_similarity(e.embedding, p.probe_emb) AS sim
        FROM embeddings e, probe p
        WHERE e.vec_id <> 0),
      vec AS (
        SELECT doc_id, vec_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rnk
          FROM sims)
        WHERE vec_rnk <= ${VectorQueries.IvfTopK}),
      fused AS (
        SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id, kw.kw_rnk, vec.vec_rnk,
               CAST(COALESCE(CAST(round(1.0 / ($RrfK + kw.kw_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6)))
                  + COALESCE(CAST(round(1.0 / ($RrfK + vec.vec_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6))) AS DOUBLE) AS rrf
        FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rnk,
             doc_id, kw_rnk, vec_rnk, rrf
      FROM fused
      ORDER BY rnk
    """))

  /** MMR (maximal marginal relevance — the public Carbonell/Goldstein
    * '98 formulation) diversity rerank of the hybrid shortlist: greedily
    * pick k results maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-picked, so a result page stops showing five copies of the
    * same near-dup answer. λ = 0.5, k = 5, relevance = the fused RRF
    * score, similarity = embedding cosine between SHORTLIST members
    * (never corpus pairs).
    *
    * Shape: the corpus-scale work stays in the member tiers; MMR sees
    * only the fused shortlist (≤ kw_k + vec_k rows by the [[rrfFuse]]
    * bound). The pairwise similarity matrix is computed IN SPARK (a
    * crossJoin of the ≤15-row candidate frame with itself through the
    * same `VecMath` dot kernels + round-4-decimal discipline every
    * vector oracle uses, so the sims are the engine's own bits), and
    * only then does the ≤15-item greedy selection run on the driver —
    * the one inherently sequential step, bounded by the shortlist
    * contract like the probe-batch collects. Selection determinism:
    * scores compare as identical doubles on both engines (rel is
    * decimal-exact RRF, sims are round-4 decimals, λ-arithmetic is the
    * same two IEEE ops), ties break on doc_id. Output is integer-only
    * (rnk, doc_id) — the `sim_topk` no-float-hash discipline. The
    * oracle recomputes fusion from scratch and UNROLLS the k = 5 greedy
    * steps as chained CTEs (argmax via ORDER BY … LIMIT 1), so the hash
    * match certifies every pick, not just the final set. Candidates
    * are the fused docs with embeddings (doc_id ≡ vec_id, the corpus
    * convention; the inner join is mirrored in the oracle). */
  val hybridMmr = GQuery(
    "hybrid_mmr",
    (s, d) => {
      val lambda = 0.5
      val k = 5
      val fusedList = rrfFuse(kwExact(s, d), vecExact(s, d))
        .select(col("doc_id"), col("rrf").as("rel"))
      val embs = Tables.embeddings(s, d)
        .select(col("vec_id").as("doc_id"), col("embedding"))
      // r20 §5: ONE collect of the ≤64-row shortlist (ids, rels AND
      // embeddings) replaces localCheckpoint + a second collect; the
      // pairwise-sim crossJoin below then runs over the re-created
      // LOCAL relation through the same VecMath kernels — identical
      // engine bits, two fewer driver round-trips per serve.
      val candPlan = fusedList.join(embs, Seq("doc_id"))
      val candRows = candPlan.collect()
      val shortlist = candRows
        .map(r => r.getLong(0) -> r.getDouble(1))
      require(shortlist.length <= 64,
        s"hybrid_mmr: ${shortlist.length} candidates — the shortlist " +
          "contract (≤ kw_k + vec_k) is broken upstream")
      val cand = s.createDataFrame(
        java.util.Arrays.asList(candRows: _*), candPlan.schema)
      val a = cand.select(col("doc_id").as("ida"),
        col("embedding").as("ea"))
      val b = cand.select(col("doc_id").as("idb"),
        col("embedding").as("eb"))
      val cos = graft.functions.VecMath.vecDot(col("ea"), col("eb")) /
        (sqrt(graft.functions.VecMath.vecNormSq(col("ea"))) *
          sqrt(graft.functions.VecMath.vecNormSq(col("eb"))))
      val sims = a.crossJoin(b).where(col("ida") =!= col("idb"))
        .select(col("ida"), col("idb"),
          round(cos, 4).cast(DecimalType(38, 4)).cast(DoubleType)
            .as("sim"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
      val rels = shortlist.toMap
      while (picked.length < k && picked.length < shortlist.length) {
        val best = shortlist.iterator
          .filterNot(c => picked.contains(c._1))
          .map { case (id, rel) =>
            val pen = if (picked.isEmpty) 0.0
              else picked.map(p => sims((id, p))).max
            (id, lambda * rel - (1.0 - lambda) * pen)
          }
          .reduceLeft((x, y) =>
            if (y._2 > x._2 || (y._2 == x._2 && y._1 < x._1)) y else x)
        picked += best._1
      }
      import s.implicits._
      picked.zipWithIndex
        .map { case (id, i) => ((i + 1).toLong, id) }
        .toSeq.toDF("rnk", "doc_id")
        .orderBy(col("rnk"))
    },
    Some(s"""
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
      kwagg AS (
        SELECT doc_id, CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1),
      kw AS (
        SELECT doc_id, kw_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS kw_rnk
          FROM kwagg)
        WHERE kw_rnk <= $KwTopK),
      probe AS (SELECT embedding AS probe_emb FROM embeddings WHERE vec_id = 0),
      vsims AS (
        SELECT e.vec_id AS doc_id,
               list_cosine_similarity(e.embedding, p.probe_emb) AS sim
        FROM embeddings e, probe p
        WHERE e.vec_id <> 0),
      vec AS (
        SELECT doc_id, vec_rnk FROM (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS vec_rnk
          FROM vsims)
        WHERE vec_rnk <= ${VectorQueries.IvfTopK}),
      fused AS (
        SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id,
               CAST(COALESCE(CAST(round(1.0 / ($RrfK + kw.kw_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6)))
                  + COALESCE(CAST(round(1.0 / ($RrfK + vec.vec_rnk), 6) AS DECIMAL(38,6)),
                             CAST(0 AS DECIMAL(38,6))) AS DOUBLE) AS rel
        FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id),
      cand AS (
        SELECT f.doc_id, f.rel, CAST(e.embedding AS DOUBLE[]) AS emb
        FROM fused f JOIN embeddings e ON e.vec_id = f.doc_id),
      sims AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb,
               CAST(CAST(round(list_cosine_similarity(a.emb, b.emb), 4)
                 AS DECIMAL(38,4)) AS DOUBLE) AS sim
        FROM cand a JOIN cand b ON a.doc_id <> b.doc_id),
      p1 AS (SELECT doc_id, rel FROM cand ORDER BY rel DESC, doc_id LIMIT 1),
      k1 AS (SELECT doc_id FROM p1),
      p2 AS (
        SELECT c.doc_id, c.rel FROM cand c
        WHERE c.doc_id NOT IN (SELECT doc_id FROM k1)
        ORDER BY 0.5 * c.rel - 0.5 * (SELECT MAX(s.sim) FROM sims s
          WHERE s.ida = c.doc_id AND s.idb IN (SELECT doc_id FROM k1)) DESC,
          c.doc_id
        LIMIT 1),
      k2 AS (SELECT doc_id FROM k1 UNION ALL SELECT doc_id FROM p2),
      p3 AS (
        SELECT c.doc_id, c.rel FROM cand c
        WHERE c.doc_id NOT IN (SELECT doc_id FROM k2)
        ORDER BY 0.5 * c.rel - 0.5 * (SELECT MAX(s.sim) FROM sims s
          WHERE s.ida = c.doc_id AND s.idb IN (SELECT doc_id FROM k2)) DESC,
          c.doc_id
        LIMIT 1),
      k3 AS (SELECT doc_id FROM k2 UNION ALL SELECT doc_id FROM p3),
      p4 AS (
        SELECT c.doc_id, c.rel FROM cand c
        WHERE c.doc_id NOT IN (SELECT doc_id FROM k3)
        ORDER BY 0.5 * c.rel - 0.5 * (SELECT MAX(s.sim) FROM sims s
          WHERE s.ida = c.doc_id AND s.idb IN (SELECT doc_id FROM k3)) DESC,
          c.doc_id
        LIMIT 1),
      k4 AS (SELECT doc_id FROM k3 UNION ALL SELECT doc_id FROM p4),
      p5 AS (
        SELECT c.doc_id, c.rel FROM cand c
        WHERE c.doc_id NOT IN (SELECT doc_id FROM k4)
        ORDER BY 0.5 * c.rel - 0.5 * (SELECT MAX(s.sim) FROM sims s
          WHERE s.ida = c.doc_id AND s.idb IN (SELECT doc_id FROM k4)) DESC,
          c.doc_id
        LIMIT 1)
      SELECT CAST(rnk AS BIGINT) AS rnk, doc_id FROM (
        SELECT 1 AS rnk, doc_id FROM p1
        UNION ALL SELECT 2, doc_id FROM p2
        UNION ALL SELECT 3, doc_id FROM p3
        UNION ALL SELECT 4, doc_id FROM p4
        UNION ALL SELECT 5, doc_id FROM p5)
      ORDER BY rnk
    """))

  /** Hybrid retrieval ENTIRELY on snapshot-isolated layouts,
    * driver-verified: the keyword list serves off the EPOCH postings
    * (built half, grown by a referenced delta append, compacted —
    * [[EpochPostings]]) and the vector list off the EPOCH IVF (same
    * half→full growth, [[EpochAnn]]), RRF-fused by the shared
    * [[rrfFuse]] and anchored against the exact fusion with
    * `hybrid_serve`'s ≤2-miss tolerance boolean. Every index mutation
    * under this entry was an atomic manifest flip a concurrent search
    * could overlap safely — the end-to-end retrieval stack with no
    * maintenance window left anywhere. */
  val hybridServeEpoch = GQuery(
    "hybrid_serve_epoch",
    (s, d) => {
      val kwServed = EpochPostings.serve(s,
        EpochPostings.savedEpochPath(s, d), TextQueries.bm25Terms)
        .select(col("doc_id"), col("rnk").as("kw_rnk"))
      val vecServed = Ann.query(
        EpochAnn.load(s, VectorQueries.appendedIvfPath(s, d, k = 8)),
        probeId = 0, topK = VectorQueries.IvfTopK, nProbe = 3,
        knownProbe = Some(VectorQueries.probeEmbedding(s, d)))
        .select(col("neighbor_id").as("doc_id"),
          col("rank").as("vec_rnk"))
      val servedIds = rrfFuse(kwServed, vecServed)
        .select(col("doc_id"), lit(1L).as("hit"))
      rrfFuse(kwExact(s, d), vecExact(s, d))
        .join(broadcast(servedIds), Seq("doc_id"), "left")
        .select(col("rnk"), col("doc_id"), col("kw_rnk"),
          col("vec_rnk"), col("rrf"),
          (sum(when(col("hit").isNull, lit(1L)).otherwise(lit(0L)))
            .over(Window.partitionBy()) <= 2).as("fuse_ok"))
        .orderBy(col("rnk"))
    },
    hybridServe.oracle)

  /** Per-process CROSS-TIER snapshot state ([[Snapshot]]): postings
    * and IVF epoch layouts each built on their even-id half, snapshot
    * 0 published pinning both heads, then ONE [[Snapshot.ingestBoth]]
    * batch lands the odd halves in both tiers and flips the registry
    * to snapshot 1. */
  private val snapSaved =
    scala.collection.concurrent.TrieMap.empty[String, (String, String, String)]

  private def savedSnapshotPaths(s: SparkSession, d: String)
      : (String, String, String) =
    graft.BuildOnce.memo(snapSaved, d) {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val reg = s"${graft.GraftSession.scratchDir}/snap_reg_$tag"
      val post = s"${graft.GraftSession.scratchDir}/snap_postings_$tag"
      val ivf = s"${graft.GraftSession.scratchDir}/snap_ivf_$tag"
      val docs = Tables.documents(s, d)
      val vecs = Tables.embeddings(s, d)
      EpochPostings.build(s, docs.where(col("doc_id") % 2 === 0), post)
      EpochAnn.build(s, vecs.where(col("vec_id") % 2 === 0), ivf, k = 8)
      Snapshot.publish(s, reg, Map("postings" -> 0L, "ivf" -> 0L), "ing_0")
      Snapshot.ingestBoth(s, reg, post, ivf,
        docs.where(col("doc_id") % 2 === 1),
        vecs.where(col("vec_id") % 2 === 1), batchId = 1L)
      (reg, post, ivf)
    }

  /** CROSS-TIER consistent hybrid serving, driver-verified: the
    * keyword and vector tiers are opened AS OF the epochs ONE registry
    * manifest pins ([[Snapshot]]), so the composition can never
    * straddle an ingest (a batch visible to BM25 but missing from the
    * ANN list — the seam [[hybridServeEpoch]]'s independent resolves
    * leave open). Here the pinned snapshot is post-ingest on both
    * tiers, so the served fusion must equal the full-corpus answer
    * under `hybrid_serve`'s ≤2-miss recall gate and oracle;
    * `SnapshotSpec` pins the atomicity edges (a reader on snapshot 0
    * sees BOTH tiers pre-ingest even after snapshot 1 commits; a crash
    * between the tier appends and the registry flip leaves readers on
    * the old consistent pair and the replayed ingest completes it). */
  val hybridServeSnapshot = GQuery(
    "hybrid_serve_snapshot",
    (s, d) => {
      val (reg, post, ivf) = savedSnapshotPaths(s, d)
      val pins = Snapshot.resolvePins(s, reg)
      val kwServed = EpochPostings.servedOn(s, post,
        Snapshot.pinned(s, post, pins, "postings"), TextQueries.bm25Terms)
        .select(col("doc_id"), col("rnk").as("kw_rnk"))
      val vecServed = Ann.query(
        EpochAnn.loadOn(s, ivf, Snapshot.pinned(s, ivf, pins, "ivf")),
        probeId = 0, topK = VectorQueries.IvfTopK, nProbe = 3,
        knownProbe = Some(VectorQueries.probeEmbedding(s, d)))
        .select(col("neighbor_id").as("doc_id"),
          col("rank").as("vec_rnk"))
      val servedIds = rrfFuse(kwServed, vecServed)
        .select(col("doc_id"), lit(1L).as("hit"))
      rrfFuse(kwExact(s, d), vecExact(s, d))
        .join(broadcast(servedIds), Seq("doc_id"), "left")
        .select(col("rnk"), col("doc_id"), col("kw_rnk"),
          col("vec_rnk"), col("rrf"),
          (sum(when(col("hit").isNull, lit(1L)).otherwise(lit(0L)))
            .over(Window.partitionBy()) <= 2).as("fuse_ok"))
        .orderBy(col("rnk"))
    },
    hybridServe.oracle)

  /** Per-process cross-tier state grown by TWO CONCURRENT
    * [[Snapshot.ingestBoth]] calls — the multi-writer registry race:
    * both tiers built on their even halves and snapshot 0 published,
    * then two threads ingest the 1-mod-4 and 3-mod-4 residue classes
    * through the full protocol (occ tier appends → occ registry
    * publish). Every layer must survive the race: the tier appends
    * serialize through their claim loops (both batches land), the two
    * registry publishes land as successive epochs (the loser rebases —
    * with a bare commit one would die on the single-mutator guard),
    * and each snapshot pins the epochs ITS OWN appends produced. A
    * final "fin" snapshot pins both tiers' heads — the deterministic
    * consistent cut the entry serves (the racers' own snapshots are
    * each a consistent cut of what their publisher knew, but WHICH
    * batch each contains is interleaving-dependent by design). */
  private val snapConcSaved = scala.collection.concurrent.TrieMap
    .empty[String, (String, String, String)]

  private def savedSnapshotConcurrentPaths(s: SparkSession, d: String)
      : (String, String, String) =
    graft.BuildOnce.memo(snapConcSaved, d) {
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      val reg = s"${graft.GraftSession.scratchDir}/snapc_reg_$tag"
      val post = s"${graft.GraftSession.scratchDir}/snapc_postings_$tag"
      val ivf = s"${graft.GraftSession.scratchDir}/snapc_ivf_$tag"
      val docs = Tables.documents(s, d)
      val vecs = Tables.embeddings(s, d)
      EpochPostings.build(s, docs.where(col("doc_id") % 2 === 0), post)
      EpochAnn.build(s, vecs.where(col("vec_id") % 2 === 0), ivf, k = 8)
      Snapshot.publish(s, reg, Map("postings" -> 0L, "ivf" -> 0L),
        "ing_0")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try {
        val writers = Seq(1L, 3L).map { res =>
          scala.concurrent.Future {
            Snapshot.ingestBoth(s, reg, post, ivf,
              docs.where(col("doc_id") % 4 === res),
              vecs.where(col("vec_id") % 4 === res), batchId = res)
          }
        }
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(writers),
          scala.concurrent.duration.Duration(300, "s"))
      } finally pool.shutdownNow()
      // both ingests and both registry flips must have landed — the
      // lost-update anomaly would fail here, not in the served hash
      Seq(post, ivf).foreach { tier =>
        val applied = Epoch.resolve(s, tier).get.applied
        require(applied.contains("app_1") && applied.contains("app_3"),
          s"snapshot_concurrent: a racing append was lost at $tier " +
            s"(ledger: $applied)")
      }
      val regKeys = Epoch.resolve(s, reg).get.applied
      require(regKeys.contains("ing_1") && regKeys.contains("ing_3"),
        s"snapshot_concurrent: a racing registry flip was lost " +
          s"(ledger: $regKeys)")
      Snapshot.publish(s, reg, Map(
        "postings" -> Epoch.resolve(s, post).get.epoch,
        "ivf" -> Epoch.resolve(s, ivf).get.epoch), "fin")
      (reg, post, ivf)
    }

  /** MULTI-WRITER cross-tier ingest, driver-verified: two concurrent
    * `ingestBoth` workers race the whole protocol stack — tier-append
    * OCC claims, registry-publish OCC claims — and both batches must
    * land everywhere; the final pinned snapshot then serves the
    * full-corpus hybrid fusion, byte-equal to the sequential
    * lifecycle's answer (`hybrid_serve`'s oracle, unchanged). The
    * require gates in the builder fail the entry loudly if either
    * tier's ledger or the registry's lost a racing batch. */
  val snapshotConcurrent = GQuery(
    "snapshot_concurrent",
    (s, d) => {
      val (reg, post, ivf) = savedSnapshotConcurrentPaths(s, d)
      val pins = Snapshot.resolvePins(s, reg)
      val kwServed = EpochPostings.servedOn(s, post,
        Snapshot.pinned(s, post, pins, "postings"), TextQueries.bm25Terms)
        .select(col("doc_id"), col("rnk").as("kw_rnk"))
      val vecServed = Ann.query(
        EpochAnn.loadOn(s, ivf, Snapshot.pinned(s, ivf, pins, "ivf")),
        probeId = 0, topK = VectorQueries.IvfTopK, nProbe = 3,
        knownProbe = Some(VectorQueries.probeEmbedding(s, d)))
        .select(col("neighbor_id").as("doc_id"),
          col("rank").as("vec_rnk"))
      val servedIds = rrfFuse(kwServed, vecServed)
        .select(col("doc_id"), lit(1L).as("hit"))
      rrfFuse(kwExact(s, d), vecExact(s, d))
        .join(broadcast(servedIds), Seq("doc_id"), "left")
        .select(col("rnk"), col("doc_id"), col("kw_rnk"),
          col("vec_rnk"), col("rrf"),
          (sum(when(col("hit").isNull, lit(1L)).otherwise(lit(0L)))
            .over(Window.partitionBy()) <= 2).as("fuse_ok"))
        .orderBy(col("rnk"))
    },
    hybridServe.oracle)

  val all: Seq[GQuery] =
    Seq(hybridSearch, hybridServe, hybridServeEpoch, hybridServeSnapshot,
      snapshotConcurrent,
      hybridMulti,
      hybridRerank,
      hybridFiltered, hybridServeAppend, hybridMultiRerank,
      hybridServeDelete, hybridPhrase, hybridMmr)
}
