package graft.ops

import graft.GQuery
import org.apache.spark.sql.functions._

/** Boolean keyword retrieval — Lucene-style must / should / mustNot
  * composition over the persisted BM25 postings layout, the query
  * shape a search user reaches for before any reranking
  * (`spark AND merge NOT filter`). The reference's query layer stops
  * at single-predicate filters (`filtercalaccessrawdata` semantics);
  * this closes the set-algebra gap on the index the engine already
  * serves.
  *
  * Plan shape, all off ONE pushed-`In(term,…)` posting-list scan (the
  * union of every clause's terms — never the corpus):
  *
  *  - MUST (AND): docs holding ALL must terms, computed as a grouped
  *    distinct-term count per doc_id == |must| — one aggregation over
  *    the matched rows instead of a k-way self-join (the posting rows
  *    are (term, doc) unique by construction, so COUNT(term) counts
  *    distinct terms; the `phrase_search` k-way join exists for
  *    POSITIONS, which boolean retrieval does not need);
  *  - SHOULD (OR): when `must` is empty, at least one should term must
  *    match (the satisfying set is the should-docs union); matched
  *    should rows always contribute to the score;
  *  - MUST NOT (NOT): one anti-join against the docs of the negated
  *    terms' postings — ∝ |mustNot docs|, bounded by the negated
  *    terms' df, never a corpus complement scan.
  *
  * Scoring is the shared BM25 tail ([[TextQueries.bm25TopK]] — same
  * per-term arithmetic, df side table, corpus stats as `bm25_serve`)
  * over the must+should rows of satisfying docs, so a boolean query
  * with no negation and one must term reproduces `bm25_serve` exactly.
  * Tombstoned docs are excluded by [[TextQueries.servedLists]]'s
  * anti-join like every serving path. `bool_search` (AND/NOT) and
  * `bool_search_or` (OR/NOT) hash-verify both compositions against
  * from-scratch DuckDB set algebra; `BoolSearchSpec` pins the pushed
  * scan, the AND == self-join equivalence, and edge semantics. */
object BoolQueries {

  /** Top-`10` BM25 over the docs satisfying
    * (AND must) ∧ (OR should, required iff must empty) ∧
    * (AND each `phrases` entry, exact-adjacency via the POSITIONAL
    * epoch layout at `positional`) ∧ ¬(OR mustNot),
    * served from the persisted postings layout at `path`. Scoring
    * rows are the must+should+phrase-term postings of satisfying
    * docs (the phrase contributes its terms' BM25 — the standard
    * phrase-clause scoring shape without a proximity boost). */
  def boolSearch(s: org.apache.spark.sql.SparkSession, path: String,
      must: Seq[String], should: Seq[String] = Seq.empty,
      mustNot: Seq[String] = Seq.empty,
      positional: Option[String] = None,
      phrases: Seq[Seq[String]] = Seq.empty)
      : org.apache.spark.sql.DataFrame = {
    require(must.nonEmpty || should.nonEmpty || phrases.nonEmpty,
      "boolSearch: need at least one must/should/phrase clause")
    require(phrases.isEmpty || positional.nonEmpty,
      "boolSearch: phrase clauses need the positional layout path")
    val scoring = (must ++ should ++ phrases.flatten).distinct
    val allTerms = (scoring ++ mustNot).distinct
    // ONE pushed-In scan of the lists, sliced per clause below
    val lists = TextQueries.servedLists(s, path, allTerms)
    // each required clause reduces to a distinct doc-id set; their
    // k-way equi-join is the intersection (phrase sets come from the
    // positional index's adjacency fold — already distinct per doc)
    val clauseSets: Seq[org.apache.spark.sql.DataFrame] =
      (if (must.nonEmpty)
        // every must term present: (term, doc) rows are unique, so a
        // plain row count per doc over the must slice counts distinct
        // matched terms
        Seq(lists.where(col("term").isin(must: _*))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("_nmust"))
          .where(col("_nmust") === must.distinct.size)
          .select(col("doc_id")))
      else if (should.nonEmpty && phrases.isEmpty)
        // pure OR tier: with NO other required clause, at least one
        // should term must match (the Lucene rule — should is
        // score-only whenever any must/phrase clause already
        // constrains the set)
        Seq(lists.where(col("term").isin(should: _*))
          .select(col("doc_id")).distinct())
      else Seq.empty) ++
        phrases.map(ph => EpochPositional
          .servePhrase(s, positional.get, ph).select(col("doc_id")))
    val satisfying = clauseSets.reduce(_.join(_, Seq("doc_id")))
    val positive = lists.where(col("term").isin(scoring: _*))
      .join(satisfying, Seq("doc_id"))
    val sat =
      if (mustNot.isEmpty) positive
      else positive.join(
        lists.where(col("term").isin(mustNot: _*))
          .select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    val dfs = graft.Pq.read(s, s"$path/df")
      .where(col("term").isin(scoring: _*))
    TextQueries.bm25TopK(sat, dfs, graft.Pq.read(s, s"$path/stats"))
  }

  /** The scoring/sat-set CTE block shared by both oracles: BM25
    * ingredients exactly as `bm25_serve`'s oracle computes them, with
    * the satisfying-doc predicate injected per entry. */
  private def oracleFor(scoringIn: String, satCte: String): String = s"""
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
        WHERE term IN ($scoringIn)
        GROUP BY 1, 2, 3),
      dfs AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
      $satCte,
      scored AS (
        SELECT tf.doc_id,
               CAST(round(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (0.25 + 0.75 * (CAST(tf.dl AS DOUBLE) / s.avgdl))),
                 4) AS DECIMAL(38,4)) AS score_term
        FROM tf JOIN dfs d USING (term) CROSS JOIN stats s
        WHERE tf.doc_id IN (SELECT doc_id FROM sat)),
      agg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(score_term) AS DOUBLE) AS score
        FROM scored GROUP BY 1)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk,
             doc_id, n_terms, score
      FROM agg
      ORDER BY score DESC, doc_id
      LIMIT 10
    """

  /** AND/NOT composition, driver-verified: `spark AND merge NOT
    * filter` — docs holding BOTH required terms and not the negated
    * one, BM25-ranked over the required terms' postings. The oracle
    * recomputes the set algebra and the scores from raw text, so the
    * hash match certifies intersection, negation, and scoring together
    * against the persisted index. */
  val boolSearch1 = GQuery(
    "bool_search",
    (s, d) => boolSearch(s, TextQueries.savedPostingsPath(s, d),
      must = Seq("spark", "merge"), mustNot = Seq("filter")),
    Some(oracleFor("'spark', 'merge'",
      """sat AS (
        SELECT doc_id FROM tf WHERE term IN ('spark', 'merge')
        GROUP BY doc_id HAVING COUNT(DISTINCT term) = 2
        EXCEPT
        SELECT doc_id FROM (SELECT doc_id, unnest(toks) AS term
                            FROM docs) WHERE term = 'filter')""")))

  /** OR/NOT composition, driver-verified: `(merge OR filter) NOT
    * spark` — any doc holding either optional term, minus the negated
    * one, scored over its matched optional terms (n_terms varies by
    * how many matched — the OR tier's partial-match scoring). */
  val boolSearchOr = GQuery(
    "bool_search_or",
    (s, d) => boolSearch(s, TextQueries.savedPostingsPath(s, d),
      must = Seq.empty, should = Seq("merge", "filter"),
      mustNot = Seq("spark")),
    Some(oracleFor("'merge', 'filter'",
      """sat AS (
        SELECT DISTINCT doc_id FROM tf
        WHERE term IN ('merge', 'filter')
          AND doc_id NOT IN (
            SELECT doc_id FROM (SELECT doc_id, unnest(toks) AS term
                                FROM docs) WHERE term = 'spark'))""")))

  /** PHRASE-clause composition, driver-verified: `"spark merge" AND
    * filter` — docs holding the exact adjacent phrase (resolved
    * through the positional index's adjacency fold, the
    * `phrase_search` k-way discipline) AND the required term,
    * BM25-scored over the phrase's terms plus the required one. The
    * oracle re-derives the phrase hit set positionally from raw
    * token arrays, so the hash match certifies the postings ∩
    * positional composition end to end. */
  val boolSearchPhrase = GQuery(
    "bool_search_phrase",
    (s, d) => boolSearch(s, TextQueries.savedPostingsPath(s, d),
      must = Seq("filter"),
      positional = Some(PhraseQueries.savedPositionalPath(s, d)),
      phrases = Seq(Seq("spark", "merge"))),
    Some(oracleFor("'filter', 'spark', 'merge'",
      """ph AS (
        SELECT doc_id FROM (SELECT doc_id, str_split(text, ' ') AS t
                            FROM documents WHERE text IS NOT NULL)
        WHERE len(list_filter(range(1, len(t)), i ->
                t[i] = 'spark' AND t[i+1] = 'merge')) > 0),
      sat AS (
        SELECT doc_id FROM tf WHERE term = 'filter'
        INTERSECT
        SELECT doc_id FROM ph)""")))

  def all: Seq[GQuery] =
    Seq(boolSearch1, boolSearchOr, boolSearchPhrase)
}
