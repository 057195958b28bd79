package graft.ops

import graft.GQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The admin/catalog surface of the persisted retrieval layouts — one
  * (layout, stat, value) row per tracked statistic of each text-side
  * index the engine persists (BM25 postings, positional postings,
  * near-dup LSH, deletion-neighborhood suggest), the operational
  * console view a deployment watches to size compactions and spot
  * drift. The `schema_catalog` discipline applied to index metadata:
  * the ENTRY reads the numbers from the LAYOUTS' own side tables and
  * directories, while the oracle recomputes every one from the raw
  * corpus — so the hash match is an end-to-end audit that the persisted
  * metadata (exact-accumulator stats tables, df side tables, band and
  * delkey row counts) agrees with ground truth. A drifted stats table —
  * say after a crash mid-delete that a deployment forgot to heal with
  * compact — fails HERE even if no query has tripped over it yet.
  * Every probe is a bounded aggregate over a side table or a layout
  * count — no corpus scan at query time. */
object IndexStats {

  private def one(layout: String, stat: String, value: DataFrame)
      : DataFrame =
    value.select(lit(layout).as("layout"), lit(stat).as("stat"),
      col(value.columns.head).cast(LongType).as("value"))

  /** All tracked stats of the five full-corpus layouts for `d`. The
    * vector tier contributes its one corpus-auditable number — encoded
    * residents (must equal the embeddings row count; a crash that lost
    * or doubled an append/compact segment shows here) — cell and
    * codebook populations are k-means artifacts no SQL recompute can
    * reproduce and stay spec-audited instead. */
  def indexStats(s: SparkSession, d: String): DataFrame = {
    val post = TextQueries.savedPostingsPath(s, d)
    val pos = PhraseQueries.savedPositionalPath(s, d)
    val posM = EpochPositional.current(s, pos)
    val nd = NearDup.savedFullPath(s, d)
    val sug = EpochSuggest.currentGen(s, Suggest.savedSuggestPath(s, d))
    val vec = VectorQueries.savedIvfpqPath(s, d, k = 8, m = 4)
    val frames = Seq(
      one("ivfpq", "n_vectors",
        EpochIvfpq.load(s, vec).encoded.agg(count(lit(1)))),
      one("postings", "n_docs",
        graft.Pq.read(s, s"$post/stats").agg(sum("n_docs_l"))),
      one("postings", "sum_dl",
        graft.Pq.read(s, s"$post/stats").agg(sum("sum_dl"))),
      one("postings", "n_terms",
        graft.Pq.read(s, s"$post/df").agg(count(lit(1)))),
      one("positional", "n_docs",
        EpochPositional.stats(s, pos, posM).agg(sum("n_docs_l"))),
      one("positional", "sum_dl",
        EpochPositional.stats(s, pos, posM).agg(sum("sum_dl"))),
      one("positional", "n_terms",
        EpochPositional.lists(s, pos, posM, None)
          .agg(countDistinct(col("term")))),
      one("neardup", "n_docs",
        graft.Pq.read(s, s"$nd/toks").agg(count(lit(1)))),
      one("neardup", "n_band_rows",
        graft.Pq.read(s, s"$nd/bands").agg(count(lit(1)))),
      one("suggest", "n_terms",
        graft.Pq.read(s, s"$sug/delnbr").agg(countDistinct(col("term")))),
      one("suggest", "n_delkeys",
        graft.Pq.read(s, s"$sug/delnbr").agg(count(lit(1)))))
    frames.reduce(_ unionByName _).orderBy(col("layout"), col("stat"))
  }

  /** Index metadata audit, driver-verified: layout-resident statistics
    * vs a from-scratch corpus recompute. The n_band_rows oracle is
    * 4 × (docs with ≥ 2 tokens) — exactly the docs that produce ≥ 1
    * bigram shingle and hence one row per band; n_delkeys re-derives
    * the deletion-neighborhood size per distinct term with the same
    * dedup rule the index builder applies; both suggest branches carry
    * the dictionary's empty-token drop (`term <> ''`) so the oracle
    * mirrors Suggest.dictionary — one rule, both engines. */
  val indexStatsQuery = GQuery(
    "index_stats",
    (s, d) => indexStats(s, d),
    Some("""
      WITH docs AS (
        SELECT doc_id, str_split(text, ' ') AS t
        FROM documents WHERE text IS NOT NULL),
      tok AS (SELECT doc_id, unnest(t) AS term FROM docs)
      SELECT 'ivfpq' AS layout, 'n_vectors' AS stat,
             CAST(COUNT(*) AS BIGINT) AS value FROM embeddings
      UNION ALL SELECT 'postings', 'n_docs',
             CAST(COUNT(*) AS BIGINT) FROM docs
      UNION ALL SELECT 'postings', 'sum_dl',
             CAST(SUM(len(t)) AS BIGINT) FROM docs
      UNION ALL SELECT 'postings', 'n_terms',
             CAST(COUNT(DISTINCT term) AS BIGINT) FROM tok
      UNION ALL SELECT 'positional', 'n_docs',
             CAST(COUNT(*) AS BIGINT) FROM docs
      UNION ALL SELECT 'positional', 'sum_dl',
             CAST(SUM(len(t)) AS BIGINT) FROM docs
      UNION ALL SELECT 'positional', 'n_terms',
             CAST(COUNT(DISTINCT term) AS BIGINT) FROM tok
      UNION ALL SELECT 'neardup', 'n_docs',
             CAST(COUNT(*) AS BIGINT) FROM docs
      UNION ALL SELECT 'neardup', 'n_band_rows',
             CAST(4 * COUNT(*) FILTER (len(t) >= 2) AS BIGINT) FROM docs
      UNION ALL SELECT 'suggest', 'n_terms',
             CAST(COUNT(DISTINCT term) AS BIGINT) FROM tok
             WHERE term <> ''
      UNION ALL SELECT 'suggest', 'n_delkeys',
             CAST(SUM(nk) AS BIGINT) FROM (
               SELECT len(list_distinct(list_append(
                 list_transform(range(1, len(term)+1),
                   i -> term[1:i-1] || term[i+1:]), term))) AS nk
               FROM (SELECT DISTINCT term FROM tok WHERE term <> ''))
      ORDER BY layout, stat
    """))

  def all: Seq[GQuery] = Seq(indexStatsQuery)
}
