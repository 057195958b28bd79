package graft.ops

import graft.{GQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spell correction over the corpus term dictionary — the "did you
  * mean" step in front of every keyword search box (the reference's
  * consumers run raw LIKE searches over filer/memo text, SURVEY §2.6;
  * this is the indexed form of recovering from their typos), built on
  * the SymSpell deletion-neighborhood scheme (a public algorithm): if
  * levenshtein(q, t) ≤ 1 then q and t share a member of each other's
  * {self} ∪ {one-character-deletions} set, so an index keyed on those
  * DELETION KEYS turns "all dictionary terms within edit distance 1"
  * into a handful of exact bucket lookups plus a bounded verification —
  * never a dictionary scan with a levenshtein per row.
  *
  * Index layout at `<generation>/delnbr` ([[EpochSuggest]], the one
  * build/maintain face; [[Dict]] names the distance-1 and distance-2
  * layouts): `(delkey, term, df)` — one row per
  * (dictionary term, deletion key), df (document frequency, the ranking
  * signal) DENORMALIZED inline so serving is a single lookup with no
  * second dictionary join. Range-partitioned + sorted on `delkey`, so a
  * query's neighborhood arrives as a pushed `In(delkey, …)` restriction
  * (the `bm25_serve` term-lookup discipline). Size is Σ(|term|+1) rows
  * over the DICTIONARY — term-level state, ≪ corpus at any scale; at
  * 100 TB the corpus appears only in the one-time df aggregation.
  *
  * Serving: the query batch's deletion neighborhoods are computed
  * driver-side (a bounded request frame — |q|+1 keys per query, the
  * `bm25_multi` broadcast discipline), candidates dedup to (query,
  * term) pairs, and the exact `levenshtein ≤ 1` cut makes the result
  * precise — the neighborhood join is complete for distance ≤ 1 (the
  * SymSpell theorem, pinned against a brute-force scan in
  * `SuggestSpec`), so candidates ⊇ truth and the verify step trims the
  * false positives (e.g. two deletions landing on one key). Ranking is
  * per-query (df DESC, term) top-3 through a PARTITIONED window. */
object Suggest {

  /** Dictionary df: number of documents containing the term — the
    * suggestion-ranking signal, same aggregation the BM25 df table
    * uses. */
  private[ops] def dictionary(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      // consecutive separators split to empty tokens; an empty term is
      // not a word AND would break the deletion arithmetic (Spark's
      // sequence(1, 0) descends instead of emptying), so it is dropped
      // here and in every suggest oracle's terms CTE — one rule, both
      // engines
      .where(col("term") =!= "")
      .groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))

  /** {term} ∪ {term minus one character} as a per-row array — the
    * deletion-key set, SQL-expression form (no UDF: substr arithmetic
    * under `transform`). */
  private[ops] def delKeys(term: Column): Column =
    array_union(
      array(term),
      transform(sequence(lit(1), length(term)),
        i => concat(term.substr(lit(1), i - 1),
          term.substr(i + 1, length(term) - i))))

  /** One deletion-neighborhood dictionary: the directory it occupies
    * under a generation root and its deletion-key rule. [[Distance1]]
    * serves [[suggestBatch]], [[Distance2]] serves [[suggestBatch2]];
    * each is its own layout so an entry's scan cost matches its edit
    * budget (classic SymSpell ships maxEdit as a build parameter for
    * exactly this reason). */
  final case class Dict(dir: String, keys: Column => Column)

  val Distance1 = Dict("delnbr", delKeys)
  // Σ(1 + |t| + |t|(|t|−1)/2) rows per dictionary term: still
  // dictionary-scale
  val Distance2 = Dict("delnbr2", delKeys2)

  /** Materialize `dict` under the generation root `gen` from `docs`:
    * one (delkey, term, df) row per deletion key, delkey-sorted. */
  private[ops] def buildSuggest(docs: DataFrame, gen: String,
      dict: Dict): Unit =
    dictionary(docs)
      .select(explode(dict.keys(col("term"))).as("delkey"),
        col("term"), col("df"))
      .repartitionByRange(4, col("delkey"))
      .sortWithinPartitions("delkey")
      .write.mode("overwrite").parquet(s"$gen/${dict.dir}")

  /** Scala-side deletion neighborhood of a query string — the request
    * frame is driver-built (queries are literals), so this is the one
    * place the key rule exists twice; `SuggestSpec` pins the two forms
    * equal on the dictionary. */
  private[ops] def delNeighborhood(q: String): Seq[String] =
    q +: (0 until q.length).map(i => q.take(i) + q.drop(i + 1))

  /** Candidate read shared by both edit-distance tiers: the delkey
    * directory restricted to the request frame's keys — a pushed
    * `In(delkey, …)` up to [[NearDup.MaxInPushdown]] distinct keys
    * (row-group pruning on the delkey-sorted layout), a plain scan
    * beyond it with the broadcast equi-join below doing the
    * restriction (a ≤1000-query batch of long queries can yield tens
    * of thousands of keys — past Spark's parquet `In` pushdown
    * threshold the literal list bloats the plan WITHOUT pruning
    * anything, the PqEncode/Janino lesson; the switch point is
    * NearDup's, one constant for every bounded-request read). Identical
    * answers either way — `SuggestSpec` pins path-equality across the
    * switch. */
  private def candidateRead(s: SparkSession, dir: String,
      requests: DataFrame, keys: Array[String],
      maxInPushdown: Int): DataFrame = {
    val scan = graft.Pq.read(s, dir)
    (if (keys.length <= maxInPushdown)
       scan.where(col("delkey").isin(keys.toSeq: _*))
     else scan)
      .join(broadcast(requests), Seq("delkey"))
  }

  /** Serve a query batch off the [[Distance1]] dictionary under the
    * generation root `path` ([[EpochSuggest.currentGen]]): per query,
    * the top-`k` dictionary terms within edit distance 1, ranked
    * (df DESC, term). Output (query, rnk, term, df); a query with no
    * match contributes no rows. */
  def suggestBatch(s: SparkSession, path: String, queries: Seq[String],
      k: Int = 3,
      maxInPushdown: Int = NearDup.MaxInPushdown): DataFrame = {
    require(queries.nonEmpty && queries.size <= 1000,
      s"suggestBatch: ${queries.size} queries (bounded request batch)")
    import s.implicits._
    val reqPairs = queries.distinct
      .flatMap(q => delNeighborhood(q).distinct.map(q -> _))
    val requests = reqPairs.toDF("query", "delkey")
    // r20 §5: the request frame IS driver-local — derive the pushed-In
    // key set from the local pairs instead of a collect job per serve
    val keys = reqPairs.map(_._2).distinct.toArray
    val cand = candidateRead(s, s"$path/${Distance1.dir}", requests, keys,
      maxInPushdown)
      .select(col("query"), col("term"), col("df"))
      .distinct()
      .where(levenshtein(col("query"), col("term")) <= 1)
    val w = Window.partitionBy(col("query"))
      .orderBy(col("df").desc, col("term"))
    cand.withColumn("rnk", row_number().over(w).cast(LongType))
      .where(col("rnk") <= k)
      .select(col("query"), col("rnk"), col("term"), col("df"))
      .orderBy(col("query"), col("rnk"))
  }

  /** The dictionary merge behind append and delete on BOTH
    * edit-distance layouts, as a FRAME (sorted-layout shape included):
    * the batch's partial dictionary explodes to its deletion keys (the
    * layout's own key rule), merges signed (positive = append, negated
    * = delete) into the rows of `dict` under the generation root
    * `gen`, and — on the delete side — (delkey, term) rows whose df
    * reaches 0 drop, exactly the rows a survivors-rebuild would never
    * produce. Long df arithmetic is exact in both directions, so
    * append ≡ grown-rebuild and delete ≡ survivors-rebuild
    * algebraically. The rewrite is ∝ |dictionary|, NOT corpus. None
    * when the partial is empty. [[EpochSuggest]] publishes it as a
    * generation. */
  private[ops] def mergedDict(s: SparkSession, gen: String,
      partial: DataFrame, dict: Dict, negate: Boolean)
      : Option[DataFrame] = {
    if (partial.isEmpty) return None
    val signed = if (negate) -col("df") else col("df")
    val merged = graft.Pq.read(s, s"$gen/${dict.dir}")
      .select(col("delkey"), col("term"), col("df"))
      .unionByName(partial
        .select(explode(dict.keys(col("term"))).as("delkey"),
          col("term"), signed.as("df")))
      .groupBy(col("delkey"), col("term"))
      .agg(sum(col("df")).as("df"))
    Some((if (negate) merged.where(col("df") > 0L) else merged)
      .repartitionByRange(4, col("delkey"))
      .sortWithinPartitions("delkey"))
  }

  /** Depth-2 deletion keys: the depth-1 rule applied to its own output
    * (nested HOF lambdas — still zero UDFs), distinct-folded. Includes
    * depths 0 and 1, so one index serves distance ≤ 2 lookups. */
  private def delKeys2(term: Column): Column =
    array_distinct(flatten(transform(delKeys(term), k => delKeys(k))))

  private[ops] def delNeighborhood2(q: String): Seq[String] =
    delNeighborhood(q).flatMap(delNeighborhood).distinct

  /** Distance-2 serving off the [[Distance2]] dictionary under the
    * generation root `path`, with the CLASSIC SymSpell ranking — closest
    * edit distance first, then df, then term: an exact or distance-1
    * hit must outrank a popular distance-2 one. Same pushed-`In`
    * candidate lookup (|q|²/2-ish keys per query — still a bounded
    * request frame), exact `levenshtein ≤ 2` verification, per-query
    * partitioned window. */
  def suggestBatch2(s: SparkSession, path: String, queries: Seq[String],
      k: Int = 3,
      maxInPushdown: Int = NearDup.MaxInPushdown): DataFrame = {
    require(queries.nonEmpty && queries.size <= 1000,
      s"suggestBatch2: ${queries.size} queries (bounded request batch)")
    import s.implicits._
    val reqPairs = queries.distinct
      .flatMap(q => delNeighborhood2(q).map(q -> _))
    val requests = reqPairs.toDF("query", "delkey")
    // local key derivation — same rationale as suggestBatch
    val keys = reqPairs.map(_._2).distinct.toArray
    val cand = candidateRead(s, s"$path/${Distance2.dir}", requests, keys,
      maxInPushdown)
      .select(col("query"), col("term"), col("df"))
      .distinct()
      .withColumn("dist",
        levenshtein(col("query"), col("term")).cast(LongType))
      .where(col("dist") <= 2)
    val w = Window.partitionBy(col("query"))
      .orderBy(col("dist"), col("df").desc, col("term"))
    cand.withColumn("rnk", row_number().over(w).cast(LongType))
      .where(col("rnk") <= k)
      .select(col("query"), col("rnk"), col("term"), col("dist"),
        col("df"))
      .orderBy(col("query"), col("rnk"))
  }

  /** The saved dictionaries below are epoch layouts ([[EpochSuggest]],
    * each mutation one generation at batch id 1); entries serve the
    * current generation. */
  private val suggest2Saved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedSuggest2Path(s: SparkSession, d: String): String =
    graft.BuildOnce.memo(suggest2Saved, d) {
      val path = s"${graft.GraftSession.scratchDir}/suggest2_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      EpochSuggest.create(s, Tables.documents(s, d), path, Distance2)
      path
    }

  /** Distance-2 spell correction, driver-verified against the brute
    * levenshtein scan (completeness: the depth-2 deletion intersection
    * catches every distance-≤2 term; precision: the exact verify cut) —
    * with the distance-first ranking hashed too, so a distance-1 hit
    * outranking a more frequent distance-2 hit is part of the proof.
    * Probes: one distance-1, one distance-2 (two substitutions), one
    * double-insertion, one hopeless. */
  val termSuggest2 = GQuery(
    "term_suggest2",
    (s, d) => suggestBatch2(s,
      EpochSuggest.currentGen(s, savedSuggest2Path(s, d)),
      Seq("spqrk", "spxxk", "wind", "zzz")),
    Some("""
      WITH terms AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
              FROM documents WHERE text IS NOT NULL)
        WHERE term <> ''
        GROUP BY term),
      q AS (SELECT unnest(['spqrk', 'spxxk', 'wind', 'zzz']) AS query),
      hits AS (
        SELECT q.query, t.term,
               CAST(levenshtein(q.query, t.term) AS BIGINT) AS dist,
               t.df,
               ROW_NUMBER() OVER (PARTITION BY q.query
                 ORDER BY levenshtein(q.query, t.term), t.df DESC,
                          t.term) AS rnk
        FROM q JOIN terms t ON levenshtein(q.query, t.term) <= 2)
      SELECT query, CAST(rnk AS BIGINT) AS rnk, term, dist, df
      FROM hits WHERE rnk <= 3
      ORDER BY query, rnk
    """))

  /** The probe batch shared with the oracle: three misspellings with a
    * known correction each (substitution, trailing insertion, trailing
    * deletion) and one with no distance-1 neighbor at all. */
  private[ops] val probeQueries =
    Seq("spqrk", "mergee", "rows", "zzz")

  private val suggestSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedSuggestPath(s: SparkSession, d: String): String =
    graft.BuildOnce.memo(suggestSaved, d) {
      val path = s"${graft.GraftSession.scratchDir}/suggest_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      EpochSuggest.create(s, Tables.documents(s, d), path, Distance1)
      path
    }

  /** Indexed spell correction, driver-verified: the oracle recomputes
    * the answer by BRUTE levenshtein over the whole dictionary, so the
    * hash match proves the deletion-neighborhood index loses no
    * distance-1 term (completeness) and the verify cut admits no
    * extra (precision) — the index is pure optimization, zero semantic
    * drift. */
  val termSuggest = GQuery(
    "term_suggest",
    (s, d) => suggestBatch(s,
      EpochSuggest.currentGen(s, savedSuggestPath(s, d)), probeQueries),
    Some("""
      WITH terms AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
              FROM documents WHERE text IS NOT NULL)
        WHERE term <> ''
        GROUP BY term),
      q AS (SELECT unnest(['spqrk', 'mergee', 'rows', 'zzz']) AS query),
      hits AS (
        SELECT q.query, t.term, t.df,
               ROW_NUMBER() OVER (PARTITION BY q.query
                 ORDER BY t.df DESC, t.term) AS rnk
        FROM q JOIN terms t ON levenshtein(q.query, t.term) <= 1)
      SELECT query, CAST(rnk AS BIGINT) AS rnk, term, df
      FROM hits WHERE rnk <= 3
      ORDER BY query, rnk
    """))

  /** Suggest index built on the even half then grown to the whole
    * corpus through [[EpochSuggest.append]] — the layout `suggest_append`
    * serves against the FULL-corpus oracle. */
  private val appendSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedAppendPath(s: SparkSession, d: String): String =
    graft.BuildOnce.memo(appendSaved, d) {
      val path = s"${graft.GraftSession.scratchDir}/suggest_app_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = Tables.documents(s, d)
      EpochSuggest.create(s, docs.where(col("doc_id") % 2 === 0), path,
        Distance1)
      EpochSuggest.append(s, docs.where(col("doc_id") % 2 === 1), path,
        batchId = 1L)
      path
    }

  /** append ≡ rebuild for the dictionary layout: the half-built,
    * half-appended index must serve the same suggestions, with the same
    * df ranking, as the full build — exact long df addition makes the
    * identity algebraic, and the hash match certifies it end to end
    * (same oracle as [[termSuggest]]). */
  val suggestAppendQ = GQuery(
    "suggest_append",
    (s, d) => suggestBatch(s,
      EpochSuggest.currentGen(s, savedAppendPath(s, d)), probeQueries),
    termSuggest.oracle)

  /** Full dictionary, then the mod-6 residue's documents deleted
    * through the negative merge as generation 1 — the layout
    * `suggest_delete` and `suggest_epoch` serve. */
  private val deleteSaved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedDeletePath(s: SparkSession, d: String): String =
    graft.BuildOnce.memo(deleteSaved, d) {
      val path = s"${graft.GraftSession.scratchDir}/suggest_del_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = Tables.documents(s, d)
      EpochSuggest.create(s, docs, path, Distance1)
      EpochSuggest.delete(s,
        docs.where(col("doc_id") % 6 === 1).select("doc_id", "text"),
        path, batchId = 1L)
      path
    }

  /** delete ≡ survivors rebuild for the dictionary layout: spell
    * correction served off the negatively merged index must hash-match
    * the brute levenshtein scan over ONLY the surviving documents'
    * dictionary — dropped terms gone, decremented dfs re-ranked
    * exactly. Closes the suggest lifecycle symmetry
    * (build/append/delete) the other persisted tiers already have. */
  val suggestDeleteQ = GQuery(
    "suggest_delete",
    (s, d) => suggestBatch(s,
      EpochSuggest.currentGen(s, savedDeletePath(s, d)), probeQueries),
    Some("""
      WITH terms AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
              FROM documents
              WHERE text IS NOT NULL AND doc_id % 6 <> 1)
        WHERE term <> ''
        GROUP BY term),
      q AS (SELECT unnest(['spqrk', 'mergee', 'rows', 'zzz']) AS query),
      hits AS (
        SELECT q.query, t.term, t.df,
               ROW_NUMBER() OVER (PARTITION BY q.query
                 ORDER BY t.df DESC, t.term) AS rnk
        FROM q JOIN terms t ON levenshtein(q.query, t.term) <= 1)
      SELECT query, CAST(rnk AS BIGINT) AS rnk, term, df
      FROM hits WHERE rnk <= 3
      ORDER BY query, rnk
    """))

  /** Distance-2 layout built on the even half then grown through
    * [[EpochSuggest.append]] — `suggest2_append` serves it against the
    * FULL-corpus distance-2 oracle. */
  private val append2Saved =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private[ops] def savedAppend2Path(s: SparkSession, d: String): String =
    graft.BuildOnce.memo(append2Saved, d) {
      val path = s"${graft.GraftSession.scratchDir}/suggest2_app_" +
        d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = Tables.documents(s, d)
      EpochSuggest.create(s, docs.where(col("doc_id") % 2 === 0), path,
        Distance2)
      EpochSuggest.append(s, docs.where(col("doc_id") % 2 === 1), path,
        batchId = 1L)
      path
    }

  /** append ≡ rebuild on the distance-2 layout: the depth-≤2 key
    * explosion of the new batch merges into the half-built directory
    * and the distance-first ranking must still match the full-corpus
    * brute scan — one merge core, both layouts, both directions. */
  val suggest2AppendQ = GQuery(
    "suggest2_append",
    (s, d) => suggestBatch2(s,
      EpochSuggest.currentGen(s, savedAppend2Path(s, d)),
      Seq("spqrk", "spxxk", "wind", "zzz")),
    termSuggest2.oracle)

  /** Autocomplete — the other search-box affordance, served off the
    * SAME layout: every term's identity row (delkey = term) makes the
    * delkey-sorted directory double as a term-sorted dictionary, so a
    * prefix is a RANGE of the sort key (pushed `StringStartsWith`, the
    * `prefix_search` discipline at TERM level) and completion is a
    * row-group-pruned scan + top-5 by df. One layout, three query
    * families (correct, complete, rank) — the Lucene FST dictionary
    * trick re-expressed as a sorted columnar range. */
  val termComplete = GQuery(
    "term_complete",
    (s, d) => {
      val gen = EpochSuggest.currentGen(s, savedSuggestPath(s, d))
      graft.Pq.read(s, s"$gen/delnbr")
        .where(col("delkey").startsWith("s") &&
          col("delkey") === col("term"))
        .orderBy(col("df").desc, col("term"))
        .limit(5)
        .select(
          row_number().over(Window.orderBy(col("df").desc, col("term")))
            .cast(LongType).as("rnk"),
          col("term"), col("df"))
        .orderBy(col("rnk"))
    },
    Some("""
      WITH terms AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
              FROM documents WHERE text IS NOT NULL)
        WHERE term <> ''
        GROUP BY term)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY df DESC, term) AS BIGINT) AS rnk,
             term, df
      FROM terms WHERE term LIKE 's%'
      ORDER BY df DESC, term
      LIMIT 5
    """))

  /** Query-time SPELL-CORRECTED search — the "did you mean" round trip
    * a real search box runs as ONE request, composed from two persisted
    * layouts: each raw query token resolves to its top-1 dictionary
    * suggestion through the deletion-neighborhood index
    * ([[suggestBatch]], k=1 — a bounded ≤|tokens| driver read, same
    * request-batch discipline as every suggest face), the corrected
    * term set then drives the standard BM25 serving path over the
    * postings index (pushed `In(term,…)` scan, broadcast side tables,
    * TakeOrdered tail — `bm25_serve`'s exact plan). Tokens with no
    * distance-1 neighbor (`zzz`) drop out of the corrected set rather
    * than poisoning the search; a fully-uncorrectable query serves
    * empty. The oracle recomputes BOTH stages from scratch in SQL —
    * brute levenshtein top-1 per token feeding the BM25 formula via a
    * subquery — so the hash pins the composition end-to-end, not the
    * stages separately. */
  val searchCorrected = GQuery(
    "search_corrected",
    (s, d) => {
      val corrected = suggestBatch(s,
        EpochSuggest.currentGen(s, savedSuggestPath(s, d)),
        Seq("spqrk", "mergee", "filtr", "zzz"), k = 1)
        .select(col("term")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      val post = TextQueries.savedPostingsPath(s, d)
      TextQueries.bm25TopK(
        TextQueries.servedLists(s, post, corrected),
        graft.Pq.read(s, s"$post/df")
          .where(col("term").isin(corrected: _*)),
        graft.Pq.read(s, s"$post/stats"))
    },
    Some("""
      WITH dict AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        FROM (SELECT doc_id, unnest(str_split(text, ' ')) AS term
              FROM documents WHERE text IS NOT NULL)
        WHERE term <> ''
        GROUP BY term),
      q AS (SELECT unnest(['spqrk', 'mergee', 'filtr', 'zzz']) AS query),
      corr AS (
        SELECT DISTINCT term FROM (
          SELECT q.query, t.term,
                 ROW_NUMBER() OVER (PARTITION BY q.query
                   ORDER BY t.df DESC, t.term) AS rnk
          FROM q JOIN dict t ON levenshtein(q.query, t.term) <= 1)
        WHERE rnk = 1),
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
        WHERE term IN (SELECT term FROM corr)
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

  def all: Seq[GQuery] = Seq(termSuggest, termSuggest2, suggestAppendQ,
    suggestDeleteQ, suggest2AppendQ, termComplete, searchCorrected)
}
