package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins for the positional retrieval tier ([[PhraseQueries]] over the
  * [[EpochPositional]] layout):
  *
  *  - the adjacency fold against hand-checked fixtures — multi-occurrence
  *    phrases, REPEATED phrase terms ("big big": the same posting row
  *    intersected against itself at two offsets), trigrams, and the
  *    no-match-despite-both-terms case post-AND-filtering would get wrong;
  *  - positions are offsets in the ORIGINAL token sequence even when the
  *    build restricts to the query's terms (the tokenize-on-read form
  *    restricts AFTER posexplode — restricting before it would renumber
  *    every token and silently "match" non-adjacent terms);
  *  - serve ≡ tokenize-on-read equality row for row (the persisted
  *    roundtrip, `bm25_serve`'s discipline);
  *  - the term restriction reaches the positional lists scan as a pushed
  *    parquet `In(term, …)` filter — the layout earns its keep in the
  *    plan, not just in the result.
  */
class PhraseSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def fixture = {
    import spark.implicits._
    Seq(
      (1L, "big data big data big"),     // "big data" starts at 0 and 2
      (2L, "big big data"),              // "big big" at 0; "big data" at 1
      (3L, "data big"),                  // reversed: no "big data"
      (4L, "big slow data"),             // both terms, NOT adjacent
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
  }

  private def hits(phrase: Seq[String]) = {
    val proj = fixture.where(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("dl"))
    PhraseQueries.phraseStarts(
        PhraseQueries.positionalRows(proj, Some(phrase.distinct)), phrase)
      .select(col("doc_id"), col("starts"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
      .toMap
  }

  test("adjacency fold: bigram occurrences at original offsets") {
    val h = hits(Seq("big", "data"))
    assert(h === Map(1L -> Seq(0L, 2L), 2L -> Seq(1L)))
  }

  test("adjacency fold: repeated phrase term intersects one posting row") {
    assert(hits(Seq("big", "big")) === Map(2L -> Seq(0L)))
  }

  test("adjacency fold: trigram with overlapping occurrences") {
    // "big data big data big": the trigram matches at starts 0 AND 2
    // (occurrences may overlap — start-set semantics, not a scan cursor)
    assert(hits(Seq("big", "data", "big")) === Map(1L -> Seq(0L, 2L)))
  }

  test("doc with both terms but no adjacency does not match") {
    assert(!hits(Seq("big", "data")).contains(4L))
  }

  test("served phrase results equal the tokenize-on-read form") {
    def rows(name: String) =
      graft.SparkEntry.queries(name)(spark, sf)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_occ"),
          r.getAs[Long]("first_pos")))
        .sortBy(_._1).toSeq
    val served = rows("phrase_serve")
    assert(served === rows("phrase_search"))
    assert(served.nonEmpty)
  }

  test("phrase_rank rows are exactly the phrase matches, BM25-ordered") {
    val ranked = graft.SparkEntry.queries("phrase_rank")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_occ"), r.getAs[Double]("score")))
      .sortBy(_._1).toSeq
    val matches = graft.SparkEntry.queries("phrase_search")(spark, sf)
      .select("doc_id", "n_occ").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranked.nonEmpty && ranked.size <= 10)
    ranked.foreach { case (_, id, nOcc, _) =>
      assert(matches.get(id).contains(nOcc), s"doc $id not a phrase match")
    }
    // scores weakly decrease with rank (doc_id tie-break)
    ranked.sliding(2).foreach {
      case Seq((_, ida, _, sa), (_, idb, _, sb)) =>
        assert(sa > sb || (sa == sb && ida < idb))
      case _ =>
    }
  }

  test("proximity fold: ordered within-window semantics") {
    import spark.implicits._
    // slow(0) fast(2): in-window at W=2 and W=3, out at W=1;
    // doc 2 has the reversed order only — never a match
    val docs = Seq(
      (1L, "slow big fast"),
      (2L, "fast big slow"),
      (3L, "slow big big big fast"))
      .toDF("doc_id", "text")
    val proj = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("dl"))
    def near(w: Int) = PhraseQueries.nearStarts(
        PhraseQueries.positionalRows(proj, Some(Seq("slow", "fast"))),
        "slow", "fast", w)
      .select(col("doc_id"), col("starts")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(near(1) === Map.empty)
    assert(near(2) === Map(1L -> Seq(0L)))
    assert(near(4) === Map(1L -> Seq(0L), 3L -> Seq(0L)))
  }

  /** The current manifest's live lists (every term) and stats row. */
  private def listsOf(path: String) =
    EpochPositional.lists(spark, path,
      EpochPositional.current(spark, path), None)
  private def statsOf(path: String) =
    EpochPositional.stats(spark, path, EpochPositional.current(spark, path))

  test("delete lifecycle: tombstone serving, no-op replay, compact repair") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark merge a"), (2L, "spark merge b"),
      (3L, "spark merge c"), (4L, "no match here"))
      .toDF("doc_id", "text")
    val path = s"${graft.GraftSession.scratchDir}/positional_spec_del"
    EpochPositional.build(spark, docs, path)
    def servedIds =
      EpochPositional.servePhrase(spark, path, Seq("spark", "merge"))
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(servedIds === Seq(1L, 2L, 3L))
    EpochPositional.delete(spark, Seq(2L).toDF("doc_id"), path,
      batchId = 1L)
    assert(servedIds === Seq(1L, 3L))
    val statsAfterDelete = statsOf(path).select("n_docs_l", "sum_dl").head()
    assert(statsAfterDelete.getLong(0) === 3L)
    // re-delivered id is a no-op: under the same batch id the ledger
    // skips it, under a new one the already-tombstoned id is excluded
    // up front — either way no epoch commits and the stats subtraction
    // cannot double-fire
    val epochs = Epoch.committedEpochs(spark, path)
    EpochPositional.delete(spark, Seq(2L).toDF("doc_id"), path,
      batchId = 1L)
    EpochPositional.delete(spark, Seq(2L).toDF("doc_id"), path,
      batchId = 2L)
    assert(Epoch.committedEpochs(spark, path) === epochs)
    assert(statsOf(path).select("n_docs_l").head().getLong(0) === 3L)
    // re-adding a tombstoned id is refused by name before compaction
    val err = intercept[IllegalArgumentException] {
      EpochPositional.append(spark,
        Seq((2L, "spark merge back")).toDF("doc_id", "text"), path,
        batchId = 3L)
    }
    assert(err.getMessage.contains("EpochPositional.append"))
    // compaction drops the rows physically and empties the tombstones
    EpochPositional.compact(spark, path)
    val m = EpochPositional.current(spark, path)
    assert(m.components("tombstones").isEmpty)
    assert(Epoch.read(spark, path, m, "lists").get
      .where(col("doc_id") === 2L).count() === 0L)
    assert(servedIds === Seq(1L, 3L))
  }

  test("append then serve equals a from-scratch rebuild") {
    import spark.implicits._
    val first = Seq((1L, "spark merge a"), (2L, "x y z"))
      .toDF("doc_id", "text")
    val second = Seq((3L, "b spark merge"), (4L, "spark q merge"))
      .toDF("doc_id", "text")
    val appended = s"${graft.GraftSession.scratchDir}/positional_spec_app"
    val rebuilt = s"${graft.GraftSession.scratchDir}/positional_spec_reb"
    EpochPositional.build(spark, first, appended)
    EpochPositional.append(spark, second, appended, batchId = 1L)
    EpochPositional.build(spark, first.unionByName(second), rebuilt)
    def rowsOf(p: String) =
      listsOf(p)
        .collect()
        .map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"),
          r.getAs[Long]("dl"), r.getSeq[Long](3).toSeq))
        .sortBy(t => (t._1, t._2)).toSeq
    assert(rowsOf(appended) === rowsOf(rebuilt))
    assert(statsOf(appended).collect().toSeq ===
      statsOf(rebuilt).collect().toSeq)
  }

  test("a single-query batch reproduces phrase_serve row for row") {
    val batch = PhraseQueries.phraseServeBatch(spark, sf,
      Seq(9L -> Seq("spark", "merge")))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_occ"),
        r.getAs[Long]("first_pos")))
      .sortBy(_._1).toSeq
    val served = graft.SparkEntry.queries("phrase_serve")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_occ"),
        r.getAs[Long]("first_pos")))
      .sortBy(_._1).toSeq
    assert(batch === served)
  }

  test("batch path handles repeated phrase terms via the offset gate") {
    // "spark spark" through the GROUPED fold: one posting row joined at
    // two offsets, countDistinct(offset) = 2 = phrase_len — must equal
    // the k-way-join form on the same layout
    val path = PhraseQueries.savedPositionalPath(spark, sf)
    val rows = listsOf(path).where(col("term") === "spark")
    val expected = PhraseQueries.phraseStarts(rows, Seq("spark", "spark"))
      .select(col("doc_id"), col("starts")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).size.toLong,
        r.getSeq[Long](1).min))
      .sortBy(_._1).toSeq
    val batch = PhraseQueries.phraseServeBatch(spark, sf,
      Seq(1L -> Seq("spark", "spark")))
      .select("doc_id", "n_occ", "first_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(batch === expected)
    assert(batch.nonEmpty, "fixture SF should contain 'spark spark' docs")
  }

  test("snippet window clamps at both document edges") {
    // replicate the entry's window arithmetic (ctx=2, phrase len 2) on
    // hand-checked docs: a match at position 0 and a match flush with
    // the document end must both clamp, a mid-doc match gets 2+2+2
    import spark.implicits._
    val docs = Seq(
      (1L, "spark merge tail1 tail2 tail3"),       // match at 0: no left ctx
      (2L, "a b c spark merge"),                   // match at end: no right ctx
      (3L, "a b spark merge c d e"))               // mid: full window
      .toDF("doc_id", "text")
    val ctx = 2
    val toks = split(col("text"), " ")
    val matches = PhraseQueries.phraseStarts(
      PhraseQueries.positionalRows(
        docs.select(col("doc_id"), toks.as("toks"))
          .select(col("doc_id"), col("toks"),
            size(col("toks")).cast("long").as("dl")),
        Some(Seq("spark", "merge"))),
      Seq("spark", "merge"))
      .select(col("doc_id"), array_min(col("starts")).as("first_pos"))
    val s0 = greatest(col("first_pos") - ctx, lit(0L))
    val e0 = least(col("first_pos") + 3, size(toks).cast("long") - 1)
    val out = docs.join(matches, "doc_id")
      .select(col("doc_id"),
        array_join(slice(toks, (s0 + 1).cast("int"),
          (e0 - s0 + 1).cast("int")), " ").as("snippet"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(
      1L -> "spark merge tail1 tail2",
      2L -> "b c spark merge",
      3L -> "a b spark merge c d"))
  }

  test("percolation stream alerts equal the static batch per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val standing = Seq(1L -> Seq("spark", "merge"), 2L -> Seq("big", "big"))
    val source = MemoryStream[(Long, String)]
    val alerts = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long)]
    val q = graft.streaming.StreamRunner.phrasePercolateStream(standing,
      source.toDF().toDF("doc_id", "text")) { out =>
      alerts.synchronized {
        alerts ++= out.collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("n_occ"),
          r.getAs[Long]("first_pos")))
      }
    }
    val b1 = Seq(10L -> "a spark merge b", 11L -> "spark x merge")
    val b2 = Seq(12L -> "big big big", 13L -> "spark merge spark merge")
    source.addData(b1: _*)
    q.processAllAvailable()
    source.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val expected = Seq(b1, b2).flatMap(b =>
      PhraseQueries.percolateBatch(b.toDF("doc_id", "text"), standing)
        .collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("n_occ"),
          r.getAs[Long]("first_pos"))))
      .sortBy(t => (t._1, t._2))
    assert(alerts.sortBy(t => (t._1, t._2)).toSeq === expected)
    // the fixture exercises both standing queries, incl. the
    // repeated-term one and a multi-occurrence doc
    assert(expected.map(_._1).distinct.sorted === Seq(1L, 2L))
    assert(expected.exists(_._3 > 1L))
  }

  test("term restriction is pushed into the positional lists scan") {
    val path = PhraseQueries.savedPositionalPath(spark, sf)
    val plan = EpochPositional.lists(spark, path,
        EpochPositional.current(spark, path), Some(Seq("spark", "merge")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"), plan)
  }
}
