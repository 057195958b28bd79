package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Boolean-retrieval pins: the set algebra (AND via grouped distinct
  * count, OR via the should union, NOT via one anti-join) matches a
  * naive self-join formulation row for row; a single-must query
  * reproduces the plain BM25 serve; deletes and edge clauses behave;
  * the clause-term union stays ONE pushed scan. */
class BoolSearchSpec extends SparkTestBase {

  import spark.implicits._

  private def mkIndex(name: String): String = {
    val path = s"${graft.GraftSession.scratchDir}/bool_$name"
    val docs = Seq(
      (1L, "spark merge filter scan"),
      (2L, "spark merge merge"),
      (3L, "spark filter"),
      (4L, "merge filter window"),
      (5L, "spark merge window"),
      (6L, "window scan"))
      .toDF("doc_id", "text")
    TextQueries.buildPostings(spark, docs, path)
    path
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("AND, OR, NOT semantics against hand-computed sets; AND equals " +
      "the k-way self-join formulation") {
    val path = mkIndex("sem")
    // spark AND merge → {1,2,5}; NOT filter drops 1 → {2,5}
    assert(ids(BoolQueries.boolSearch(spark, path,
      must = Seq("spark", "merge"), mustNot = Seq("filter")))
      === Set(2L, 5L))
    // k-way self-join formulation must agree on the satisfying set
    val l1 = TextQueries.servedLists(spark, path, Seq("spark"))
      .select(col("doc_id"))
    val l2 = TextQueries.servedLists(spark, path, Seq("merge"))
      .select(col("doc_id"))
    val neg = TextQueries.servedLists(spark, path, Seq("filter"))
      .select(col("doc_id"))
    assert(ids(l1.join(l2, "doc_id").join(neg, Seq("doc_id"),
      "left_anti")) === Set(2L, 5L))
    // (filter OR window) NOT spark → {4,6}
    assert(ids(BoolQueries.boolSearch(spark, path, must = Seq.empty,
      should = Seq("filter", "window"), mustNot = Seq("spark")))
      === Set(4L, 6L))
    // should terms BOOST a must query without narrowing it: doc 2
    // (no window) stays, doc 5 scores the extra term
    val boosted = BoolQueries.boolSearch(spark, path,
      must = Seq("merge"), should = Seq("window"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(boosted.keySet === Set(1L, 2L, 4L, 5L))
    assert(boosted(5L) === 2L && boosted(2L) === 1L)
    // a must term absent from the corpus empties the result; a
    // mustNot covering every candidate empties it too
    assert(BoolQueries.boolSearch(spark, path,
      must = Seq("spark", "nosuchterm")).count() === 0L)
    assert(BoolQueries.boolSearch(spark, path, must = Seq("merge"),
      mustNot = Seq("merge")).count() === 0L)
    intercept[IllegalArgumentException] {
      BoolQueries.boolSearch(spark, path, must = Seq.empty)
    }
  }

  test("phrase clauses intersect through the positional index: exact " +
      "adjacency required, order matters, composition with NOT holds") {
    val path = mkIndex("ph")
    val pos = s"${graft.GraftSession.scratchDir}/bool_ph_pos"
    val docs = Seq(
      (1L, "spark merge filter scan"),
      (2L, "spark merge merge"),
      (3L, "spark filter"),
      (4L, "merge filter window"),
      (5L, "spark merge window"),
      (6L, "window scan")).toDF("doc_id", "text")
    EpochPositional.build(spark, docs, pos)
    // exact phrase "spark merge" → {1,2,5}; AND filter → {1}
    assert(ids(BoolQueries.boolSearch(spark, path, must = Seq("filter"),
      positional = Some(pos), phrases = Seq(Seq("spark", "merge"))))
      === Set(1L))
    // order matters: "merge spark" matches nothing
    assert(BoolQueries.boolSearch(spark, path, must = Seq.empty,
      positional = Some(pos), phrases = Seq(Seq("merge", "spark")))
      .count() === 0L)
    // pure-phrase query + NOT: {1,2,5} minus filter docs {1,3,4} → {2,5}
    assert(ids(BoolQueries.boolSearch(spark, path, must = Seq.empty,
      mustNot = Seq("filter"), positional = Some(pos),
      phrases = Seq(Seq("spark", "merge")))) === Set(2L, 5L))
    // two phrase clauses intersect: "spark merge" AND "merge filter"
    assert(ids(BoolQueries.boolSearch(spark, path, must = Seq.empty,
      positional = Some(pos),
      phrases = Seq(Seq("spark", "merge"), Seq("merge", "filter"))))
      === Set(1L))
    // a phrase is itself a required clause, so should becomes
    // score-only beside it (the Lucene rule): "spark merge" +
    // should window does NOT narrow {1,2,5}, it boosts doc 5
    val phBoost = BoolQueries.boolSearch(spark, path, must = Seq.empty,
      should = Seq("window"), positional = Some(pos),
      phrases = Seq(Seq("spark", "merge")))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(phBoost.keySet === Set(1L, 2L, 5L))
    assert(phBoost(5L) === 3L && phBoost(2L) === 2L)
    intercept[IllegalArgumentException] {
      BoolQueries.boolSearch(spark, path, must = Seq.empty,
        phrases = Seq(Seq("spark", "merge"))) // no positional path
    }
  }

  test("single-must no-not reproduces the plain BM25 serve; deleted " +
      "docs leave the satisfying set; clause union is one pushed scan") {
    val path = mkIndex("eq")
    val plain = TextQueries.bm25TopK(
      TextQueries.servedLists(spark, path, Seq("merge")),
      spark.read.parquet(s"$path/df").where(col("term") === "merge"),
      spark.read.parquet(s"$path/stats"))
      .collect().map(_.toSeq).toSeq
    val viaBool = BoolQueries.boolSearch(spark, path,
      must = Seq("merge"))
      .collect().map(_.toSeq).toSeq
    assert(viaBool === plain)
    TextQueries.postingsDelete(spark, Seq(2L).toDF("doc_id"), path)
    assert(!ids(BoolQueries.boolSearch(spark, path,
      must = Seq("spark", "merge"))).contains(2L))
    val plan = TextQueries.servedLists(spark, path,
      Seq("spark", "merge", "filter"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      plan)
  }
}
