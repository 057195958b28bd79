package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Hybrid-retrieval pins: the RRF fusion must be exactly the decimal
  * round-sum of its member ranks, cover the union of both member lists,
  * and the served entry's anchor must be byte-identical to the exact
  * entry with its tolerance boolean true. */
class HybridQueriesSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def fused(name: String) =
    graft.SparkEntry.queries(name)(spark, sf).collect()

  test("fusion covers the union of the member lists and nothing else") {
    val rows = fused("hybrid_search")
    val kwDocs = TextQueries.bm25Search.fn(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val vecDocs = VectorQueries.bruteTopK(spark, sf, 5)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("doc_id")).toSet === (kwDocs ++ vecDocs))
    // member ranks survive the join intact
    rows.foreach { r =>
      val d = r.getAs[Long]("doc_id")
      val kw = Option(r.get(r.fieldIndex("kw_rnk"))).map(_.asInstanceOf[Long])
      val vec = Option(r.get(r.fieldIndex("vec_rnk"))).map(_.asInstanceOf[Long])
      assert(kw.isDefined === kwDocs.contains(d))
      assert(vec.isDefined === vecDocs.contains(d))
    }
  }

  test("member tiers emit per-(keys, doc_id) UNIQUE ranked lists — the " +
      "contract the union+max fusion rests on") {
    // r20 advice: the union+max rrfFuse is equivalent to the old
    // full-outer join ONLY while each member list is (keys, doc_id)
    // unique — a duplicate row would be silently max-merged where the
    // join surfaced it as duplicated output. Pin the contract on the
    // real tiers feeding the fusion so a tier regression fails HERE,
    // loudly, instead of being masked in every hybrid entry.
    def assertUnique(df: org.apache.spark.sql.DataFrame,
        keys: Seq[String], what: String): Unit = {
      val n = df.count()
      val nd = df.select(keys.map(col): _*).distinct().count()
      assert(n === nd, s"$what emits duplicate ${keys.mkString("/")} rows")
    }
    assertUnique(TextQueries.bm25Search.fn(spark, sf), Seq("doc_id"),
      "bm25_search (keyword tier)")
    assertUnique(VectorQueries.bruteTopK(spark, sf, 5), Seq("neighbor_id"),
      "bruteTopK (vector tier)")
    assertUnique(
      Ann.query(
        EpochAnn.load(spark, VectorQueries.savedIvfPath(spark, sf, 8)),
        probeId = 0, topK = 5, nProbe = 3), Seq("neighbor_id"),
      "Ann.query (served vector tier)")
  }

  test("rrf is the decimal round-sum of 1/(60+rank) contributions") {
    def contrib(r: Option[Long]): BigDecimal = r match {
      case Some(v) => BigDecimal(1.0 / (60.0 + v))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      case None => BigDecimal(0)
    }
    val rows = fused("hybrid_search")
    assert(rows.nonEmpty)
    var last = Double.MaxValue
    rows.sortBy(_.getAs[Long]("rnk")).foreach { r =>
      val kw = Option(r.get(r.fieldIndex("kw_rnk"))).map(_.asInstanceOf[Long])
      val vec = Option(r.get(r.fieldIndex("vec_rnk"))).map(_.asInstanceOf[Long])
      val expect = (contrib(kw) + contrib(vec)).toDouble
      assert(r.getAs[Double]("rrf") === expect)
      assert(r.getAs[Double]("rrf") <= last)
      last = r.getAs[Double]("rrf")
    }
  }

  test("hybrid_multi: per-query contiguous ranks, exact rrf, gates hold") {
    def contrib(r: Option[Long]): BigDecimal = r match {
      case Some(v) => BigDecimal(1.0 / (60.0 + v))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      case None => BigDecimal(0)
    }
    val rows = fused("hybrid_multi")
    assert(rows.forall(_.getAs[Boolean]("fuse_ok")))
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet === Set(0L, 1L, 2L))
    byQuery.foreach { case (_, qRows) =>
      val ranks = qRows.map(_.getAs[Long]("rnk")).sorted
      assert(ranks === (1L to qRows.length).toSeq)
      qRows.foreach { r =>
        val kw = Option(r.get(r.fieldIndex("kw_rnk")))
          .map(_.asInstanceOf[Long])
        val vec = Option(r.get(r.fieldIndex("vec_rnk")))
          .map(_.asInstanceOf[Long])
        assert(r.getAs[Double]("rrf") === (contrib(kw) + contrib(vec)).toDouble)
      }
    }
  }

  test("hybrid_multi's keyword member agrees with bm25_multi's ranking") {
    // hybrid query 1 and bm25_multi query 2 share the term set 'filter';
    // the fused frame's kw_rnk <= 5 docs must be bm25_multi's top-5.
    val hybridKw = fused("hybrid_multi")
      .filter(r => r.getAs[Long]("query_id") == 1L &&
        Option(r.get(r.fieldIndex("kw_rnk"))).exists(_.asInstanceOf[Long] <= 5L))
      .map(r => (r.get(r.fieldIndex("kw_rnk")).asInstanceOf[Long],
        r.getAs[Long]("doc_id"))).sorted.toSeq
    val bm25 = graft.SparkEntry.queries("bm25_multi")(spark, sf)
      .filter(col("query_id") === 2L)
      .collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id")))
      .sorted.toSeq
    assert(hybridKw === bm25)
  }

  test("hybrid_rerank permutes the fused shortlist by the model score") {
    val fusedDocs = fused("hybrid_search").map(_.getAs[Long]("doc_id")).toSet
    val rr = fused("hybrid_rerank")
    assert(rr.map(_.getAs[Long]("doc_id")).toSet === fusedDocs)
    // per-candidate scores are exactly model_score's for those docs
    val modelScores = graft.SparkEntry.queries("model_score")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score")).toMap
    rr.foreach { r =>
      assert(r.getAs[Long]("score") === modelScores(r.getAs[Long]("doc_id")))
    }
    val ordered = rr.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("score"))
    assert(ordered.zip(ordered.drop(1)).forall { case (a, b) => a >= b })
  }

  test("streaming hybrid serve equals the batch path across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val emb: Map[Long, Seq[Double]] = graft.Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 3)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val reqs = Seq(
      (0L, Seq("spark", "merge"), emb(0L)),
      (1L, Seq("filter"), emb(1L)),
      (2L, Seq("spark", "filter", "query"), emb(2L)))
    val source = MemoryStream[(Long, Seq[String], Seq[Double])]
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Double)]
    val q = graft.streaming.StreamRunner.hybridServeStream(sf,
      source.toDF().toDF("query_id", "terms", "probe_emb")) { out =>
      results.synchronized {
        results ++= out.collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
          r.getAs[Double]("rrf")))
      }
    }
    source.addData(reqs.head)
    q.processAllAvailable()
    source.addData(reqs(1), reqs(2))
    q.processAllAvailable()
    q.stop()
    val batch = HybridQueries.hybridServeBatch(spark, sf, reqs,
      excludeSelf = false)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("rrf"))).toSeq
    assert(results.sorted.toSeq === batch.sorted)
  }

  test("hybrid_filtered: every fused doc matches the predicate, gate holds") {
    val rows = fused("hybrid_filtered")
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("doc_id") % 3 == 0))
    assert(rows.forall(_.getAs[Boolean]("fuse_ok")))
    // candidate-filter semantics, not post-filter: the filtered vector
    // member is the brute-force top-5 AMONG matching ids — ranks are
    // contiguous 1..5 even though most of the unfiltered top-5 is gone
    val vecRanks = rows.flatMap(r =>
      Option(r.get(r.fieldIndex("vec_rnk"))).map(_.asInstanceOf[Long]))
      .sorted.toSeq
    assert(vecRanks === (1L to vecRanks.length).toSeq)
  }

  test("hybrid_serve_append anchors the exact fusion and its gate holds") {
    val exact = fused("hybrid_search")
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("rrf"))).toSeq
    val served = fused("hybrid_serve_append")
    assert(served.forall(_.getAs[Boolean]("fuse_ok")))
    assert(served.map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
      r.getAs[Double]("rrf"))).toSeq === exact)
  }

  test("hybrid_multi_rerank permutes each query's fused shortlist") {
    val fusedRows = fused("hybrid_multi")
    val rr = fused("hybrid_multi_rerank")
    val fusedByQ = fusedRows.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    val rrByQ = rr.groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSet).toMap
    assert(rrByQ === fusedByQ)
    // per-candidate scores are exactly model_score's, ranks contiguous
    // and ordered by (score desc, rrf desc) within each query
    val modelScores = graft.SparkEntry.queries("model_score")(spark, sf)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score")).toMap
    rr.groupBy(_.getAs[Long]("query_id")).foreach { case (_, qRows) =>
      val sorted = qRows.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq ===
        (1L to sorted.length).toSeq)
      sorted.foreach { r =>
        assert(r.getAs[Long]("score") ===
          modelScores(r.getAs[Long]("doc_id")))
      }
      val keys = sorted.map(r =>
        (-r.getAs[Long]("score"), -r.getAs[Double]("rrf")))
      assert(keys === keys.sorted)
    }
  }

  test("hybrid_serve_delete: no tombstoned doc is reachable through " +
      "either tier of the fused ranking") {
    val rows = fused("hybrid_serve_delete")
    assert(rows.nonEmpty)
    // the compliance property: the doomed residue class never appears,
    // whether a doc would have arrived via the keyword or vector tier
    assert(rows.forall(_.getAs[Long]("doc_id") % 7 != 3))
    assert(rows.forall(_.getAs[Boolean]("fuse_ok")))
    // the keyword member ranks are contiguous — tombstoned candidates
    // were removed BEFORE ranking, not blanked out of a stale top-10
    val kwRanks = rows.flatMap(r =>
      Option(r.get(r.fieldIndex("kw_rnk"))).map(_.asInstanceOf[Long]))
      .sorted.toSeq
    assert(kwRanks === (1L to kwRanks.length).toSeq)
  }

  test("rrfFuse rejects a member list deeper than the documented bound") {
    import spark.implicits._
    // a "keyword list" violating the ≤topK contract: ranks run past
    // MaxFuseRank, so the guard must fail the job by name instead of
    // silently feeding the keyless single-partition window
    val oversized = spark.range(1, HybridQueries.MaxFuseRank + 2)
      .select(col("id").as("doc_id"), col("id").as("kw_rnk"))
    val vec = Seq((1L, 1L)).toDF("doc_id", "vec_rnk")
    val ex = intercept[Exception] {
      HybridQueries.rrfFuse(oversized, vec).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("rrfFuse")))
    // an in-bound list of the same shape fuses fine
    val bounded = spark.range(1, 11)
      .select(col("id").as("doc_id"), col("id").as("kw_rnk"))
    assert(HybridQueries.rrfFuse(bounded, vec).count() === 10L)
  }

  test("hybrid_serve anchors the exact fusion and its gate holds") {
    val exact = fused("hybrid_search")
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("rrf"))).toSeq
    val served = fused("hybrid_serve")
    assert(served.forall(_.getAs[Boolean]("fuse_ok")))
    assert(served.map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"),
      r.getAs[Double]("rrf"))).toSeq === exact)
  }

  test("hybrid_mmr: first pick is the relevance argmax, the tail " +
      "diversifies, and every pick is a fused candidate") {
    val fused = graft.SparkEntry.queries("hybrid_search")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id")))
      .sortBy(_._1)
    val mmr = graft.SparkEntry.queries("hybrid_mmr")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id")))
      .sortBy(_._1)
    assert(mmr.length === 5)
    assert(mmr.map(_._1).toSeq === (1L to 5L))
    // pick 1 = pure-relevance winner (empty penalty set)
    assert(mmr.head._2 === fused.head._2)
    // no duplicates, and every selection came from the fused shortlist
    assert(mmr.map(_._2).distinct.length === 5)
    assert(mmr.map(_._2).toSet.subsetOf(fused.map(_._2).toSet))
  }
}
