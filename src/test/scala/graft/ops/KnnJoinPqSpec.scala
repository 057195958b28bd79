package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** ADC-scored kNN-join pins ([[Ivfpq.knnJoin]]): a single-probe join
  * must reproduce the driver-LUT `Ivfpq.search` row for row (the
  * executor-side LUT shares lutsFor's exact fold order, so the ADC
  * shortlists — not just the re-ranked top-k — coincide), full probing
  * with a full shortlist must degenerate to the exact per-probe top-k,
  * the phase-1 scan must read codes but never the embedding column, and
  * the plan must stay cartesian-free. */
class KnnJoinPqSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, sf)
  private lazy val n = emb.count().toInt
  private lazy val index = Ivfpq.build(emb, k = 8, m = 4, codes = 16)

  private def probesOf(ids: Long*) = emb
    .filter(col("vec_id").isin(ids: _*))
    .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))

  private def rows(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, Long, Double)] =
    df.collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("sim")))
      .sortBy(_._1).toSeq

  test("single-probe ADC kNN join reproduces Ivfpq.search row for row") {
    val viaJoin = rows(
      Ivfpq.knnJoin(index, probesOf(0L), topK = 5, nProbe = 3,
        shortlist = 50).select("neighbor_id", "sim", "rank"))
    val viaSearch = rows(
      Ivfpq.search(index, probeId = 0, topK = 5, nProbe = 3,
        shortlist = 50))
    assert(viaJoin.map(t => (t._1, t._2)) ===
      viaSearch.map(t => (t._1, t._2)))
    // sims are the same exact-cosine expression on both paths
    viaJoin.zip(viaSearch).foreach { case (a, b) =>
      assert(a._3 === b._3, s"sim drift at rank ${a._1}")
    }
  }

  test("full-probe full-shortlist ADC join equals exact per-probe top-k") {
    val ids = Seq(0L, 7L, 42L)
    val joined = Ivfpq.knnJoin(index, probesOf(ids: _*), topK = 5,
        nProbe = 8, shortlist = n)
      .collect()
      .map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("rank"),
        r.getAs[Long]("neighbor_id")))
      .sortBy(t => (t._1, t._2)).toSeq
    val ivf = Ann.build(emb, k = 8)
    val exact = ids.flatMap { pid =>
      Ann.query(ivf, probeId = pid, topK = 5, nProbe = 8)
        .collect().map(r => (pid, r.getAs[Long]("rank"),
          r.getAs[Long]("neighbor_id")))
    }.sortBy(t => (t._1, t._2))
    assert(joined === exact)
  }

  test("index-side probe column names are refused by name, extras dropped") {
    // param collision: probe id named like the index id column
    val e = intercept[IllegalArgumentException] {
      Ivfpq.knnJoin(index,
        emb.select(col("vec_id"), col("embedding").as("probe_emb")),
        topK = 5, nProbe = 3, shortlist = 50, probeIdCol = "vec_id")
    }
    assert(e.getMessage.contains("vec_id"))
    // extra colliding columns on the probe FRAME are projected away
    val wide = emb.filter(col("vec_id") === 0)
      .select(col("vec_id").as("probe_id"),
        col("embedding").as("probe_emb"),
        col("vec_id"), col("embedding")) // riders named like the index
    val served = Ivfpq.knnJoin(index, wide, topK = 5, nProbe = 3,
      shortlist = 50)
    assert(served.count() === 5)
  }

  test("PqLut kernel is bit-equal to the literal composition AND lutsFor") {
    import org.apache.spark.sql.functions.col
    val unitDf = emb.limit(32)
      .select(col("vec_id"),
        graft.ops.ProductQuant.unit(col("embedding")).as("_unit"))
    val viaKernel = unitDf
      .select(col("vec_id"),
        graft.functions.PqLut.pqLut(col("_unit"), index.books).as("lut"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Double]](1).map(_.toSeq).toSeq)
      .toMap
    val viaLiteral = unitDf
      .select(col("vec_id"),
        Ivfpq.lutExpr(index.books, index.dsub, col("_unit")).as("lut"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[Double]](1).map(_.toSeq).toSeq)
      .toMap
    assert(viaKernel === viaLiteral) // bit-equal: no tolerance
    // and both equal the driver-side lutsFor on a spot row
    val unit0 = unitDf.filter(col("vec_id") === 0)
      .select(col("_unit")).head().getSeq[Double](0).toSeq
    val driver = graft.ops.ProductQuant.lutsFor(index.books, index.dsub, unit0)
    assert(viaKernel(0L) === driver.map(_.toSeq))
  }

  test("phase-1 candidate scan reads codes, never the embedding column") {
    val path = s"${graft.GraftSession.scratchDir}/knnjoinpq_spec_plan"
    EpochIvfpq.build(spark, emb, path, k = 8, m = 4, codes = 16)
    val loaded = EpochIvfpq.load(spark, path)
    val plan = Ivfpq.knnJoin(loaded, probesOf(0L, 1L), topK = 5,
        nProbe = 3, shortlist = 50)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    val readSchemas = "ReadSchema: [^\n]+".r.findAllIn(plan).toSeq
    assert(readSchemas.exists(s =>
      s.contains("codes") && !s.contains("embedding")),
      s"no codes-only scan in:\n${readSchemas.mkString("\n")}")
  }
}
