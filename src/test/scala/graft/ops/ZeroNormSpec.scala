package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Zero-norm scoring guard: a zero vector has no direction, so every
  * search path must pin its cosine to −1 ("matches nothing") instead of
  * emitting NaN — Spark sorts NaN ABOVE all real values in a descending
  * sort, so an unguarded zero-norm row would claim rank 1 of every
  * probe. Pins `Ann.guardedSim` through the three serving surfaces
  * (Ann.query, ProductQuant.search, Ivfpq.search). */
class ZeroNormSpec extends SparkTestBase {

  /** 8 vectors, dim 4, ids 0–7; id 7 is the all-zero vector. Built so
    * every non-zero row has positive cosine with probe 0. */
  private lazy val vecs: DataFrame = {
    import spark.implicits._
    val rows = (0 until 7).map { i =>
      (i.toLong, Array(1.0f, 0.1f * i, 0.5f, 0.25f * i))
    } :+ (7L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    rows.toDF("vec_id", "embedding")
  }

  test("Ann.query pins the zero-norm row to sim -1 and ranks it last") {
    val index = Ann.build(vecs, k = 2, iters = 1)
    // probe EVERY cell: the zero row lands in the NaN-never-wins cell
    // (−1), which real routing would rank last — the guard is about
    // scoring, so make sure the row gets scored
    val out = Ann.query(index, probeId = 0, topK = 7,
      nProbe = index.centroids.length)
      .collect().map(r => (r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("sim"), r.getAs[Long]("rank")))
    val zero = out.find(_._1 == 7L).get
    assert(zero._2 === -1.0)
    assert(zero._3 === out.map(_._3).max) // last, not NaN-promoted first
    assert(out.forall(t => !t._2.isNaN))
  }

  test("ProductQuant.search exact re-rank pins the zero-norm row to sim -1") {
    val index = ProductQuant.build(vecs, m = 2, codes = 2, iters = 1)
    val out = ProductQuant.search(index, probeId = 0, topK = 7, shortlist = 10)
      .collect().map(r => (r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("sim"), r.getAs[Long]("rank")))
    val zero = out.find(_._1 == 7L).get
    assert(zero._2 === -1.0)
    assert(zero._3 === out.map(_._3).max)
    assert(out.forall(t => !t._2.isNaN))
  }

  test("Ivfpq.search exact re-rank pins the zero-norm row to sim -1") {
    val index = Ivfpq.build(vecs, k = 2, m = 2, codes = 2, iters = 1)
    val out = Ivfpq.search(index, probeId = 0, topK = 7,
      nProbe = index.centroids.length, shortlist = 10)
      .collect().map(r => (r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("sim"), r.getAs[Long]("rank")))
    val zero = out.find(_._1 == 7L).get
    assert(zero._2 === -1.0)
    assert(zero._3 === out.map(_._3).max)
    assert(out.forall(t => !t._2.isNaN))
  }

  test("ProductQuant.search with a zero-norm PROBE pins every neighbor to -1") {
    val index = ProductQuant.build(vecs, m = 2, codes = 2, iters = 1)
    val out = ProductQuant.search(index, probeId = 7, topK = 7, shortlist = 10)
      .collect().map(r => r.getAs[Double]("sim"))
    assert(out.nonEmpty)
    assert(out.forall(_ === -1.0))
  }

  test("Ivfpq.search with a zero-norm PROBE pins every neighbor to -1 " +
      "(matches knnJoin's contract)") {
    // a directionless probe matches nothing: BOTH the single-probe
    // search and the joined form must score every neighbor −1, so the
    // single-probe-reproduces-search equivalence holds for degenerate
    // probes too (round-12 ADVICE: search used to pass probeNorm 1.0
    // and emit sim 0.0 here, diverging from knnJoin's −1)
    val index = Ivfpq.build(vecs, k = 2, m = 2, codes = 2, iters = 1)
    val out = Ivfpq.search(index, probeId = 7, topK = 7,
      nProbe = index.centroids.length, shortlist = 10)
      .collect().map(r => r.getAs[Double]("sim"))
    assert(out.nonEmpty)
    assert(out.forall(_ === -1.0))
  }

  test("probeNameGuard refuses internal working and output column names") {
    for (bad <- Seq("_probe_norm", "_unit", "_lut", "_adc", "sim",
        "neighbor_id", "rank")) {
      val e = intercept[IllegalArgumentException] {
        Ann.probeNameGuard(bad, "probe_emb", Seq("vec_id", "embedding"))
      }
      assert(e.getMessage.contains(bad))
    }
    // and still refuses index-side clashes, still accepts clean names
    intercept[IllegalArgumentException] {
      Ann.probeNameGuard("vec_id", "probe_emb", Seq("vec_id", "embedding"))
    }
    Ann.probeNameGuard("probe_id", "probe_emb", Seq("vec_id", "embedding"))
  }
}
