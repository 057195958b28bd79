package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Retrain-policy pins: a warm-start retrain must leave a consistent
  * layout (every resident exactly once, cells drawn from the NEW
  * centroid table), preserve exactness under full probing, subsume
  * pending deletes, and report the skew statistic that triggers it from
  * bounded driver state. */
class AnnRetrainSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, sf)

  test("retrain rewrites a consistent layout and keeps full-probe " +
      "exactness") {
    val path = s"${graft.GraftSession.scratchDir}/ann_retrain_main"
    EpochAnn.build(spark, emb.where(col("vec_id") < 32), path, k = 4)
    EpochAnn.append(spark, emb.where(col("vec_id") >= 32), path,
      batchId = 1L)
    EpochAnn.retrain(spark, path, iters = 2)
    val idx = EpochAnn.load(spark, path)
    // every resident exactly once
    val ids = idx.assigned.select("vec_id").collect().map(_.getLong(0))
    assert(ids.length === emb.count())
    assert(ids.toSet.size === ids.length)
    // cells come from the NEW centroid table
    val cells = idx.assigned.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf(idx.centroids.map(_._1).toSet))
    // full probing over the retrained index is still exact
    val full = Ann.query(idx, probeId = 0, topK = 5,
      nProbe = idx.centroids.length)
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    val brute = VectorQueries.bruteTopK(spark, sf, 5)
      .orderBy("rnk").select("neighbor_id").collect()
      .map(_.getLong(0)).toSeq
    assert(full === brute)
  }

  test("retrain subsumes pending deletes: tombstoned ids are refit " +
      "away and the segment is cleared") {
    val path = s"${graft.GraftSession.scratchDir}/ann_retrain_del"
    EpochAnn.build(spark, emb, path, k = 4)
    val doomed = emb.where(pmod(col("vec_id"), lit(5)) === 2)
    EpochAnn.delete(spark, doomed.select("vec_id"), path, batchId = 1L)
    EpochAnn.retrain(spark, path, iters = 1)
    assert(Epoch.resolve(spark, path).get
      .components("tombstones").isEmpty)
    val served = EpochAnn.load(spark, path).assigned.select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val doomedIds = doomed.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(served.intersect(doomedIds).isEmpty)
    assert(served.size === emb.count() - doomedIds.size)
  }

  test("EpochIvfpq.retrain refits both quantizers, keeps full-probe " +
      "full-shortlist exactness, and subsumes pending deletes") {
    val path = s"${graft.GraftSession.scratchDir}/ivfpq_retrain_main"
    EpochIvfpq.build(spark, emb.where(col("vec_id") < 32), path, k = 4,
      m = 4, codes = 16)
    EpochIvfpq.append(spark, emb.where(col("vec_id") >= 32), path,
      batchId = 1L)
    val before = EpochIvfpq.load(spark, path)
    val doomed = emb.where(pmod(col("vec_id"), lit(5)) === 2)
    EpochIvfpq.delete(spark, doomed.select("vec_id"), path, batchId = 2L)
    EpochIvfpq.retrain(spark, path, iters = 2)
    assert(Epoch.resolve(spark, path).get
      .components("tombstones").isEmpty)
    val after = EpochIvfpq.load(spark, path)
    // same layout parameters, refreshed quantizers
    assert(after.m === before.m && after.dsub === before.dsub)
    assert(after.books.length === before.books.length)
    // tombstoned ids were refit away
    val served = after.encoded.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val doomedIds = doomed.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(served.intersect(doomedIds).isEmpty)
    assert(served.size === emb.count() - doomedIds.size)
    // exactness: full probe + full shortlist equals filtered brute
    val full = Ivfpq.search(after, probeId = 0, topK = 5,
      nProbe = after.centroids.length, shortlist = served.size)
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    val brute = VectorQueries.bruteTopK(spark, sf, 5,
      Some(pmod(col("vec_id"), lit(5)) =!= 2))
      .orderBy("rnk").select("neighbor_id").collect()
      .map(_.getLong(0)).toSeq
    assert(full === brute)
  }

  test("cellSkew counts empty cells and reads 1.0 on perfect balance") {
    import spark.implicits._
    val four = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(-1.0, 0.0)),
      (2L, Seq(0.9, 0.1)), (3L, Seq(-0.9, -0.1)))
      .toDF("vec_id", "embedding")
    val balanced = Ann.build(four, k = 2, iters = 0)
    assert(Ann.cellSkew(balanced) === 1.0)
    assert(!Ann.needsRetrain(balanced, maxSkew = 1.01))
    // an index whose second cell lost every member: max/mean = 2
    val lopsided = Ann.IvfIndex(balanced.centroids,
      balanced.assigned.filter(col("cell") === balanced.centroids.head._1))
    assert(Ann.cellSkew(lopsided) === 2.0)
    assert(Ann.needsRetrain(lopsided, maxSkew = 1.5))
  }
}
