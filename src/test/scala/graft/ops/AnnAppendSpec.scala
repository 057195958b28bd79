package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Incremental-append pins: appending against frozen centroids must be
  * bit-identical to assigning old∪new in one pass with those centroids,
  * must create no new cells (the delta generation is cell-partitioned
  * by the same centroid ids, so pruning is unchanged), must refuse a
  * batch whose schema differs from the layout by name, and a query on
  * the merged index must see appended vectors as first-class
  * candidates. */
class AnnAppendSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, sf)

  test("append equals one-pass assignment with the frozen centroids") {
    val even = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val odd = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val path = s"${graft.GraftSession.scratchDir}/ann_append_spec"
    EpochAnn.build(spark, even, path, k = 8)
    val built = EpochAnn.load(spark, path)
    EpochAnn.append(spark, odd, path, batchId = 1L)
    val merged = EpochAnn.load(spark, path)
    assert(merged.centroids.toSet === built.centroids.toSet)
    // one-pass reference: assign the FULL corpus with the same centroids
    val b = Ann.assign(emb, built.centroids, "vec_id", "embedding")
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // partition discovery may type `cell` as int — read it numerically
    val a = merged.assigned.select(col("vec_id"),
        col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a === b)
    assert(a.length === emb.count())
    // no new cells: every assigned cell is one of the k centroids
    val cells = merged.assigned.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf(built.centroids.map(_._1).toSet))
  }

  test("append rejects a batch whose schema mismatches the saved layout") {
    val path = s"${graft.GraftSession.scratchDir}/ann_append_schema"
    EpochAnn.build(spark, emb.filter(col("vec_id") < 50), path, k = 4)
    val epoch = Epoch.resolve(spark, path).get.epoch
    // element type drift: float embeddings persisted, double batch
    val doubled = emb.filter(col("vec_id") >= 50)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
    val e1 = intercept[IllegalArgumentException] {
      EpochAnn.append(spark, doubled, path, batchId = 1L)
    }
    assert(e1.getMessage.contains("does not match"))
    // mis-named column
    val misnamed = emb.filter(col("vec_id") >= 50)
      .select(col("vec_id"), col("embedding").as("emb"))
    val e2 = intercept[IllegalArgumentException] {
      EpochAnn.append(spark, misnamed, path, batchId = 2L)
    }
    assert(e2.getMessage.contains("no 'embedding' column"))
    // neither refused batch committed an epoch
    assert(Epoch.resolve(spark, path).get.epoch === epoch)
  }

  test("query on the appended index surfaces appended (odd) vectors") {
    val even = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val odd = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val path = s"${graft.GraftSession.scratchDir}/ann_append_probe"
    EpochAnn.build(spark, even, path, k = 8)
    EpochAnn.append(spark, odd, path, batchId = 1L)
    val merged = EpochAnn.load(spark, path)
    // full probing = exact search over the merged content: its top-5
    // must equal brute force over the WHOLE corpus, which necessarily
    // includes any odd-id true neighbors
    val ivf = Ann.query(merged, probeId = 0, topK = 5, nProbe = 8)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val brute = graft.SparkEntry.queries("sim_topk")(spark, sf)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(ivf === brute)
  }
}
