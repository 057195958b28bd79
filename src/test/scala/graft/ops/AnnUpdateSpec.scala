package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** UPDATE pins for the float IVF index (`EpochAnn.update` —
  * `EpochIvfpq.update`'s upsert on the uncompressed layout): the
  * one-epoch upsert must leave the layout equal to a frozen-centroid
  * assignment of the post-update corpus, a replayed batch id must be a
  * mechanical no-op, and a full-probe query over the updated layout
  * must equal brute force over the updated corpus. */
class AnnUpdateSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, sf)

  test("update ≡ frozen-centroid assignment of the post-update corpus; " +
      "replay is a no-op; full-probe query equals updated brute force") {
    val path = s"${graft.GraftSession.scratchDir}/ann_update_spec"
    EpochAnn.build(spark, emb, path, k = 8)
    val built = EpochAnn.load(spark, path)
    val changed = emb.where(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      .localCheckpoint(true)
    EpochAnn.update(spark, changed, path, batchId = 1L)
    val updated = emb.select(col("vec_id"),
      when(pmod(col("vec_id"), lit(7)) === 3, reverse(col("embedding")))
        .otherwise(col("embedding")).as("embedding"))
    val ref = Ann.assign(updated, built.centroids, "vec_id", "embedding")
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val got = EpochAnn.load(spark, path).assigned
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got === ref)
    // replay with a poison frame: the ledger short-circuits, and no
    // epoch commits
    val epoch = Epoch.resolve(spark, path).get.epoch
    val poison = emb.where(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id"),
        transform(col("embedding"), _ => lit(0.0f)).as("embedding"))
    EpochAnn.update(spark, poison, path, batchId = 1L)
    assert(Epoch.resolve(spark, path).get.epoch === epoch)
    assert(EpochAnn.load(spark, path).assigned
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq === ref)
    // full-probe query over the updated layout ≡ brute force over the
    // updated corpus (exact-at-full-probe degeneracy)
    val served = Ann.query(EpochAnn.load(spark, path), probeId = 0,
      topK = 5, nProbe = 8)
      .collect().map(r => (r.getLong(2), r.getLong(0))).toSeq
    val brute = VectorQueries.bruteTopKOf(updated, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served === brute)
  }
}
