package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** UPDATE pins for the compressed index (`EpochIvfpq.update`,
  * `sim_ivfpq_update`): the one-epoch upsert must leave the layout
  * equal to a rebuild-time encode of the updated corpus under the
  * frozen quantizers, a replayed batch id must be a mechanical no-op
  * (even with a frame that would corrupt the layout if applied), a NEW
  * batch id must still apply, and ids absent from the index must
  * upsert to inserts. */
class IvfpqUpdateSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, sf)

  private def layoutRows(path: String): Seq[(Long, Long, Seq[Int])] =
    EpochIvfpq.load(spark, path).encoded
      .select(col("vec_id"), col("cell").cast("long"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toSeq))
      .sortBy(_._1).toSeq

  test("update ≡ frozen-quantizer encode of the post-update corpus; " +
      "replayed batch id is a no-op; new batch id applies") {
    val path = s"${graft.GraftSession.scratchDir}/ivfpq_update_spec"
    EpochIvfpq.build(spark, emb, path, k = 8, m = 4, codes = 16)
    val built = EpochIvfpq.load(spark, path)
    val changed = emb.where(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      .localCheckpoint(true)
    EpochIvfpq.update(spark, changed, path, batchId = 1L)
    // reference: the updated corpus encoded through the build-side
    // expression with the SAME frozen quantizers
    val updatedCorpus = emb.select(col("vec_id"),
      when(pmod(col("vec_id"), lit(7)) === 3, reverse(col("embedding")))
        .otherwise(col("embedding")).as("embedding"))
    val ref = Ann.assign(updatedCorpus, built.centroids, "vec_id",
        "embedding")
      .select(col("vec_id"), col("cell"),
        graft.functions.PqEncode.pqEncode(ProductQuant.unit(col("embedding")),
          built.books).as("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toSeq))
      .sortBy(_._1).toSeq
    val after = layoutRows(path)
    assert(after === ref)
    // quantizers untouched by the update
    val idx = EpochIvfpq.load(spark, path)
    assert(idx.centroids.toSet === built.centroids.toSet)
    assert(idx.books === built.books)
    // crash-replay of batch 1 with a frame that WOULD corrupt the
    // layout if applied (zeroed embeddings): the ledger makes it a
    // mechanical no-op before the frame is even evaluated
    val epoch = Epoch.resolve(spark, path).get.epoch
    val poison = emb.where(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id"),
        transform(col("embedding"), _ => lit(0.0f)).as("embedding"))
    EpochIvfpq.update(spark, poison, path, batchId = 1L)
    assert(Epoch.resolve(spark, path).get.epoch === epoch)
    assert(layoutRows(path) === after)
    // a genuinely new batch id still applies — and an id NOT in the
    // index upserts to an insert
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val insert = emb.where(col("vec_id") === 0)
      .select(lit(maxId + 1L).as("vec_id"), col("embedding"))
      .localCheckpoint(true)
    EpochIvfpq.update(spark, insert, path, batchId = 2L)
    val rows = layoutRows(path)
    assert(rows.length === after.length + 1)
    assert(rows.exists(_._1 == maxId + 1L))
  }

  test("the update ledger key survives a later delete+compact — a " +
      "replay after unrelated maintenance is still a no-op") {
    val path = s"${graft.GraftSession.scratchDir}/ivfpq_update_spec3"
    EpochIvfpq.build(spark, emb, path, k = 8, m = 4, codes = 16)
    val changed = emb.where(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
      .localCheckpoint(true)
    EpochIvfpq.update(spark, changed, path, batchId = 1L)
    // unrelated maintenance AFTER the update: a delete + compact
    // publish fresh encoded generations — the manifest ledger carried
    // through them must keep batch 1's key
    EpochIvfpq.delete(spark,
      emb.where(col("vec_id") % 11 === 5).select("vec_id"), path,
      batchId = 2L)
    EpochIvfpq.compact(spark, path)
    val after = layoutRows(path)
    val poison = emb.where(pmod(col("vec_id"), lit(7)) === 3)
      .select(col("vec_id"),
        transform(col("embedding"), _ => lit(0.0f)).as("embedding"))
    EpochIvfpq.update(spark, poison, path, batchId = 1L)
    assert(layoutRows(path) === after,
      "a replayed update re-applied after compaction dropped its key")
  }

  test("a full-probe full-shortlist search over the updated layout " +
      "equals brute force over the updated corpus") {
    val path = s"${graft.GraftSession.scratchDir}/ivfpq_update_spec2"
    EpochIvfpq.build(spark, emb, path, k = 8, m = 4, codes = 16)
    EpochIvfpq.update(spark,
      emb.where(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
        .localCheckpoint(true),
      path, batchId = 1L)
    val n = emb.count().toInt
    val served = Ivfpq.search(EpochIvfpq.load(spark, path), probeId = 0,
      topK = 5, nProbe = 8, shortlist = n)
      .collect().map(r => (r.getLong(2), r.getLong(0))).toSeq
    val updated = emb.select(col("vec_id"),
      when(pmod(col("vec_id"), lit(7)) === 3, reverse(col("embedding")))
        .otherwise(col("embedding")).as("embedding"))
    val brute = VectorQueries.bruteTopKOf(updated, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(served === brute)
  }
}
