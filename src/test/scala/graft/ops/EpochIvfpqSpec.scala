package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Epoch-IVF-PQ pins: a manifest pinned before a retrain serves its
  * exact snapshot as a COHERENT TRIPLE (old codes + old books + old
  * centroids — mixed generations on this index are not stale but
  * wrong: ADC would decode codes through the wrong codebooks); the
  * lifecycle lands row-identical to an in-memory reference over the
  * survivors ([[Ivfpq]], shared assignment/encode kernels); the UPSERT
  * is one epoch; ledger replays no-op; prune retires history without
  * touching serving. */
class EpochIvfpqSpec extends SparkTestBase {

  import spark.implicits._

  private def emb(ids: Seq[Long]) =
    ids.map(i => (i, Array((i % 7).toFloat, (i % 3).toFloat,
      1.0f, (i % 5).toFloat)))
      .toDF("vec_id", "embedding")

  private def rows(idx: Ivfpq.IvfPqIndex): Set[(Long, Long, Seq[Int])] =
    idx.encoded.select(col("vec_id"), col("cell").cast("long"),
      col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toSeq))
      .toSet

  test("pinned pre-retrain manifest keeps the coherent triple; " +
      "lifecycle ≡ in-memory reference; upsert is one epoch; replays " +
      "no-op") {
    val path = s"${graft.GraftSession.scratchDir}/epoch_ivfpq"
    val all = emb(1L to 40L)
    val even = all.filter(col("vec_id") % 2 === 0)
    val odd = all.filter(col("vec_id") % 2 === 1)

    EpochIvfpq.build(spark, even, path, k = 3, m = 2, codes = 4)
    val m0 = Epoch.resolve(spark, path).get
    val pinned0 = EpochIvfpq.loadOn(spark, path, m0)
    val books0 = pinned0.books
    val cents0 = pinned0.centroids
    val rows0 = rows(pinned0)
    // the in-memory reference: `corpus` cell-assigned and PQ-encoded
    // under the frozen build quantizers
    def frozen(corpus: org.apache.spark.sql.DataFrame) =
      pinned0.copy(encoded = Ann.assign(corpus, cents0, "vec_id",
          "embedding")
        .select(col("vec_id"), col("embedding"), col("cell"),
          graft.functions.PqEncode.pqEncode(
            ProductQuant.unit(col("embedding")), books0).as("codes")))

    // append odd, delete a slice
    EpochIvfpq.append(spark, odd, path, batchId = 1L)
    EpochIvfpq.delete(spark, Seq(4L, 7L).toDF("vec_id"), path,
      batchId = 2L)
    assert(rows(EpochIvfpq.load(spark, path))
      === rows(frozen(all.where(!col("vec_id").isin(4L, 7L)))))

    // ledger replays: same batch keys commit nothing
    val e = Epoch.resolve(spark, path).get.epoch
    EpochIvfpq.append(spark, odd, path, batchId = 1L)
    EpochIvfpq.delete(spark, Seq(4L, 7L).toDF("vec_id"), path,
      batchId = 2L)
    assert(Epoch.resolve(spark, path).get.epoch === e)

    // UPSERT as one epoch: reversed embeddings for two ids; replay
    // no-ops
    val upd = emb(Seq(6L, 11L))
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val survivors = all.where(!col("vec_id").isin(4L, 7L, 6L, 11L))
      .unionByName(upd)
    EpochIvfpq.update(spark, upd, path, batchId = 3L)
    assert(rows(EpochIvfpq.load(spark, path)) === rows(frozen(survivors)))
    val e2 = Epoch.resolve(spark, path).get.epoch
    EpochIvfpq.update(spark, upd, path, batchId = 3L)
    assert(Epoch.resolve(spark, path).get.epoch === e2)
    // the update epoch carries no tombstones — delete+re-add folded
    assert(Epoch.resolve(spark, path).get
      .components("tombstones").isEmpty)

    // RETRAIN: new centroids + books + codes as ONE epoch; the
    // pre-retrain pin still reads the ORIGINAL triple
    EpochIvfpq.retrain(spark, path)
    val pinnedAfter = EpochIvfpq.loadOn(spark, path, m0)
    assert(pinnedAfter.books === books0)
    assert(pinnedAfter.centroids === cents0)
    assert(rows(pinnedAfter) === rows0)

    // retrain ≡ an in-memory build over the survivors UP TO FLOAT-SUM
    // ORDER: both refits see identical survivor ROWS but from
    // differently-partitioned inputs, so the codebook means can differ
    // by ulps — cells must match exactly, books within tolerance, and
    // the SERVED answer (exact re-rank absorbs quantizer ulps) must be
    // identical
    val epochIdx = EpochIvfpq.load(spark, path)
    val refIdx = Ivfpq.build(survivors, k = 3, m = 2, codes = 4)
    def cells(i: Ivfpq.IvfPqIndex): Set[(Long, Long)] =
      i.encoded.select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cells(epochIdx) === cells(refIdx))
    val eb = epochIdx.books.flatten.flatten
    val sb = refIdx.books.flatten.flatten
    assert(eb.size === sb.size)
    eb.zip(sb).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"book entry drift: $a vs $b") }
    def servedIds(i: Ivfpq.IvfPqIndex): Seq[Long] =
      Ivfpq.search(i, probeId = 1L, topK = 5,
        nProbe = i.centroids.size, shortlist = 40)
        .collect().map(_.getLong(0)).toSeq
    assert(servedIds(epochIdx) === servedIds(refIdx))

    // full-probe search over survivors serves no deleted/self ids
    val idx = EpochIvfpq.load(spark, path)
    val served = Ivfpq.search(idx, probeId = 1L, topK = 5,
      nProbe = idx.centroids.size, shortlist = 40)
      .collect().map(_.getLong(0)).toSeq
    assert(served.size === 5)
    assert(!served.exists(Set(1L, 4L, 7L)))

    // prune to the current epoch only: serving unaffected (rows()
    // against the pre-prune epoch read — same layout, bit-exact)
    val prePrune = rows(EpochIvfpq.load(spark, path))
    EpochIvfpq.compact(spark, path)
    Epoch.prune(spark, path, keep = 1)
    assert(rows(EpochIvfpq.load(spark, path)) === prePrune)
    assert(cells(EpochIvfpq.load(spark, path)) === cells(refIdx))

    // re-add of a tombstoned id is refused while tombstones live
    EpochIvfpq.delete(spark, Seq(9L).toDF("vec_id"), path, batchId = 5L)
    val ex = intercept[IllegalArgumentException] {
      EpochIvfpq.append(spark, emb(Seq(9L)), path, batchId = 6L)
    }
    assert(ex.getMessage.contains("compact first"), ex.getMessage)
  }
}
