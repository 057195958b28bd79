package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Epoch-IVF pins: a pinned manifest keeps serving its exact snapshot
  * (old centroids AND old lists) across a retrain — a mixed
  * centroids/lists read is structurally impossible; the full lifecycle
  * on the epoch layout lands row-identical to an in-memory reference
  * over the survivors (shared assignment and refit code); ledger
  * replays no-op; prune retires history without touching serving. */
class EpochAnnSpec extends SparkTestBase {

  import spark.implicits._

  private def emb(ids: Seq[Long]) =
    ids.map(i => (i, Array((i % 7).toFloat, (i % 3).toFloat,
      1.0f, (i % 5).toFloat)))
      .toDF("vec_id", "embedding")

  private def rows(idx: Ann.IvfIndex): Set[(Long, Long)] =
    idx.assigned.select(col("vec_id"),
      col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("a manifest pinned before a retrain serves the OLD centroids " +
      "and lists; the lifecycle lands row-identical to an in-memory " +
      "reference") {
    val path = s"${graft.GraftSession.scratchDir}/epoch_ann"
    val all = emb(1L to 40L)
    val even = all.filter(col("vec_id") % 2 === 0)
    val odd = all.filter(col("vec_id") % 2 === 1)
    val survivors = all.where(!col("vec_id").isin(4L, 7L))

    EpochAnn.build(spark, even, path, k = 3)
    val m0 = Epoch.resolve(spark, path).get
    val pinnedBefore = EpochAnn.loadOn(spark, path, m0)
    val centsBefore = pinnedBefore.centroids
    val rowsBefore = rows(pinnedBefore)
    assert(centsBefore === Ann.build(even, k = 3).centroids)

    // append odd, delete a slice: the survivors assigned in one pass
    // under the frozen build centroids
    EpochAnn.append(spark, odd, path, batchId = 1L)
    EpochAnn.delete(spark, Seq(4L, 7L).toDF("vec_id"), path,
      batchId = 2L)
    assert(rows(EpochAnn.load(spark, path)) === rows(Ann.IvfIndex(
      centsBefore, Ann.assign(survivors, centsBefore, "vec_id",
        "embedding"))))

    // ledger replays: same batch keys commit nothing
    val e = Epoch.resolve(spark, path).get.epoch
    EpochAnn.append(spark, odd, path, batchId = 1L)
    EpochAnn.delete(spark, Seq(4L, 7L).toDF("vec_id"), path,
      batchId = 2L)
    assert(Epoch.resolve(spark, path).get.epoch === e)

    // RETRAIN publishes new centroids + lists as ONE epoch; the
    // pre-retrain pin still reads the ORIGINAL build — centroids and
    // lists together, never mixed
    EpochAnn.retrain(spark, path)
    val pinnedAfter = EpochAnn.loadOn(spark, path, m0)
    assert(pinnedAfter.centroids === centsBefore)
    assert(rows(pinnedAfter) === rowsBefore)
    assert(Epoch.resolve(spark, path).get
      .components("tombstones").isEmpty)

    // retrain ≡ a warm-start refit of the survivors in memory (same
    // start centroids, same two Lloyd steps, one re-assignment)
    val refCents = (1 to 2).foldLeft(centsBefore)((c, _) =>
      Ann.meanCentroids(Ann.assign(survivors, c, "vec_id", "embedding"),
        "embedding", 4))
    val ref = Ann.IvfIndex(refCents,
      Ann.assign(survivors, refCents, "vec_id", "embedding"))
    assert(rows(EpochAnn.load(spark, path)) === rows(ref))
    assert(EpochAnn.load(spark, path).centroids === refCents)

    // full-probe search equals brute force over the survivors
    val k = EpochAnn.load(spark, path).centroids.size
    val served = Ann.query(EpochAnn.load(spark, path), probeId = 1L,
      topK = 5, nProbe = k)
      .collect().map(_.getLong(0)).toSeq
    val brute = all
      .where(!col("vec_id").isin(1L, 4L, 7L))
      .select(col("vec_id"),
        (aggregate(zip_with(col("embedding"),
          array(lit(1f), lit(1f), lit(1f), lit(1f)), (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x)).as("_"))
      .collect().map(_.getLong(0)).toSet
    assert(served.toSet.subsetOf(brute)) // no deleted/self ids served
    assert(served.size === 5)

    // prune to the current epoch only: serving unaffected
    EpochAnn.compact(spark, path)
    Epoch.prune(spark, path, keep = 1)
    assert(rows(EpochAnn.load(spark, path)) === rows(ref))
    // re-add of a tombstoned id is refused while tombstones live
    EpochAnn.delete(spark, Seq(9L).toDF("vec_id"), path, batchId = 5L)
    val ex = intercept[IllegalArgumentException] {
      EpochAnn.append(spark, emb(Seq(9L)), path, batchId = 6L)
    }
    assert(ex.getMessage.contains("compact first"), ex.getMessage)
  }

  test("streaming vector ingest appends epochs exactly-once off the " +
      "checkpointed batch id; drained state ≡ one-shot frozen-centroid " +
      "appends") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val path = s"${graft.GraftSession.scratchDir}/epoch_ann_stream"
    EpochAnn.build(spark, emb(1L to 20L), path, k = 3)
    val source = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamRunner.vectorIngestEpochStream(
      path, source.toDF().toDF("vec_id", "embedding"))
    def vecs(ids: Seq[Long]) = ids.map(i =>
      (i, Array((i % 7).toFloat, (i % 3).toFloat, 1.0f, (i % 5).toFloat)))
    source.addData(vecs(21L to 30L): _*)
    q.processAllAvailable()
    val afterB0 = Epoch.resolve(spark, path).get
    assert(afterB0.has("app_0"))
    source.addData(vecs(31L to 40L): _*)
    q.processAllAvailable()
    q.stop()
    assert(Epoch.resolve(spark, path).get.has("app_1"))
    // crash-replay of batch 0's payload under its id: ledger no-op
    EpochAnn.append(spark, emb(21L to 30L), path, batchId = 0L)
    assert(Epoch.resolve(spark, path).get.epoch === afterB0.epoch + 1)
    // drained state ≡ the same appends issued as one-shot batches
    // against the same pinned centroids
    val twin = s"${graft.GraftSession.scratchDir}/epoch_ann_stream_twin"
    EpochAnn.build(spark, emb(1L to 20L), twin, k = 3)
    EpochAnn.append(spark, emb(21L to 30L), twin, batchId = 0L)
    EpochAnn.append(spark, emb(31L to 40L), twin, batchId = 1L)
    assert(rows(EpochAnn.load(spark, path))
      === rows(EpochAnn.load(spark, twin)))
  }
}
