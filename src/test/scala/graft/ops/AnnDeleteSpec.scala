package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** DELETE-lifecycle pins for the persisted IVF index: tombstoned ids
  * must vanish from every served plan without the cell directories
  * being touched; full probing over the tombstoned index must EQUAL
  * brute force over the survivors (cosine carries no cross-document
  * state, so delete ≡ rebuild-with-these-centroids exactly);
  * re-delivered/unknown batches are no-ops; and compaction drops the
  * rows physically, clears the tombstones, and changes no served
  * answer. */
class AnnDeleteSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, sf)
  private val doomedPred = pmod(col("vec_id"), lit(5)) === 2

  private def freshDeletedPath(tag: String): String = {
    val path = s"${graft.GraftSession.scratchDir}/ann_delete_$tag"
    EpochAnn.build(spark, emb, path, k = 4)
    EpochAnn.delete(spark, emb.where(doomedPred).select("vec_id"), path,
      batchId = 1L)
    path
  }

  /** Rows physically present in the pinned `assigned` dirs (parquet
    * footer counts — tombstoned rows included). */
  private def rawAssigned(path: String): Long = {
    val m = Epoch.resolve(spark, path).get
    graft.Pq.rows(spark, m.dirs(path, "assigned"): _*)
  }

  test("tombstoned ids vanish from load; full probing equals brute " +
      "force over the survivors") {
    val path = freshDeletedPath("main")
    val idx = EpochAnn.load(spark, path)
    val served = idx.assigned.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    val doomed = emb.where(doomedPred).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(served.intersect(doomed).isEmpty)
    assert(served.size === emb.count() - doomed.size)
    // exactness: probing EVERY cell reproduces the brute-force top-5
    // over the survivors — delete ≡ rebuild with these centroids
    val full = Ann.query(idx, probeId = 0, topK = 5, nProbe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    val brute = VectorQueries.bruteTopK(spark, sf, 5,
      Some(pmod(col("vec_id"), lit(5)) =!= 2))
      .orderBy("rnk").select("neighbor_id").collect()
      .map(_.getLong(0)).toSeq
    assert(full === brute)
    // the cell restriction still prunes below the tombstone anti-join:
    // the parquet scan itself carries the partition filter
    val plan = idx.assigned.filter(col("cell").isin(0L, 1L))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      plan)
  }

  test("re-delivered and unknown-id delete batches are no-ops") {
    val path = freshDeletedPath("redeliver")
    def tombRows() = {
      val m = Epoch.resolve(spark, path).get
      Epoch.read(spark, path, m, "tombstones").get
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    }
    val t1 = tombRows()
    val epoch = Epoch.resolve(spark, path).get.epoch
    // re-delivered under a NEW batch id: every id is already
    // tombstoned, so nothing commits
    EpochAnn.delete(spark, emb.where(doomedPred).select("vec_id"), path,
      batchId = 2L)
    assert(tombRows() === t1)
    import spark.implicits._
    EpochAnn.delete(spark, Seq(999999L, 888888L).toDF("vec_id"), path,
      batchId = 3L)
    assert(Epoch.resolve(spark, path).get.epoch === epoch)
    // unknown ids are harmless: the SERVED id set is unchanged
    val served = EpochAnn.load(spark, path).assigned.select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val doomed = emb.where(doomedPred).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(served.intersect(doomed).isEmpty)
    assert(served.size === emb.count() - doomed.size)
  }

  test("append refuses a batch that re-adds a tombstoned id until " +
      "compact folds the delete in") {
    val path = freshDeletedPath("readd")
    val readd = emb.where(col("vec_id") === 2L) // 2 % 5 == 2: doomed
    val e = intercept[IllegalArgumentException] {
      EpochAnn.append(spark, readd, path, batchId = 2L)
    }
    assert(e.getMessage.contains("tombstoned"))
    EpochAnn.compact(spark, path)
    EpochAnn.append(spark, readd, path, batchId = 2L)
    assert(EpochAnn.load(spark, path).assigned
      .filter(col("vec_id") === 2L).count() === 1L)
  }

  test("compact drops rows physically, clears the segment, and " +
      "preserves every served answer") {
    val path = freshDeletedPath("compact")
    val beforeRows = EpochAnn.load(spark, path).assigned
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val beforeQuery = Ann.query(EpochAnn.load(spark, path),
      probeId = 0, topK = 5, nProbe = 3)
      .collect().map(_.toSeq).toSeq
    val rawBefore = rawAssigned(path)
    EpochAnn.compact(spark, path)
    assert(Epoch.resolve(spark, path).get
      .components("tombstones").isEmpty)
    val rawAfter = rawAssigned(path)
    assert(rawAfter < rawBefore, "compact removed no rows")
    assert(rawAfter === beforeRows.size.toLong)
    val afterRows = EpochAnn.load(spark, path).assigned
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(afterRows === beforeRows)
    assert(Ann.query(EpochAnn.load(spark, path), probeId = 0, topK = 5,
      nProbe = 3).collect().map(_.toSeq).toSeq === beforeQuery)
    // compact with no tombstones changes nothing (idempotent re-run)
    EpochAnn.compact(spark, path)
    assert(EpochAnn.load(spark, path).assigned.count() === afterRows.size)
    assert(rawAssigned(path) === rawAfter)
  }
}
