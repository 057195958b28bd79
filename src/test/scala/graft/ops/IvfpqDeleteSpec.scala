package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** DELETE pins for the compressed serving index: tombstoned ids must
  * vanish from both search phases, full probe + full shortlist over the
  * tombstoned index must EQUAL brute force over the survivors, and
  * compaction drops the rows physically without changing any served
  * answer. */
class IvfpqDeleteSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, sf)
  private val doomedPred = pmod(col("vec_id"), lit(5)) === 2

  private def freshPath(tag: String): String = {
    val path = s"${graft.GraftSession.scratchDir}/ivfpq_delete_$tag"
    EpochIvfpq.build(spark, emb, path, k = 4, m = 4, codes = 16)
    EpochIvfpq.delete(spark, emb.where(doomedPred).select("vec_id"), path,
      batchId = 1L)
    path
  }

  /** Rows physically present in the pinned `encoded` dirs (parquet
    * footer counts — tombstoned rows included). */
  private def rawEncoded(path: String): Long = {
    val m = Epoch.resolve(spark, path).get
    graft.Pq.rows(spark, m.dirs(path, "encoded"): _*)
  }

  test("full probe + full shortlist over the tombstoned index equals " +
      "brute force over the survivors") {
    val path = freshPath("main")
    val idx = EpochIvfpq.load(spark, path)
    val n = emb.count().toInt
    val full = Ivfpq.search(idx, probeId = 0, topK = 5,
      nProbe = idx.centroids.length, shortlist = n)
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    val brute = VectorQueries.bruteTopK(spark, sf, 5,
      Some(pmod(col("vec_id"), lit(5)) =!= 2))
      .orderBy("rnk").select("neighbor_id").collect()
      .map(_.getLong(0)).toSeq
    assert(full === brute)
    // no tombstoned id anywhere in the served rows
    val doomed = emb.where(doomedPred).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(idx.encoded.select("vec_id").collect().map(_.getLong(0))
      .toSet.intersect(doomed).isEmpty)
  }

  test("compact drops encoded rows physically and preserves the " +
      "served search") {
    val path = freshPath("compact")
    val before = Ivfpq.search(EpochIvfpq.load(spark, path), probeId = 0,
      topK = 5, nProbe = 2, shortlist = 40)
      .collect().map(_.toSeq).toSeq
    val rawBefore = rawEncoded(path)
    EpochIvfpq.compact(spark, path)
    assert(Epoch.resolve(spark, path).get
      .components("tombstones").isEmpty)
    assert(rawEncoded(path) < rawBefore)
    assert(Ivfpq.search(EpochIvfpq.load(spark, path), probeId = 0,
      topK = 5, nProbe = 2, shortlist = 40)
      .collect().map(_.toSeq).toSeq === before)
  }
}
