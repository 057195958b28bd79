package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Product-quantization pins: ADC + exact-rerank must reduce to
  * brute force when the shortlist covers the corpus (the rerank is
  * exact, so only shortlist membership can lose a neighbor), encoding
  * must be deterministic across invocations, and the code arrays must
  * carry exactly m small codes. */
class ProductQuantSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, sf)
  private lazy val n = emb.count().toInt

  test("full-shortlist PQ search equals brute-force top-k") {
    val index = ProductQuant.build(emb, m = 4, codes = 16)
    val pq = ProductQuant.search(index, probeId = 0, topK = 5, shortlist = n)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
      .sortBy(_._1)
    // brute force via the simTopk registry entry on the same frame
    val brute = graft.SparkEntry.registry.find(_.name == "sim_topk").get
      .fn(spark, sf)
      .collect().map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("neighbor_id")))
      .sortBy(_._1)
    assert(pq === brute)
  }

  test("encoding is deterministic and carries m codes in range") {
    val a = ProductQuant.build(emb, m = 4, codes = 16)
    val b = ProductQuant.build(emb, m = 4, codes = 16)
    assert(a.books === b.books) // same seeds, same Lloyd path
    val codes = a.encoded.select(col("vec_id"), col("codes")).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).sortBy(_._1)
    val codes2 = b.encoded.select(col("vec_id"), col("codes")).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq)).sortBy(_._1)
    assert(codes === codes2)
    assert(codes.forall { case (_, cs) =>
      cs.length == 4 && cs.forall(c => c >= 0 && c < 16) })
  }

  test("standard shortlist keeps recall@5 >= 0.6 on the probe") {
    val index = ProductQuant.build(emb, m = 4, codes = 16)
    val pq = ProductQuant.search(index, probeId = 0, topK = 5, shortlist = 50)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    val brute = graft.SparkEntry.registry.find(_.name == "sim_topk").get
      .fn(spark, sf)
      .collect().map(_.getAs[Long]("neighbor_id")).toSet
    assert((pq & brute).size >= 3, s"recall too low: ${(pq & brute).size}/5")
  }
}
