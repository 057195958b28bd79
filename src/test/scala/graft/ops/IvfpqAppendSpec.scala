package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Incremental-append pins for the COMPRESSED index
  * (`EpochIvfpq.append`, `sim_ivfpq_append`): appending against the
  * frozen coarse centroids AND frozen product codebooks must produce cells
  * and PQ codes bit-identical to a build-time encode of the same rows, must
  * create no new cell directories, must fail fast on schema drift, and a
  * full-probe full-shortlist search over the merged layout must equal brute
  * force over the whole corpus (the exact re-rank degeneracy holds regardless
  * of how stale the quantizers are). */
class IvfpqAppendSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, sf)

  test("append equals build-time encode of the same rows under the " +
      "frozen quantizers") {
    val even = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val odd = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val path = s"${graft.GraftSession.scratchDir}/ivfpq_append_spec"
    EpochIvfpq.build(spark, even, path, k = 8, m = 4, codes = 16)
    val built = EpochIvfpq.load(spark, path)
    EpochIvfpq.append(spark, odd, path, batchId = 1L)
    val merged = EpochIvfpq.load(spark, path)
    assert(merged.centroids.toSet === built.centroids.toSet)
    assert(merged.books === built.books)
    // reference: encode the FULL corpus with the same frozen quantizers
    // through the build-side expression (assign + PqEncode)
    val ref = Ann.assign(emb, built.centroids, "vec_id", "embedding")
      .select(col("vec_id"), col("cell"),
        graft.functions.PqEncode.pqEncode(ProductQuant.unit(col("embedding")),
          built.books).as("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2).toSeq))
      .sortBy(_._1).toSeq
    val got = merged.encoded
      .select(col("vec_id"), col("cell").cast("long"), col("codes"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Int](2).toSeq))
      .sortBy(_._1).toSeq
    assert(got === ref)
    assert(got.length === emb.count())
    // no new cells
    val cells = merged.encoded.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf(built.centroids.map(_._1).toSet))
  }

  test("append rejects a batch whose schema mismatches the saved layout") {
    val path = s"${graft.GraftSession.scratchDir}/ivfpq_append_schema"
    EpochIvfpq.build(spark, emb.filter(col("vec_id") < 50), path, k = 4,
      m = 4, codes = 8)
    val epoch = Epoch.resolve(spark, path).get.epoch
    val doubled = emb.filter(col("vec_id") >= 50)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
    val e1 = intercept[IllegalArgumentException] {
      EpochIvfpq.append(spark, doubled, path, batchId = 1L)
    }
    assert(e1.getMessage.contains("does not match"))
    val misnamed = emb.filter(col("vec_id") >= 50)
      .select(col("vec_id"), col("embedding").as("emb"))
    val e2 = intercept[IllegalArgumentException] {
      EpochIvfpq.append(spark, misnamed, path, batchId = 2L)
    }
    assert(e2.getMessage.contains("no 'embedding' column"))
    // neither refused batch committed an epoch
    assert(Epoch.resolve(spark, path).get.epoch === epoch)
  }

  test("search on the appended layout keeps cell partition pruning and " +
      "the codes-only ADC scan") {
    val even = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val odd = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val path = s"${graft.GraftSession.scratchDir}/ivfpq_append_plan"
    EpochIvfpq.build(spark, even, path, k = 8, m = 4, codes = 16)
    EpochIvfpq.append(spark, odd, path, batchId = 1L)
    val plan = Ivfpq.search(EpochIvfpq.load(spark, path), probeId = 0,
      topK = 5, nProbe = 3, shortlist = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      plan)
    // the ADC phase's scan must read codes, never the raw embedding
    assert(plan.contains("ReadSchema") &&
      plan.split("ReadSchema").exists(seg =>
        seg.contains("codes") && !seg.takeWhile(_ != '\n')
          .contains("embedding")),
      plan)
  }

  test("full-probe full-shortlist search on the appended index equals " +
      "brute force over the whole corpus") {
    val even = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val odd = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val path = s"${graft.GraftSession.scratchDir}/ivfpq_append_probe"
    EpochIvfpq.build(spark, even, path, k = 8, m = 4, codes = 16)
    EpochIvfpq.append(spark, odd, path, batchId = 1L)
    val merged = EpochIvfpq.load(spark, path)
    val n = emb.count().toInt
    val got = Ivfpq.search(merged, probeId = 0, topK = 5, nProbe = 8,
      shortlist = n)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    val brute = graft.SparkEntry.queries("sim_topk")(spark, sf)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(got === brute)
  }
}
