package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** IVF-PQ pins: the composed search must degenerate to brute force when
  * nothing is pruned (all cells probed, shortlist covers the corpus —
  * the re-rank is exact, so only pruning can lose a neighbor), the
  * save/load roundtrip must answer identically to the in-memory index,
  * and the loaded index's two phases must show their scale contracts in
  * the plan: cell partition pruning + a codes-only ADC scan. */
class IvfpqSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, sf)
  private lazy val n = emb.count().toInt

  private def topIds(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
      .sortBy(_._1).toSeq

  test("all-cells full-shortlist IVF-PQ search equals brute force") {
    val index = Ivfpq.build(emb, k = 8, m = 4, codes = 16)
    val full = Ivfpq.search(index, probeId = 0, topK = 5, nProbe = 8,
      shortlist = n)
    val brute = graft.SparkEntry.registry.find(_.name == "sim_topk").get
      .fn(spark, sf)
      .collect().map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("neighbor_id")))
      .sortBy(_._1).toSeq
    assert(topIds(full) === brute)
  }

  test("save/load roundtrip answers identically to the built index") {
    val index = Ivfpq.build(emb, k = 8, m = 4, codes = 16)
    val path = s"${graft.GraftSession.scratchDir}/ivfpq_spec"
    EpochIvfpq.build(spark, emb, path, k = 8, m = 4, codes = 16)
    val loaded = EpochIvfpq.load(spark, path)
    assert(loaded.books === index.books)
    assert(loaded.centroids.toSet === index.centroids.toSet)
    val a = topIds(Ivfpq.search(index, 0, topK = 5, nProbe = 3, shortlist = 50))
    val b = topIds(Ivfpq.search(loaded, 0, topK = 5, nProbe = 3, shortlist = 50))
    assert(a === b)
  }

  test("loaded-index search prunes cells and ADC-scans codes only") {
    val path = s"${graft.GraftSession.scratchDir}/ivfpq_spec_plan"
    EpochIvfpq.build(spark, emb, path, k = 8, m = 4, codes = 16)
    val loaded = EpochIvfpq.load(spark, path)
    val plan = Ivfpq.search(loaded, 0, topK = 5, nProbe = 3, shortlist = 50)
      .queryExecution.executedPlan.toString
    // the cell restriction reaches both scans as STATIC partition pruning
    assert(plan.contains("PartitionFilters: [cell"), plan)
    // the ADC phase's scan must NOT read the embedding column — one scan
    // reads (vec_id, codes) [phase 1], the other (vec_id, embedding)
    // [phase 2 re-rank]; find phase 1's ReadSchema
    val readSchemas = "ReadSchema: [^\n]+".r.findAllIn(plan).toSeq
    assert(readSchemas.exists(s =>
      s.contains("codes") && !s.contains("embedding")),
      s"no codes-only scan in:\n${readSchemas.mkString("\n")}")
  }

  test("full-probe full-shortlist filtered search equals filtered brute") {
    val index = Ivfpq.build(emb, k = 8, m = 4, codes = 16)
    val pred = pmod(col("vec_id"), lit(3)) === 0
    val filtered = Ivfpq.search(index, probeId = 0, topK = 10, nProbe = 8,
        shortlist = n, candidateFilter = Some(pred))
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    val probe = emb.filter(col("vec_id") === 0)
      .select(transform(col("embedding"), _.cast("double")))
      .head().getSeq[Double](0).toSeq
    val pnorm = math.sqrt(probe.map(x => x * x).sum)
    val litProbe = array(probe.map(lit): _*)
    val brute = emb.filter(col("vec_id") =!= 0).filter(pred)
      .select(col("vec_id"),
        (aggregate(zip_with(col("embedding"), litProbe,
          (a, b) => a.cast("double") * b), lit(0.0), _ + _) /
          (sqrt(aggregate(transform(col("embedding"),
            x => x.cast("double") * x.cast("double")), lit(0.0), _ + _))
            * lit(pnorm))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10).select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(filtered === brute)
  }

  test("selective filters still return k matching results from ADC") {
    // 1-in-50 predicate: the unfiltered shortlist would contain almost
    // none of these ids — post-filtering would return ~0 rows
    val index = Ivfpq.build(emb, k = 8, m = 4, codes = 16)
    val pred = pmod(col("vec_id"), lit(50)) === 7
    val out = Ivfpq.search(index, probeId = 0, topK = 5, nProbe = 8,
        shortlist = n, candidateFilter = Some(pred))
      .select("neighbor_id").collect().map(_.getLong(0)).toSeq
    assert(out.size === 5)
    out.foreach(id => assert(id % 50 === 7, s"non-matching id $id"))
  }
}
