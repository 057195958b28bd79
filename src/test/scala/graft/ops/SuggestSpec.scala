package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Deletion-neighborhood spell-correction pins: the SymSpell candidate
  * set must be COMPLETE for edit distance ≤ 1 (index result ≡ brute
  * levenshtein over the whole dictionary — the property the registry
  * oracle also hashes), the two deletion-key rules (Scala request side,
  * SQL index side) must agree, and the delkey lookup must reach the scan
  * as a pushed filter. */
class SuggestSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** The current generation roots of the saved dictionaries. */
  private def gen1 =
    EpochSuggest.currentGen(spark, Suggest.savedSuggestPath(spark, sf))
  private def gen2 =
    EpochSuggest.currentGen(spark, Suggest.savedSuggest2Path(spark, sf))

  test("delkey lookup is a pushed In filter") {
    val path = gen1
    val plan = spark.read.parquet(s"$path/delnbr")
      .where(col("delkey").isin("a", "b"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(delkey"),
      plan)
  }

  test("over-threshold key batches fall back to the broadcast join " +
      "with identical answers (no giant In literal in the plan)") {
    val path = gen1
    // same probes, both sides of the switch: maxInPushdown = 0 forces
    // the broadcast-only path the delkey count would normally trigger
    // at > NearDup.MaxInPushdown keys
    val pushed = Suggest.suggestBatch(spark, path, Suggest.probeQueries)
    val fallback = Suggest.suggestBatch(spark, path,
      Suggest.probeQueries, maxInPushdown = 0)
    assert(pushed.collect().toSeq === fallback.collect().toSeq)
    // the fallback plan restricts via the broadcast join, not a pushed
    // In over the request keys
    val plan = fallback.queryExecution.executedPlan.toString
    assert(!plan.contains("In(delkey"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // distance-2 tier: same switch, same equality
    val path2 = gen2
    val p2 = Suggest.suggestBatch2(spark, path2, Seq("spqrk", "wind"))
    val f2 = Suggest.suggestBatch2(spark, path2, Seq("spqrk", "wind"),
      maxInPushdown = 0)
    assert(p2.collect().toSeq === f2.collect().toSeq)
  }

  test("distance-2 delete ≡ survivors rebuild, and a ledger-replayed " +
      "delete batch is a no-op") {
    val docs = graft.Tables.documents(spark, sf)
    val path = s"${graft.GraftSession.scratchDir}/suggest2_del_spec"
    val rebuilt = s"${graft.GraftSession.scratchDir}/suggest2_del_ref"
    EpochSuggest.create(spark, docs, path, Suggest.Distance2)
    val doomed = docs.where(col("doc_id") % 6 === 1)
      .select("doc_id", "text")
    EpochSuggest.delete(spark, doomed, path, batchId = 9L)
    EpochSuggest.create(spark,
      docs.where(col("doc_id") % 6 =!= 1), rebuilt, Suggest.Distance2)
    def rows(p: String) =
      spark.read.parquet(s"${EpochSuggest.currentGen(spark, p)}/delnbr2")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val after = rows(path)
    assert(after === rows(rebuilt))
    // replay with the SAME batch id and a poison frame: the ledger
    // skips the merge before the frame is evaluated — no epoch commits
    val epochs = Epoch.committedEpochs(spark, path)
    EpochSuggest.delete(spark, docs.select("doc_id", "text"), path,
      batchId = 9L)
    assert(Epoch.committedEpochs(spark, path) === epochs)
    assert(rows(path) === after)
    // served output over the deleted layout ≡ over the rebuild
    def served(p: String) = Suggest.suggestBatch2(spark,
      EpochSuggest.currentGen(spark, p), Seq("spqrk", "wind"))
      .collect().toSeq
    assert(served(path) === served(rebuilt))
  }

  test("index suggestion ≡ brute-force levenshtein over the dictionary") {
    val path = gen1
    val dict = graft.Tables.documents(spark, sf)
      .where(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // every dictionary term doubles as a probe: self-match at distance 0
    // plus whatever distance-1 neighbors exist — brute truth per probe
    val probes = dict.map(_._1).toSeq ++ Seq("spqrk", "nosuchterm")
    val served = Suggest.suggestBatch(spark, path, probes, k = 100)
      .collect()
      .map(r => (r.getString(0), r.getString(2)))
      .toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val truth = (for {
      q <- probes
      (t, _) <- dict if lev(q, t) <= 1
    } yield (q, t)).toSet
    assert(served === truth)
  }

  test("the Scala and SQL deletion-key rules agree on every term") {
    val path = gen1
    val indexed = spark.read.parquet(s"$path/delnbr")
      .groupBy("term").agg(sort_array(collect_set(col("delkey")))
        .as("keys"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    indexed.foreach { case (term, keys) =>
      assert(keys === Suggest.delNeighborhood(term).distinct.sorted,
        s"delkey mismatch for $term")
    }
  }

  test("distance-2 index ≡ brute levenshtein ≤ 2 over the dictionary") {
    val path = gen2
    val dict = graft.Tables.documents(spark, sf)
      .where(col("text").isNotNull)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      .collect().map(r => r.getString(0))
    val probes = dict.toSeq ++ Seq("spxxk", "wind", "nosuchterm")
    val served = Suggest.suggestBatch2(spark, path, probes, k = 1000)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val truth = (for {
      q <- probes; t <- dict if lev(q, t) <= 2
    } yield (q, t)).toSet
    assert(served === truth)
  }

  test("the Scala and SQL depth-2 deletion-key rules agree") {
    val path = gen2
    val indexed = spark.read.parquet(s"$path/delnbr2")
      .groupBy("term")
      .agg(sort_array(collect_set(col("delkey"))).as("keys"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    indexed.foreach { case (term, keys) =>
      assert(keys === Suggest.delNeighborhood2(term).sorted,
        s"depth-2 delkey mismatch for $term")
    }
  }

  test("append ≡ rebuild: grown index serves identical suggestions") {
    def served(path: String) =
      Suggest.suggestBatch(spark, EpochSuggest.currentGen(spark, path),
          Suggest.probeQueries)
        .collect()
        .map(r => (r.getString(0), r.getAs[Long]("rnk"), r.getString(2),
          r.getAs[Long]("df"))).sortBy(t => (t._1, t._2)).toSeq
    assert(served(Suggest.savedAppendPath(spark, sf)) ===
      served(Suggest.savedSuggestPath(spark, sf)))
    // an empty batch mutates nothing: no generation commits
    import spark.implicits._
    val path = Suggest.savedAppendPath(spark, sf)
    val epochs = Epoch.committedEpochs(spark, path)
    EpochSuggest.append(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), path,
      batchId = 2L)
    assert(Epoch.committedEpochs(spark, path) === epochs)
  }

  test("completion prefix is pushed as StringStartsWith on delkey") {
    val path = gen1
    val plan = spark.read.parquet(s"$path/delnbr")
      .where(col("delkey").startsWith("s") &&
        col("delkey") === col("term"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith(delkey"), plan)
  }

  test("a no-neighbor query contributes no rows") {
    val path = gen1
    assert(Suggest.suggestBatch(spark, path, Seq("zzz")).count() === 0L)
  }
}
