package graft

import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Physical-plan regression guards (SURVEY §4: "rely on defaults; verify
  * with explain() in tests"). These are the scale properties the engine
  * depends on at 100 TB — if a refactor breaks pushdown or flips a
  * broadcast into a shuffle, this fails before any benchmark does. */
class PlanSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** AQE's final plan after a run: where a shape is decided from measured
    * stage sizes (the final sort, `graft.plans.FinalSort`), only the
    * executed plan shows it. */
  private def executed(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan
  }

  private def shuffles(p: SparkPlan): Int =
    collect(p) { case e: ShuffleExchangeLike => e }.size

  test("filter_pred pushes every predicate into the parquet scan") {
    val p = plan("filter_pred")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("In(l_linestatus"), p)
  }

  test("q1_pricing prunes the scan to referenced columns only") {
    val p = plan("q1_pricing")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_partkey"), readSchema)
    assert(!readSchema.contains("l_tax"), readSchema)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }

  test("dimension joins broadcast — the fact side never shuffles") {
    for (q <- Seq("join_broadcast", "join_star")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q: $p")
      assert(!p.contains("SortMergeJoin"), s"$q unexpectedly sort-merges")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("q5: all four dims broadcast, filters reach the scans, no cartesian") {
    val p = plan("q5_local_supplier")
    // count, don't just detect: one BroadcastHashJoin per dim branch
    // (customer, supplier, nation, region) — a single surviving BHJ
    // must not mask three regressed SortMergeJoins
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(bhj >= 4, s"expected >= 4 broadcast joins, got $bhj:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the region filter is applied dim-side, never against the fact rows
    assert(p.contains("EqualTo(r_name,ASIA)") || p.contains("r_name = ASIA")
      || p.contains("(r_name#"), p)
  }

  test("sample_exact_k prunes per group below the shuffle") {
    assert(plan("sample_exact_k").contains("WindowGroupLimit"))
  }

  test("global top-k compiles to TakeOrderedAndProject, not a full sort") {
    assert(plan("topk").contains("TakeOrderedAndProject"))
  }

  test("offset pagination bounds the page buffer before its window") {
    // the table must reach the row_number only through the distributed
    // top-(offset+pageSize) — TakeOrdered feeds the window, so the
    // single-partition window sees ≤40 rows, never the table
    val p = plan("page_offset")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.indexOf("TakeOrderedAndProject") > p.indexOf("Window"), p)
  }

  test("grouped top-k pushes WindowGroupLimit below the shuffle") {
    assert(plan("topk_group").contains("WindowGroupLimit"))
  }

  test("partial (map-side) aggregation precedes the shuffle in group-bys") {
    val p = plan("agg_group")
    // two HashAggregate nodes (partial + final) around one Exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("minhash LSH candidates come from an equi-join, not a cross join") {
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("embedding dedup candidates come from the bucket equi-join") {
    val p = plan("dedup_embed")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("correlated scalar subquery decorrelates into aggregate + join") {
    val p = plan("subquery_corr")
    // no per-row subquery survives optimization
    assert(!p.toLowerCase.contains("scalarsubquery"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("as-of join is one exchange, no range-join nested loop") {
    val p = plan("join_asof")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // exactly two exchanges: hash by user for the window + range for the
    // final presentation sort — the as-of logic itself shuffles once
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size === 2, p)
  }

  test("decontaminate broadcasts the benchmark shingle set") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      s"eval side must broadcast, not shuffle the corpus: $p")
  }

  test("stream_join is a keyed join with a range filter — never cartesian") {
    val p = plan("stream_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("join_range deliberately nested-loops over the broadcast band dim") {
    // the INTENDED plan for a handful of bands: fact streams once past
    // the broadcast literals; a shuffle here would be a regression
    val p = plan("join_range")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tfidf joins document frequencies broadcast-style") {
    val p = plan("text_tfidf")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("simhash hamming candidates come from the band equi-join") {
    val p = plan("dedup_simhash_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sample_stratified's predicate reaches the scan — zero exchanges") {
    val p = plan("sample_stratified")
    // global orderBy adds its range exchange; nothing else may shuffle
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p)
  }

  test("batched top-k prunes per probe below the shuffle") {
    val p = plan("sim_topk_batch")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"probe batch must broadcast: $p")
  }

  test("pivot with declared values reads the data once — no discovery job") {
    val p = plan("agg_pivot")
    // one scan; the two-level pivot aggregation (group by (day,type),
    // then pivot-first per day) is plan-internal, not an extra data pass
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size === 1, p)
    val fin = executed("agg_pivot")
    assert(shuffles(fin) <= 3, fin)
  }

  test("agg_approx_distinct plans no Expand — the distinct pre-agg form") {
    // mixing countDistinct with a non-distinct agg in one groupBy makes
    // Catalyst plan an Expand (2x every input row, 3x runtime at sf0.1);
    // the query avoids it by pre-aggregating distinct pairs, so both
    // counts run Expand-free and map-side-combinable
    val p = plan("agg_approx_distinct")
    assert(!p.contains("Expand"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p) // 2x partial+final
  }

  test("amend_latest: one agg shuffle + one window shuffle, no cartesian") {
    val p = plan("amend_latest")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p) // latestAmendment's declared-key window
    // exchanges: pre-agg keys, window keys, and the final orderBy range
    // partitioning — anything beyond that means a lost co-partitioning
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 3, p)
  }

  test("amend_latest_skew: salted agg + broadcast join-back, no window") {
    val p = plan("amend_latest_skew")
    // the whole point: the 10⁴-amendment hot key must never funnel
    // through a single task — no per-key window sort buffer at all
    assert(!p.contains(" Window "), p)
    assert(!p.contains("CartesianProduct"), p)
    // phase 1 of the salted aggregate exchanges on (keys, __salt), so
    // the hot key splits across 8 partial aggregates
    assert(p.contains("__salt"), p)
    // the winners frame joins back as a broadcast — the amended side
    // (the big side at scale) never shuffles for the join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("registration_latest: scan-fused decode, group-limited window") {
    val p = plan("registration_latest")
    assert(!p.contains("CartesianProduct"), p)
    // the registry decode is a constant-folded CASE, not a join
    assert(!p.contains("SortMergeJoin"), p)
    // rn == 1 latest-amendment compiles to WindowGroupLimit — losing
    // amendments prune per-partition before the window buffer
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("neardup_filter: keep-first is a group-limit on one band-key shuffle") {
    val p = plan("neardup_filter")
    assert(!p.contains("CartesianProduct"), p)
    // rn == 1 on a row_number window must compile to WindowGroupLimit
    // (per-partition early pruning) — at 100 TB the non-survivors never
    // reach the window buffer
    assert(p.contains("WindowGroupLimit"), p)
    // one hash exchange on band_key; the null-text branch is scan-only
    // and the final orderBy is range partitioning
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("filer_type_asof: one filer_id exchange, no range-join fanout") {
    val p = plan("filer_type_asof")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the point-in-time resolution is the union+running-max shape:
    // dimension and facts meet in ONE hashpartitioning exchange on
    // filer_id (the final orderBy is range partitioning); a second hash
    // exchange or a join node would mean the fan-out-then-prune range
    // join crept back in
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("decode_registry2 broadcasts the codes dimension") {
    val p = plan("decode_registry2")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("lobbying_chg: both windows share one filer_id exchange") {
    val p = plan("lobbying_chg")
    assert(!p.contains("CartesianProduct"), p)
    // lag(change_no-ordered) and max(unordered) both partition on
    // filer_id — the planner must reuse a single hash exchange; a
    // second one means the window specs stopped aligning
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p)
  }

  test("heavy_hitters reuses the vocab exchange; no one-partition window") {
    val df = SparkEntry.queries("heavy_hitters")(spark, sf)
    // no Window node at all: the grand total is a 1-row agg broadcast
    // back onto the vocab, so nothing funnels |vocab| rows into a
    // single partition
    val init = df.queryExecution.explainString(
      ExplainMode.fromString("formatted"))
    assert(!init.contains("Window"), init)
    // collect() (not a writer, which plans a separate QueryExecution)
    // so THIS df's adaptive plan finalizes and exposes runtime reuse
    assert(df.collect().nonEmpty)
    // the total branch must serve from the SAME shuffle the filter
    // branch built — one corpus pass, one vocab exchange, reused
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("ReusedExchange"), fin)
  }
}
