package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins for the statistics-only scan (`agg_pushdown`): the V2 parquet
  * scan must actually carry the pushed aggregates (otherwise the query
  * silently degrades to a full column scan and the 100 TB metadata-pass
  * claim is false), the child-session conf must not leak into the
  * parent session, the child session is built once per parent, and the
  * pushed result must equal the row-scan recompute. */
class AggPushdownSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.01"

  test("scan carries PushedAggregation for COUNT/MIN/MAX") {
    val plan = graft.SparkEntry.queries("agg_pushdown")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"), plan)
    assert(plan.contains("COUNT(*)") && plan.contains("MIN(o_orderkey)")
      && plan.contains("MAX(o_totalprice)"), plan)
  }

  test("pushed result equals the row-scan recompute; conf does not leak") {
    val pushed = graft.SparkEntry.queries("agg_pushdown")(spark, sf)
      .collect().head
    val plain = graft.Tables.orders(spark, sf)
      .agg(count(lit(1)), min(col("o_orderkey")), max(col("o_orderkey")),
        min(col("o_totalprice")), max(col("o_totalprice")))
      .collect().head
    assert(pushed.toSeq === plain.toSeq)
    // the PARENT session still has its defaults — the child-session
    // overrides must not have mutated it
    assert(spark.conf.get("spark.sql.parquet.aggregatePushdown") === "false")
  }

  test("two calls on one parent session share one child session") {
    val a = graft.SparkEntry.queries("agg_pushdown")(spark, sf)
    val b = graft.SparkEntry.queries("agg_pushdown")(spark, sf)
    assert(a.sparkSession eq b.sparkSession)
    assert(!(a.sparkSession eq spark))
  }
}
