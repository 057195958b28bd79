package graft.plans

import java.util.concurrent.atomic.AtomicInteger

import graft.{SparkEntry, SparkTestBase}
import graft.ops.Fan
import org.apache.spark.graftspec.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project,
  Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftspec.Frames
import org.apache.spark.sql.util.QueryExecutionListener

/** [[FinalSort]] on executed plans: the single-partition final sort where
  * the final stage's input is small and coalescible, the range sort
  * wherever a stage does real work. */
class FinalSortSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  /** Executed plan and jobs started of `df` through the noop sink. */
  private def run(df: DataFrame): (SparkPlan, Int) = {
    val jobs = new AtomicInteger()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    @volatile var executed: Option[SparkPlan] = None
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed = Some(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    Bus.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      df.write.format("noop").mode("overwrite").save()
      Bus.drain(sc)
      (executed.get, jobs.get)
    } finally {
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(jobListener)
    }
  }

  private def rangeExchanges(plan: SparkPlan): Seq[ShuffleExchangeLike] =
    collect(plan) {
      case e: ShuffleExchangeLike
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }

  private def globalSorts(plan: SparkPlan): Seq[SortExec] =
    collect(plan) { case s: SortExec if s.global => s }

  /** `df` with its final global sort written the way the engine wrote it
    * by hand before [[FinalSort]]: `coalesce(1).sortWithinPartitions`. */
  private def handShaped(df: DataFrame): DataFrame = {
    def shape(p: LogicalPlan): LogicalPlan = p match {
      case Sort(order, true, child, _) =>
        Sort(order, global = false, Repartition(1, shuffle = false, child))
      case pr: Project => pr.withNewChildren(Seq(shape(pr.child)))
      case other => fail(s"no final global sort:\n$other")
    }
    Frames.ofRows(spark, shape(df.queryExecution.analyzed))
  }

  test("small bounded results sort in one task, with the hand shape's jobs") {
    for (name <- Seq("agg_group", "funnel", "profile_stats", "win_rank",
        "topk_group", "schema_catalog", "mv_refresh_delete")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val (plan, jobs) = run(df)
      assert(rangeExchanges(plan).isEmpty, s"$name:\n$plan")
      val (handPlan, handJobs) = run(handShaped(df))
      assert(rangeExchanges(handPlan).isEmpty, s"$name:\n$handPlan")
      assert(jobs === handJobs, s"$name:\n$plan\n$handPlan")
    }
  }

  test("heavy_hitters over a large vocabulary keeps its parallel reduce") {
    import spark.implicits._
    // 120k distinct hex tokens: the vocab shuffle the final stage reads
    // is several MB, past coalescePartitions.minPartitionSize (1 MB)
    val dir = java.nio.file.Files.createTempDirectory("finalsort").toString
    spark.range(120000L)
      .select((col("id") / 200).cast("long").as("doc_id"),
        substring(sha2(col("id").cast("string"), 256), 1, 16).as("token"))
      // 1200 of 121200 tokens: above the 1/200 heavy-hitter share
      .union(spark.range(1200L).select((col("id") % 600).as("doc_id"),
        lit("common").as("token")))
      .groupBy("doc_id").agg(concat_ws(" ", collect_list("token")).as("text"))
      .select($"doc_id", $"text", lit("en").as("lang"), lit("s").as("source"),
        length($"text").cast("long").as("n_chars"))
      .repartition(4)
      .write.parquet(s"$dir/documents.parquet")
    val df = SparkEntry.queries("heavy_hitters")(spark, dir)
    val (plan, _) = run(df)
    val range = rangeExchanges(plan)
    assert(range.size === 1, plan)
    // the range exchange's map side is the vocab reduce + filter stage
    assert(range.head.numMappers > 1, plan)
    assert(df.collect().map(_.getString(0)).toSeq === Seq("common"))
  }

  test("a fan-out's stage keeps its parallelism under a final sort") {
    val n = spark.sparkContext.defaultParallelism
    assume(n > 2, "Fan.out is the identity at parallelism <= 2")
    val lines = graft.Tables.lineitem(spark, sf)
    val df = Fan.out(lines, col("l_orderkey"))
      // per-row work the fan-out exists to spread
      .select(col("l_orderkey"), col("l_linenumber"),
        (1 to 8).map(i => sha2(concat(col("l_orderkey"), col("l_linenumber"),
          lit(i)), 512))
          .reduce((a, b) => sha2(concat(a, b), 256)).as("h"))
      .orderBy(col("h"))
    val (plan, _) = run(df)
    val range = rangeExchanges(plan)
    assert(range.size === 1, plan)
    assert(range.head.numMappers === n, plan)
  }

  test("rewritten sorts return the rows and order of a session without it") {
    val plain = Frames.withoutExtensions(spark)
    for (name <- Seq("agg_group", "win_rank", "topk_group", "schema_catalog",
        "profile_stats", "agg_pivot")) {
      val ref = SparkEntry.queries(name)(plain, sf)
      val want: Seq[Row] = ref.collect().toSeq
      assert(globalSorts(ref.queryExecution.executedPlan).nonEmpty,
        s"$name: the reference must keep its global sort")
      val df = SparkEntry.queries(name)(spark, sf)
      val got: Seq[Row] = df.collect().toSeq
      val plan = df.queryExecution.executedPlan
      assert(globalSorts(plan).isEmpty && rangeExchanges(plan).isEmpty, name)
      assert(got === want, name)
    }
  }
}
