package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** MV-rewrite pins: a covered rollup aggregate is re-planned onto the
  * view (the executed plan scans ONLY the view path) with results
  * identical to the pre-registration run; shapes the view cannot answer
  * — filters, uncovered aggregates, distinct — are left alone. Every
  * view is built and maintained through [[EpochMv]], so the
  * maintenance-algebra pins (delta merge, negated partials, recount,
  * refusal, null repair, replay) hold on manifest generations. */
class MatViewSpec extends SparkTestBase {

  private lazy val base = {
    val p = s"${graft.GraftSession.scratchDir}/mvspec_base"
    graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")
      .write.mode("overwrite").parquet(p)
    p
  }

  private def baseDf = spark.read.parquet(base)

  private def query = baseDf
    .groupBy(col("l_returnflag"))
    .agg(sum(col("l_quantity").cast(DecimalType(38, 2))).as("sum_qty"),
      count(lit(1)).as("n_rows"))

  private def rows = query.collect()
    .map(r => (r.getString(0), r.getDecimal(1).toPlainString,
      r.getLong(2))).sortBy(_._1).toSeq

  private val SumQty = MatView.AggSpec("sum", "l_quantity",
    Some(DecimalType(38, 2)), "sum_qty_p")
  private val Cnt = MatView.AggSpec("count", "", None, "cnt_p")

  /** The rollup view over `base`: generation 0, created once. */
  private lazy val mvDef = {
    val d = EpochMv.EpochMvDef(base,
      s"${graft.GraftSession.scratchDir}/mvspec_mv",
      Seq("l_returnflag", "l_linestatus"), Seq(SumQty, Cnt))
    EpochMv.create(spark, d)
    d
  }

  private def registerMv(): Unit = EpochMv.registerCurrent(spark, mvDef)

  /** A view's current generation, as collected rows. */
  private def viewOf(d: EpochMv.EpochMvDef) =
    spark.read.parquet(EpochMv.currentDef(spark, d).mvPath)

  test("covered rollup rewrites onto the view with identical results") {
    val truth = rows // pre-registration: scans the base
    val basePlanned = query.queryExecution.executedPlan.toString
    assert(basePlanned.contains("mvspec_base"))
    registerMv()
    try {
      val plan = query.queryExecution.executedPlan.toString
      assert(plan.contains("mvspec_mv"), plan)
      assert(!plan.contains("mvspec_base"), plan)
      assert(rows === truth)
    } finally MatView.deregister(base)
  }

  test("a GROUP-COLUMN filter serves from the view; a row-level one " +
      "does not") {
    registerMv()
    try {
      // predicate over a grouping column selects whole groups — the
      // view answers it, filter applied to the view rows
      val q = baseDf.where(col("l_returnflag") === "A")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
      assert(q.queryExecution.executedPlan.toString.contains("mvspec_mv"))
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      MatView.deregister(base)
      val truth = baseDf.where(col("l_returnflag") === "A")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got === truth)
    } finally MatView.deregister(base)
  }

  test("filters, uncovered aggs, and distinct block the rewrite") {
    registerMv()
    try {
      val filtered = baseDf.where(col("l_quantity") > 10)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity").cast(DecimalType(38, 2))).as("s"))
      assert(filtered.queryExecution.executedPlan.toString
        .contains("mvspec_base"))
      val uncovered = baseDf.groupBy(col("l_returnflag"))
        .agg(max(col("l_quantity")).as("m"))
      assert(uncovered.queryExecution.executedPlan.toString
        .contains("mvspec_base"))
      val distinct = baseDf.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("d"))
      assert(distinct.queryExecution.executedPlan.toString
        .contains("mvspec_base"))
      // a differently-cast sum is a DIFFERENT aggregate — not covered
      val otherCast = baseDf.groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("s"))
      assert(otherCast.queryExecution.executedPlan.toString
        .contains("mvspec_base"))
    } finally MatView.deregister(base)
  }

  test("refresh merges a delta algebraically and still serves rewrites") {
    val basePath = s"${graft.GraftSession.scratchDir}/mvspec_rbase"
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity", "l_returnflag", "l_linestatus")
    li.where(col("l_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(basePath)
    val d = EpochMv.EpochMvDef(basePath,
      s"${graft.GraftSession.scratchDir}/mvspec_rmv",
      Seq("l_returnflag", "l_linestatus"), Seq(SumQty, Cnt))
    EpochMv.create(spark, d)
    try {
      val delta = li.where(col("l_orderkey") % 2 === 1)
        .localCheckpoint(true)
      delta.write.mode("append").parquet(basePath)
      EpochMv.refresh(spark, d, delta, batchId = 1L)
      val q = spark.read.parquet(basePath)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity").cast(DecimalType(38, 2))).as("s"),
          count(lit(1)).as("n"))
      assert(q.queryExecution.executedPlan.toString.contains("mvspec_rmv"))
      val got = q.collect().map(r => (r.getString(0),
        r.getDecimal(1).toPlainString, r.getLong(2))).sortBy(_._1).toSeq
      MatView.deregister(basePath)
      val truth = spark.read.parquet(basePath)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity").cast(DecimalType(38, 2))).as("s"),
          count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0),
          r.getDecimal(1).toPlainString, r.getLong(2))).sortBy(_._1).toSeq
      assert(got === truth)
      // empty delta is a no-op: no generation, same partials
      EpochMv.registerCurrent(spark, d)
      val before = viewOf(d).collect()
        .map(_.toSeq).sortBy(_.mkString("|")).toSeq
      EpochMv.refresh(spark, d, li.limit(0), batchId = 2L)
      assert(graft.ops.Epoch.resolve(spark, d.layoutPath).get.epoch === 1L)
      assert(viewOf(d).collect()
        .map(_.toSeq).sortBy(_.mkString("|")).toSeq === before)
    } finally MatView.deregister(basePath)
  }

  test("streaming refresh: batches merge exactly-once, replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val basePath = s"${graft.GraftSession.scratchDir}/mvspec_sbase"
    Seq(("A", "O", 1.0), ("B", "F", 2.0))
      .toDF("l_returnflag", "l_linestatus", "l_quantity")
      .write.mode("overwrite").parquet(basePath)
    val d = EpochMv.EpochMvDef(basePath,
      s"${graft.GraftSession.scratchDir}/mvspec_smv",
      Seq("l_returnflag", "l_linestatus"), Seq(SumQty, Cnt))
    EpochMv.create(spark, d)
    try {
      val source = MemoryStream[(String, String, Double)]
      val q = graft.streaming.StreamRunner.mvRefreshEpochStream(d,
        source.toDF().toDF("l_returnflag", "l_linestatus",
          "l_quantity"))()
      source.addData(("A", "O", 10.0), ("C", "O", 5.0))
      q.processAllAvailable()
      source.addData(("A", "O", 100.0))
      q.processAllAvailable()
      q.stop()
      def cells = viewOf(d).collect()
        .map(r => (r.getString(0), r.getString(1),
          r.getDecimal(2).toPlainString, r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
      val after = cells
      assert(after === Seq(
        ("A", "O", "111.00", 3L), ("B", "F", "2.00", 1L),
        ("C", "O", "5.00", 1L)))
      // crash-replay of batch 0: same batch id → ledger key found, the
      // algebraic merge must NOT double-fire
      EpochMv.refresh(spark, d,
        Seq(("A", "O", 10.0), ("C", "O", 5.0))
          .toDF("l_returnflag", "l_linestatus", "l_quantity"),
        batchId = 0L)
      assert(cells === after)
      // a genuinely new batch id still applies
      EpochMv.refresh(spark, d,
        Seq(("B", "F", 1.0))
          .toDF("l_returnflag", "l_linestatus", "l_quantity"),
        batchId = 7L)
      assert(cells.find(_._1 == "B").get._3 === "3.00")
    } finally MatView.deregister(basePath)
  }

  test("multi-view selection: the coarsest covering view wins") {
    val basePath = s"${graft.GraftSession.scratchDir}/mvspec_mbase"
    val fine = s"${graft.GraftSession.scratchDir}/mvspec_mfine"
    val coarse = s"${graft.GraftSession.scratchDir}/mvspec_mcoarse"
    graft.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_quantity", "l_returnflag", "l_linestatus")
      .write.mode("overwrite").parquet(basePath)
    def buildView(path: String, groups: Seq[String]) = {
      val d = EpochMv.EpochMvDef(basePath, path, groups, Seq(
        MatView.AggSpec("count", "", None, "cnt_p")))
      EpochMv.create(spark, d)
      d
    }
    val fineMv = buildView(fine, Seq("l_returnflag", "l_linestatus"))
    val coarseMv = buildView(coarse, Seq("l_returnflag"))
    try {
      // a returnflag-only rollup is answerable by BOTH — the coarser
      // (fewer rows) view must be chosen
      def byFlag = spark.read.parquet(basePath)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      assert(byFlag.queryExecution.executedPlan.toString
        .contains("mvspec_mcoarse"))
      // the two-key query is only answerable by the fine view
      val byBoth = spark.read.parquet(basePath)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
      assert(byBoth.queryExecution.executedPlan.toString
        .contains("mvspec_mfine"))
      // each view refreshes as its own generation, and selection still
      // picks the coarsest after the flip
      import spark.implicits._
      val z = Seq((1.0, "Z", "Z")).toDF("l_quantity", "l_returnflag",
        "l_linestatus")
      Seq(fineMv, coarseMv).foreach(EpochMv.refresh(spark, _, z, 1L))
      assert(viewOf(coarseMv)
        .where(col("l_returnflag") === "Z").count() === 1L)
      assert(viewOf(fineMv)
        .where(col("l_returnflag") === "Z").count() === 1L)
      assert(byFlag.queryExecution.executedPlan.toString
        .contains("mvspec_mcoarse/g1/view"))
    } finally MatView.deregister(basePath)
  }

  test("a view whose layout root is a prefix of another's leaves the " +
      "other registered") {
    import spark.implicits._
    val basePath = s"${graft.GraftSession.scratchDir}/mvspec_pbase"
    Seq(("A", "O"), ("A", "F"), ("N", "O"))
      .toDF("l_returnflag", "l_linestatus")
      .write.mode("overwrite").parquet(basePath)
    def view(root: String, groups: Seq[String]) = EpochMv.EpochMvDef(
      basePath, s"${graft.GraftSession.scratchDir}/$root", groups,
      Seq(Cnt))
    val both = view("mvspec_pv2", Seq("l_returnflag", "l_linestatus"))
    val flag = view("mvspec_pv", Seq("l_returnflag"))
    EpochMv.create(spark, both)
    EpochMv.create(spark, flag)
    try {
      EpochMv.refresh(spark, flag,
        Seq(("Z", "Z")).toDF("l_returnflag", "l_linestatus"), 1L)
      val plan = spark.read.parquet(basePath)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("mvspec_pv2/g0/view"), plan)
    } finally MatView.deregister(basePath)
  }

  test("AVG and COUNT(col) rewrite from sum/count-col partials — " +
      "null-correct, including the all-null cell") {
    import spark.implicits._
    val basePath = s"${graft.GraftSession.scratchDir}/mvspec_abase"
    Seq(("A", Option(10.0)), ("A", Option.empty[Double]),
      ("A", Option(20.0)), ("B", Option.empty[Double]))
      .toDF("f", "q")
      .write.mode("overwrite").parquet(basePath)
    EpochMv.create(spark, EpochMv.EpochMvDef(basePath,
      s"${graft.GraftSession.scratchDir}/mvspec_amv", Seq("f"),
      Seq(MatView.AggSpec("sum", "q", None, "sum_p"),
        MatView.AggSpec("count", "q", None, "cntq_p"),
        MatView.AggSpec("count", "", None, "cnt_p"))))
    try {
      val q = spark.read.parquet(basePath).groupBy(col("f"))
        .agg(avg(col("q")).as("a"), count(col("q")).as("nv"),
          count(lit(1)).as("nr"))
      assert(q.queryExecution.executedPlan.toString.contains("mvspec_amv"))
      val got = q.collect()
        .map(r => (r.getString(0), Option(r.get(1)), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
      // AVG ignores nulls (A: (10+20)/2); the all-null cell is null avg
      // with COUNT(col) 0 but COUNT(*) 1 — the exact divergence a
      // COUNT(*) partial would get wrong
      assert(got === Seq(("A", Some(15.0), 2L, 3L),
        ("B", None, 0L, 1L)))
      MatView.deregister(basePath)
      val truth = spark.read.parquet(basePath).groupBy(col("f"))
        .agg(avg(col("q")).as("a"), count(col("q")).as("nv"),
          count(lit(1)).as("nr"))
        .collect()
        .map(r => (r.getString(0), Option(r.get(1)), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
      assert(got === truth)
    } finally MatView.deregister(basePath)
  }

  test("AVG does NOT rewrite without an uncast sum + COUNT(col) pair") {
    registerMv() // sum is decimal-cast, count is COUNT(*) only
    try {
      val q = baseDf.groupBy(col("l_returnflag"))
        .agg(avg(col("l_quantity")).as("a"))
      assert(q.queryExecution.executedPlan.toString
        .contains("mvspec_base"))
    } finally MatView.deregister(base)
  }

  test("delete refresh: negated partials, cell drop at count 0, " +
      "exactly-once ledger keys independent of the append family") {
    import spark.implicits._
    val basePath = s"${graft.GraftSession.scratchDir}/mvspec_dbase"
    Seq(("A", 1.0), ("A", 2.0), ("B", 5.0), ("C", 7.0))
      .toDF("f", "q")
      .write.mode("overwrite").parquet(basePath)
    val d = EpochMv.EpochMvDef(basePath,
      s"${graft.GraftSession.scratchDir}/mvspec_dmv", Seq("f"),
      Seq(MatView.AggSpec("sum", "q", Some(DecimalType(38, 2)), "sum_p"),
        MatView.AggSpec("count", "", None, "cnt_p")))
    EpochMv.create(spark, d)
    def cells = viewOf(d).collect()
      .map(r => (r.getString(0), r.getDecimal(1).toPlainString,
        r.getLong(2))).sortBy(_._1).toSeq
    try {
      // delete the WHOLE C cell plus one A row
      val doomed = Seq(("C", 7.0), ("A", 1.0)).toDF("f", "q")
      EpochMv.refreshDelete(spark, d, doomed, batchId = 3L)
      val after = cells
      // C's count reached 0 → the cell is GONE, not a zero row
      assert(after === Seq(("A", "2.00", 1L), ("B", "5.00", 1L)))
      // crash-replay of the same delete batch id: a mechanical no-op
      EpochMv.refreshDelete(spark, d, doomed, batchId = 3L)
      assert(cells === after)
      // the APPEND family's ledger keys are separate: batch id 3 on
      // the append side still applies
      EpochMv.refresh(spark, d, Seq(("B", 1.0)).toDF("f", "q"),
        batchId = 3L)
      assert(cells === Seq(("A", "2.00", 1L), ("B", "6.00", 2L)))
    } finally MatView.deregister(basePath)
  }

  test("delete on a min/max view takes the TARGETED RECOUNT: affected " +
      "cells re-extremize from surviving base rows, untouched cells " +
      "keep their exact bytes, emptied cells drop, replay is a no-op") {
    import spark.implicits._
    val basePath = s"${graft.GraftSession.scratchDir}/mvspec_rcbase"

    // A: three rows with a double sum partial whose value (0.1+0.2+7)
    // is NOT reproducible by any recomputation order-for-order — if
    // the untouched cell were recounted instead of passed through,
    // its bits could drift; B: the deleted extremum's runner-up must
    // come back; C: emptied entirely
    Seq(("A", 0.1), ("A", 0.2), ("A", 7.0),
      ("B", 5.0), ("B", 3.0), ("B", 9.0),
      ("C", 4.0))
      .toDF("f", "q")
      .write.mode("overwrite").parquet(basePath)
    val d = EpochMv.EpochMvDef(basePath,
      s"${graft.GraftSession.scratchDir}/mvspec_rcmv", Seq("f"),
      Seq(MatView.AggSpec("sum", "q", None, "sum_p"),
        MatView.AggSpec("count", "", None, "cnt_p"),
        MatView.AggSpec("min", "q", None, "min_p"),
        MatView.AggSpec("max", "q", None, "max_p")))
    EpochMv.create(spark, d)
    def cells = viewOf(d).collect()
      .map(r => (r.getString(0),
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
        r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(_._1).toSeq
    try {
      val aBits = cells.find(_._1 == "A").get._2
      // delete B's max (9.0) and all of C — before the base shrinks
      // (the takedown ordering contract)
      val doomed = Seq(("B", 9.0), ("C", 4.0)).toDF("f", "q")
      EpochMv.refreshDelete(spark, d, doomed, batchId = 11L)
      val after = cells
      assert(after.map(_._1) === Seq("A", "B")) // C dropped
      // untouched A: the double partial's EXACT bits survived — proof
      // the cell passed through, not recomputed
      assert(after.find(_._1 == "A").get._2 === aBits)
      // recounted B: the runner-up extremum is back
      val b = after.find(_._1 == "B").get
      assert(b._3 === 2L && b._4 === 3.0 && b._5 === 5.0)
      // same-batch-id replay: ledger no-op
      EpochMv.refreshDelete(spark, d, doomed, batchId = 11L)
      assert(cells === after)
      // the rewrite serves the recounted view ≡ survivors rebuild
      val served = spark.read.parquet(basePath)
        .where(!(col("f") === "C") &&
          !(col("f") === "B" && col("q") === 9.0))
        .groupBy(col("f"))
        .agg(min(col("q")).as("mn"), max(col("q")).as("mx"))
        .collect().map(r => (r.getString(0), r.getDouble(1),
          r.getDouble(2))).sortBy(_._1).toSeq
      assert(served === Seq(("A", 0.1, 7.0), ("B", 3.0, 5.0)))
    } finally MatView.deregister(basePath)
  }

  test("delete refresh REFUSES count-star-less views by name") {
    import spark.implicits._
    val basePath = s"${graft.GraftSession.scratchDir}/mvspec_refbase"
    Seq(("A", 1.0)).toDF("f", "q")
      .write.mode("overwrite").parquet(basePath)
    // sum-only view: no cell-liveness signal → refused
    val d = EpochMv.EpochMvDef(basePath,
      s"${graft.GraftSession.scratchDir}/mvspec_refmv", Seq("f"),
      Seq(MatView.AggSpec("sum", "q", None, "sum_p")))
    EpochMv.create(spark, d)
    try {
      val ex = intercept[IllegalArgumentException] {
        EpochMv.refreshDelete(spark, d, Seq(("A", 1.0)).toDF("f", "q"),
          batchId = 1L)
      }
      assert(ex.getMessage.contains("COUNT(*)"), ex.getMessage)
    } finally MatView.deregister(basePath)
  }

  test("an all-null-surviving column's sum partial is nulled, " +
      "matching the survivors rebuild") {
    import spark.implicits._
    val basePath = s"${graft.GraftSession.scratchDir}/mvspec_nbase"
    Seq(("A", Option(5.0)), ("A", Option.empty[Double]))
      .toDF("f", "q")
      .write.mode("overwrite").parquet(basePath)
    val d = EpochMv.EpochMvDef(basePath,
      s"${graft.GraftSession.scratchDir}/mvspec_nmv", Seq("f"),
      Seq(MatView.AggSpec("sum", "q", None, "sum_p"),
        MatView.AggSpec("count", "q", None, "cntq_p"),
        MatView.AggSpec("count", "", None, "cnt_p")))
    EpochMv.create(spark, d)
    try {
      // delete the only non-null row: the cell survives (one null row)
      // but its sum must read NULL, exactly as a rebuild would
      EpochMv.refreshDelete(spark, d,
        Seq(("A", Option(5.0))).toDF("f", "q"), batchId = 1L)
      val row = viewOf(d).collect().head
      assert(row.getString(0) === "A")
      assert(row.isNullAt(row.fieldIndex("sum_p")))
      assert(row.getAs[Long]("cntq_p") === 0L)
      assert(row.getAs[Long]("cnt_p") === 1L)
      // and the rewritten SUM(q)/AVG(q) both serve null off the view
      val q = spark.read.parquet(basePath).groupBy(col("f"))
        .agg(sum(col("q")).as("s"), avg(col("q")).as("a"))
      assert(q.queryExecution.executedPlan.toString.contains("mvspec_nmv"))
      val r = q.collect().head
      assert(r.isNullAt(1) && r.isNullAt(2))
    } finally MatView.deregister(basePath)
  }

  test("HAVING (a filter above the aggregate) rides the rewrite: the " +
      "exprId-stable outputs keep it resolvable against the view plan") {
    registerMv()
    try {
      val q = query.where(col("n_rows") > 1L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("mvspec_mv") && !plan.contains("mvspec_base"),
        plan)
      val got = q.collect().map(r => (r.getString(0),
        r.getDecimal(1).toPlainString, r.getLong(2))).sortBy(_._1).toSeq
      MatView.deregister(base)
      val truth = query.where(col("n_rows") > 1L)
        .collect().map(r => (r.getString(0),
          r.getDecimal(1).toPlainString, r.getLong(2))).sortBy(_._1).toSeq
      assert(got === truth)
    } finally MatView.deregister(base)
  }

  test("star-schema rewrite: an aggregate over fact ⋈ dim re-plans " +
      "onto view ⋈ dim — exact under join multiplicity") {
    import spark.implicits._
    val basePath = s"${graft.GraftSession.scratchDir}/mvspec_jbase"
    Seq((1L, 1.0), (1L, 2.0), (2L, 5.0), (3L, 7.0))
      .toDF("k", "q")
      .write.mode("overwrite").parquet(basePath)
    EpochMv.create(spark, EpochMv.EpochMvDef(basePath,
      s"${graft.GraftSession.scratchDir}/mvspec_jmv", Seq("k"),
      Seq(MatView.AggSpec("sum", "q", Some(DecimalType(38, 2)), "sum_p"),
        MatView.AggSpec("count", "q", None, "cntq_p"),
        MatView.AggSpec("sum", "q", None, "sumraw_p"),
        MatView.AggSpec("count", "", None, "cnt_p"))))
    // dim with a DUPLICATED join key (k=2 matches twice) and a key the
    // fact never matches (k=3 absent): the exact corners of the
    // multiplicity argument
    val dim = Seq((1L, "A"), (2L, "B"), (2L, "B"), (9L, "Z"))
      .toDF("dk", "g")
    try {
      def q(fact: org.apache.spark.sql.DataFrame) = fact
        .join(dim, fact("k") === dim("dk"))
        .groupBy(col("g"))
        .agg(sum(col("q").cast(DecimalType(38, 2))).as("s"),
          count(lit(1)).as("n"), avg(col("q")).as("a"))
      val planned = q(spark.read.parquet(basePath))
      val plan = planned.queryExecution.executedPlan.toString
      assert(plan.contains("mvspec_jmv") && !plan.contains("mvspec_jbase"),
        plan)
      val got = planned.collect().map(r => (r.getString(0),
        r.getDecimal(1).toPlainString, r.getLong(2), r.getDouble(3)))
        .sortBy(_._1).toSeq
      // row-level truth: A = {1,2}; B = {5} joined TWICE (dup dim key)
      assert(got === Seq(("A", "3.00", 2L, 1.5), ("B", "10.00", 2L, 5.0)))
      MatView.deregister(basePath)
      val truth = q(spark.read.parquet(basePath)).collect()
        .map(r => (r.getString(0), r.getDecimal(1).toPlainString,
          r.getLong(2), r.getDouble(3))).sortBy(_._1).toSeq
      assert(got === truth)
    } finally MatView.deregister(basePath)
  }

  test("star-schema rewrite blocks: dim-column aggregates, outer " +
      "joins, and row-level fact filters") {
    import spark.implicits._
    val basePath = s"${graft.GraftSession.scratchDir}/mvspec_jbbase"
    Seq((1L, 1.0), (2L, 5.0)).toDF("k", "q")
      .write.mode("overwrite").parquet(basePath)
    EpochMv.create(spark, EpochMv.EpochMvDef(basePath,
      s"${graft.GraftSession.scratchDir}/mvspec_jbmv", Seq("k"),
      Seq(MatView.AggSpec("sum", "q", None, "sum_p"),
        MatView.AggSpec("count", "", None, "cnt_p"))))
    val dim = Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("dk", "g", "w")
    try {
      val fact = spark.read.parquet(basePath)
      // SUM over a DIM column: its row-level total depends on fact-row
      // multiplicity the view has collapsed — must stay on the base
      val dimAgg = fact.join(dim, fact("k") === dim("dk"))
        .groupBy(col("g")).agg(sum(col("w")).as("sw"))
      assert(dimAgg.queryExecution.executedPlan.toString
        .contains("mvspec_jbbase"))
      // outer join: null-extended rows have no view analog
      val outer = fact.join(dim, fact("k") === dim("dk"), "left")
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
      assert(outer.queryExecution.executedPlan.toString
        .contains("mvspec_jbbase"))
      // row-level fact filter below the join
      val rowFiltered = fact.where(col("q") > 2.0)
        .join(dim, fact("k") === dim("dk"))
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
      assert(rowFiltered.queryExecution.executedPlan.toString
        .contains("mvspec_jbbase"))
      // a GROUP-COLUMN fact filter below the join still rewrites
      val keyFiltered = fact.where(col("k") === 1L)
        .join(dim, fact("k") === dim("dk"))
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
      val kfPlan = keyFiltered.queryExecution.executedPlan.toString
      assert(kfPlan.contains("mvspec_jbmv") &&
        !kfPlan.contains("mvspec_jbbase"), kfPlan)
      assert(keyFiltered.collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq === Seq(("A", 1L)))
    } finally MatView.deregister(basePath)
  }

  test("ROLLUP and CUBE (the Expand shape) rewrite onto the view: " +
      "partials replicate per grouping set exactly like base rows") {
    registerMv()
    try {
      def ru = baseDf.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity").cast(DecimalType(38, 2))).as("s"),
          count(lit(1)).as("n"))
      val plan = ru.queryExecution.executedPlan.toString
      assert(plan.contains("mvspec_mv") && !plan.contains("mvspec_base"),
        plan)
      def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (Option(r.getString(0)), Option(r.getString(1)),
          r.getDecimal(2).toPlainString, r.getLong(3)))
        .sortBy(_.toString).toSeq
      val got = snap(ru)
      // grand-total row present and grouped rows intact
      assert(got.exists(t => t._1.isEmpty && t._2.isEmpty))
      MatView.deregister(base)
      assert(got === snap(ru))
      registerMv()
      // CUBE: same Expand shape, more sets
      def cu = baseDf.cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
      assert(cu.queryExecution.executedPlan.toString
        .contains("mvspec_mv"))
      val gotCube = cu.collect()
        .map(r => (Option(r.getString(0)), Option(r.getString(1)),
          r.getLong(2))).sortBy(_.toString).toSeq
      MatView.deregister(base)
      assert(gotCube === cu.collect()
        .map(r => (Option(r.getString(0)), Option(r.getString(1)),
          r.getLong(2))).sortBy(_.toString).toSeq)
      // an uncovered aggregate under rollup still blocks
      registerMv()
      val blocked = baseDf.rollup(col("l_returnflag"))
        .agg(max(col("l_quantity")).as("m"))
      assert(blocked.queryExecution.executedPlan.toString
        .contains("mvspec_base"))
    } finally MatView.deregister(base)
  }

  test("exact-granularity query (no rollup) also serves from the view") {
    registerMv()
    try {
      val q = baseDf
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
      assert(q.queryExecution.executedPlan.toString.contains("mvspec_mv"))
      val got = q.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      MatView.deregister(base)
      val truth = baseDf
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got === truth)
    } finally MatView.deregister(base)
  }
}
