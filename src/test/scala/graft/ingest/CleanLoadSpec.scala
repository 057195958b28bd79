package graft.ingest

import graft.SparkTestBase
import graft.meta.Tracking
import graft.schemas.Schemas
import org.apache.spark.sql.functions._

/** Clean+load over the CAL-ACCESS-shaped fixture (FIXTURES.md §B):
  * amendment chains, bad dates, garbage decimals, ''→NULL, short and long
  * rows — the behaviors of `cleancalaccessrawdata.py` /
  * `loadcalaccessrawdata.py` the engine must reproduce. */
class CleanLoadSpec extends SparkTestBase {

  private lazy val table = Schemas.rcptCd
  private lazy val cleaned =
    Clean.cleanFile(spark, table, resource("rcpt_cd_sample.tsv"))
  private lazy val typed = Load.load(table, cleaned.good)

  test("field-count split routes short and long rows to errs") {
    assert(cleaned.good.count() === 6)
    assert(cleaned.bad.count() === 2) // one 2-field row, one 64-field row
    val badCounts = cleaned.bad.select("n_fields")
      .collect().map(_.getInt(0)).sorted
    assert(badCounts === Array(2, 64))
  }

  test("good and bad partition is disjoint and exhaustive") {
    val totalData = spark.read.text(resource("rcpt_cd_sample.tsv")).count() - 1
    assert(cleaned.good.count() + cleaned.bad.count() === totalData)
  }

  test("load types columns per declared schema") {
    assert(typed.schema === table.schema)
  }

  test("every catalog table round-trips raw → typed with its declared schema") {
    // Whole-catalog integrity sweep: for each of the 80 TableDefs,
    // synthesize one all-empty raw row (the rawSchema shape the TSV scan
    // produces) and one representative-values row, drive them through
    // Load.load, and check the result carries exactly the declared
    // schema with every empty string nulled. This is what catches a
    // widened table whose dateFields list names a renamed column, or a
    // column whose declared type try_cast can't target — per-table
    // fixtures can't cover 80 tables, the sweep can.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    for (t <- Schemas.all) {
      val raw = t.rawSchema
      def sample(f: StructField): String = t.schema(f.name.toLowerCase)
        .dataType match {
          case LongType | IntegerType => "42"
          case _: DecimalType => "12.34"
          case DateType => "1/15/2014"
          case TimestampType => "1/15/2014 3:04:05 PM"
          case _ => "x"
        }
      val rows = java.util.Arrays.asList(
        Row.fromSeq(raw.fields.map(_ => "").toSeq),
        Row.fromSeq(raw.fields.map(sample).toSeq))
      val typed = Load.load(t, spark.createDataFrame(rows, raw))
      assert(typed.schema === t.schema, s"${t.name} schema drift")
      val got = typed.collect()
      assert(got.length === 2)
      // the all-empty row must be all-NULL (''→NULL on every column)
      assert(got.exists(r => (0 until r.length).forall(r.isNullAt)),
        s"${t.name}: empty raw row not fully nulled")
      // the representative row must coerce every column non-NULL —
      // a NULL here means a type/format mismatch in the declaration
      val full = got.find(r => !(0 until r.length).forall(r.isNullAt)).get
      for (i <- 0 until full.length)
        assert(!full.isNullAt(i),
          s"${t.name}.${t.schema.fields(i).name} failed to coerce")
    }
  }

  test("bad date 2/30/2014 coerces to NULL, good dates parse M/d/yyyy") {
    val t2 = typed.filter(col("tran_id") === "T2").head()
    assert(t2.isNullAt(t2.fieldIndex("rcpt_date"))) // 2/30/2014 invalid
    val t3 = typed.filter(col("tran_id") === "T3")
      .select("rcpt_date").head().getDate(0).toString
    assert(t3 === "2014-03-01")
    val d1003 = typed.filter(col("filing_id") === 1003)
      .select("rcpt_date").head().getDate(0).toString
    assert(d1003 === "2013-12-31")
    val d1001 = typed.filter(col("filing_id") === 1001)
      .select("rcpt_date").head().getDate(0).toString
    assert(d1001 === "2014-01-15")
  }

  test("garbage decimal coerces to NULL; valid decimals keep scale 2") {
    val row = typed.filter(col("tran_id") === "T3").head()
    assert(row.isNullAt(row.fieldIndex("amount")))
    assert(row.getDecimal(row.fieldIndex("cum_ytd")).toPlainString === "50.00")
    val neg = typed.filter(col("tran_id") === "T4").head()
    assert(neg.getDecimal(neg.fieldIndex("amount")).toPlainString === "-42.42")
  }

  test("empty string coerces to NULL") {
    val row = typed.filter(col("tran_id") === "T1")
      .filter(col("amend_id") === 0).head()
    assert(row.isNullAt(row.fieldIndex("memo_code")))
    val t4 = typed.filter(col("tran_id") === "T4").head()
    assert(t4.isNullAt(t4.fieldIndex("cmte_id")))
  }

  test("latest-amendment-wins keeps max amend_id per logical record") {
    val latest = Load.latestAmendment(table, typed)
    val f1001 = latest.filter(col("filing_id") === 1001).collect()
    assert(f1001.length === 1)
    assert(f1001.head.getLong(f1001.head.fieldIndex("amend_id")) === 2L)
    assert(f1001.head.getDecimal(f1001.head.fieldIndex("amount"))
      .toPlainString === "175.50")
    // 4 logical records: 1001-line1 (3 amendments collapsed), the two
    // 1002 lines, and 1003 (the long 1004 row was routed to errs)
    assert(latest.count() === 4)
  }

  test("salted latest-amendment matches the window form on random chains") {
    // property: for ANY chain-length distribution — including length-1
    // chains, long mega chains, and multiple logical keys — the salted
    // form selects the same winners as the window form and counts every
    // amendment. (Fixed seed; scalacheck-free loop keeps it cheap.)
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val chains = (1 to 40).map { k =>
      val len = if (k == 7) 500 else 1 + rng.nextInt(4) // one hot chain
      (k.toLong, len)
    }
    val rows = chains.flatMap { case (k, len) =>
      (0 until len).map(a =>
        (k, a.toLong, 1L, "RCPT", "A", s"T$k", BigDecimal(a * 10 + k)))
    }
    val typed = rows.toDF("filing_id", "amend_id", "line_item",
      "rec_type", "form_type", "tran_id", "amount")
    val window = Load.latestAmendment(Schemas.rcptCd, typed)
      .orderBy("filing_id").collect().toSeq
    val salted = Load.latestAmendmentSalted(Schemas.rcptCd, typed)
      .orderBy("filing_id")
    val saltedRows = salted.drop("n_amendments").collect().toSeq
    assert(saltedRows === window)
    // and every chain's length is reported exactly
    val counts = salted.select("filing_id", "n_amendments").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((k, len) <- chains) assert(counts(k) === len.toLong, s"chain $k")
  }

  test("salted latest-amendment matches the window form and counts chains") {
    val window = Load.latestAmendment(table, typed)
    val salted = Load.latestAmendmentSalted(table, typed)
    // same winners (typed has no amend_id ties, so both forms are
    // deterministic); the salted form adds the n_amendments column
    val cols = window.columns.toSeq
    assert(salted.columns.toSeq === cols :+ "n_amendments")
    assert(salted.select(cols.map(col): _*).collect().toSet ===
      window.collect().toSet)
    val f1001 = salted.filter(col("filing_id") === 1001).head()
    assert(f1001.getLong(f1001.fieldIndex("n_amendments")) === 3L)
    // both join-back strategies resolve identically
    val shuffled = Load.latestAmendmentSalted(table, typed,
      broadcastWinners = false)
    assert(shuffled.collect().toSet === salted.collect().toSet)
  }

  test("salted latest-amendment handles NULL amend_ids like the window form") {
    // Regression: max() ignores NULLs and === null-rejects, so without
    // the sentinel an all-NULL chain vanished from the salted form and
    // NULL rows could never win. NULL must sort LOWEST in both forms
    // (the window's desc order is nulls-last): a NULL+non-NULL chain
    // keeps the non-NULL max, an all-NULL singleton chain survives.
    import spark.implicits._
    val typed = Seq[(java.lang.Long, java.lang.Long, java.lang.Long,
        String, String, String, String)](
      (10L, null, 1L, "RCPT", "A", "T10", "100.00"), // NULL loses…
      (10L, 2L, 1L, "RCPT", "A", "T10", "120.00"), // …to the real max
      (11L, null, 1L, "RCPT", "A", "T11", "300.00")) // all-NULL chain
      .toDF("filing_id", "amend_id", "line_item", "rec_type",
        "form_type", "tran_id", "amount")
      .withColumn("amount", col("amount").cast("decimal(14,2)"))
    val window = Load.latestAmendment(Schemas.rcptCd, typed)
      .orderBy("filing_id").collect().toSeq
    for (broadcastWinners <- Seq(true, false)) {
      val salted = Load.latestAmendmentSalted(Schemas.rcptCd, typed,
          broadcastWinners = broadcastWinners)
        .orderBy("filing_id")
      assert(salted.drop("n_amendments").collect().toSeq === window,
        s"broadcastWinners=$broadcastWinners")
      val counts = salted.select("filing_id", "n_amendments").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(counts === Map(10L -> 2L, 11L -> 1L))
    }
    val winners = window.map(r => (r.getLong(r.fieldIndex("filing_id")),
      Option(r.get(r.fieldIndex("amend_id")))))
    assert(winners === Seq((10L, Some(2L)), (11L, None)))
  }

  test("tracking metrics satisfy the verify invariants") {
    val m = Tracking.forTable("rcpt_cd", cleaned, typed)
    assert(m.consistent)
    assert(m.downloadRecords === 8)
    assert(m.cleanRecords === 6)
    assert(m.errorRecords === 2)
  }

  test("NUL bytes and stray CRs are scrubbed before parsing") {
    import spark.implicits._
    val dirty = Seq("1\u0000001\ta\rbc").toDF("value")
    val out = dirty.select(
      Clean.scrub(col("value")).as("clean")).head().getString(0)
    assert(out === "1001\tabc")
  }

  test("cleanFile keeps a bare CR inside its record and reads CRLF " +
      "exports; counts equal the records as written") {
    val n = table.rawSchema.fields.length
    def rec(i: Int, cr: Boolean = false): String =
      (0 until n).map(j => if (j == 1 && cr) s"a\rb$i" else s"v${i}_$j")
        .mkString("\t")
    val header = table.rawSchema.fieldNames.mkString("\t")
    val short = "x\ty"
    def cleanOf(body: String) = {
      val f = java.nio.file.Files.createTempFile("clean", ".tsv")
      java.nio.file.Files.write(f,
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      Clean.cleanFile(spark, table, f.toString)
    }
    // (a) LF export: 2 of its 5 well-formed records hold a bare CR
    val inField = cleanOf((Seq(header, rec(0), rec(1, cr = true), rec(2),
      short, rec(3, cr = true), rec(4)).mkString("\n")) + "\n")
    assert(inField.good.count() === 5)
    assert(inField.bad.count() === 1)
    assert(inField.good.where(col(table.rawSchema.fieldNames(1))
      .contains("\r")).isEmpty)
    assert(inField.good.where(col(table.rawSchema.fieldNames(1)) === "ab1")
      .count() === 1)
    val m = Tracking.forTable("cr", inField, Load.load(table, inField.good))
    assert(m.consistent && m.downloadRecords === 6)
    // (b) CRLF export: its header row still drops, no CR survives
    val crlf = cleanOf(Seq(header, rec(0), short, rec(1), rec(2, cr = true))
      .map(_ + "\r\n").mkString)
    assert(crlf.good.count() === 3)
    assert(crlf.bad.count() === 1)
    assert(crlf.bad.head().getString(0) === short)
    assert(crlf.good.where(col(table.rawSchema.fieldNames.last)
      .contains("\r")).isEmpty)
  }
}
