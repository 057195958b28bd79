package graft.ops

import graft.{GQuery, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.1–§2.2 of SURVEY.md — scan / projection / filter / type-coercion.
  *
  * This is the reference's actual core: the clean→load pipeline
  * (`cleancalaccessrawdata.py:~60-240`, `loadcalaccessrawdata.py:~50-200`)
  * re-expressed as single whole-stage-codegen'd projections. The two-phase
  * staging (text temp table → typed INSERT..SELECT) collapses into one
  * declarative `select` with casts; Catalyst pushes the filters and prunes
  * the columns down to the parquet scan.
  */
object CoreQueries {

  /** Flagship: TPC-H-Q1-shaped pricing summary ≙ the reference's
    * verify+summary semantics (`SmryCd` recompute, SURVEY §2.4 A3/A6).
    * Money summed as DECIMAL (order-independent, oracle-stable); the avg is
    * derived from the exact decimal sum via one deterministic double
    * division. Map-side partial aggregation makes this a single shuffle of
    * |groups| rows — scale-safe.
    */
  val q1Pricing = GQuery(
    "q1_pricing",
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast(TimestampType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("raw_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).as("raw_base"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(18, 4))).as("raw_disc"),
          count(lit(1)).as("cnt"))
        .select(
          col("l_returnflag"), col("l_linestatus"),
          col("raw_qty").cast(DoubleType).as("sum_qty"),
          col("raw_base").cast(DoubleType).as("sum_base"),
          col("raw_disc").cast(DoubleType).as("sum_disc"),
          (col("raw_qty").cast(DoubleType) / col("cnt")).as("avg_qty"),
          col("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
             COUNT(*) AS cnt
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus
    """))

  /** P8 predicate filters: equality + range + IN — all pushed to the
    * parquet scan (`PushedFilters` in explain). ≙ ORM
    * `QuerySet.filter/exclude` (`verifycalaccessrawdata.py:~40-80`). */
  val filterPred = GQuery(
    "filter_pred",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate").between(
          lit("1996-01-01").cast(TimestampType),
          lit("1996-12-31").cast(TimestampType)))
        .filter(col("l_returnflag") === "R")
        .filter(col("l_quantity") >= 25.0)
        .filter(col("l_linestatus").isin("F", "O"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
          "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber"),
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
      FROM lineitem
      WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
        AND l_returnflag = 'R' AND l_quantity >= 25.0
        AND l_linestatus IN ('F','O')
      ORDER BY l_orderkey, l_linenumber
    """))

  /** P3–P7 "load" projection: rename, ''→NULL, date coercion, decimal/int
    * casts — one pass, ≙ `loadcalaccessrawdata.py:~90-180`'s staging-then-
    * cast collapsed into a single typed select. */
  val loadTyped = GQuery(
    "load_typed",
    (s, d) =>
      Tables.events(s, d)
        .select(
          col("event_id"),
          col("ts").cast(DateType).as("event_date"),
          col("value").cast(DecimalType(14, 2)).cast(DoubleType)
            .as("value_dec"),
          when(trim(col("event_type")) === "", lit(null))
            .otherwise(col("event_type")).as("etype"),
          col("user_id").cast(LongType).as("uid"))
        .orderBy("event_id"),
    Some("""
      SELECT event_id,
             CAST(ts AS DATE) AS event_date,
             CAST(CAST(value AS DECIMAL(14,2)) AS DOUBLE) AS value_dec,
             NULLIF(TRIM(event_type), '') AS etype,
             CAST(user_id AS BIGINT) AS uid
      FROM events
      ORDER BY event_id
    """))

  /** P5 DATETIME_FIELDS coercion (`loadcalaccessrawdata.py:~130-170`):
    * `M/d/yyyy h:mm:ss a` strings → TIMESTAMP through the SAME
    * `Load.load` projection full ingest uses (an inline TableDef with a
    * datetimeFields entry), garbage → NULL via try_to_timestamp. The raw
    * frame is built by formatting events.ts into the reference's
    * datetime shape, with every 97th row replaced by unparseable text to
    * pin NULL-on-garbage. Oracle: DuckDB strftime→strptime round-trip
    * with a CASE for the garbage rows. */
  val loadDatetime = GQuery(
    "load_datetime",
    (s, d) => {
      import graft.schemas.Schemas.TableDef
      val dtTable = TableDef(
        name = "events_dt",
        schema = StructType(Seq(
          StructField("event_id", LongType),
          StructField("event_dt", TimestampType))),
        uniqueKey = Seq("event_id"),
        datetimeFields = Seq("event_dt"))
      val raw = Tables.events(s, d).select(
        col("event_id").cast(StringType).as("EVENT_ID"),
        when(col("event_id") % 97 === 0, lit("not a timestamp"))
          .otherwise(date_format(col("ts"), "M/d/yyyy h:mm:ss a"))
          .as("EVENT_DT"))
      graft.ingest.Load.load(dtTable, raw).orderBy("event_id")
    },
    Some("""
      SELECT CAST(event_id AS BIGINT) AS event_id,
             CASE WHEN event_id % 97 = 0 THEN NULL
                  ELSE strptime(strftime(ts, '%-m/%-d/%Y %-I:%M:%S %p'),
                                '%-m/%-d/%Y %-I:%M:%S %p')
             END AS event_dt
      FROM events
      ORDER BY event_id
    """))

  /** P6 decimal coercion on money columns, summed per group
    * (≙ `AMOUNT`/`CUM_YTD` NUMERIC(14,2) load casts, `fields.py:~65`). */
  val decimalCast = GQuery(
    "decimal_cast",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
          col("l_extendedprice").cast(DecimalType(14, 2)).as("price"))
        .groupBy("l_returnflag")
        .agg(sum(col("price")).cast(DoubleType).as("sum_price"),
          max(col("price")).cast(DoubleType).as("max_price"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_price,
             CAST(MAX(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS max_price
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** P1 field-count predicate — the clean pass's keep/route decision
    * (`cleancalaccessrawdata.py:~100-140`): a row is "good" iff its field
    * count matches the declared header width. Simulated over documents.text
    * treated as a raw delimited line. */
  val cleanSplitGood = GQuery(
    "clean_split_good",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).cast(LongType).as("n_fields"))
        .filter(col("n_fields") >= 40)
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_fields
      FROM documents
      WHERE len(str_split(text, ' ')) >= 40
      ORDER BY doc_id
    """))

  /** P1 complement: the error side-channel (`<name>.errs.csv`,
    * `cleancalaccessrawdata.py:~120-220`) — rows failing the width check,
    * carrying enough of the original line to debug. */
  val cleanSplitBad = GQuery(
    "clean_split_bad",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).cast(LongType).as("n_fields"),
          substring(col("text"), 1, 40).as("line_prefix"))
        .filter(col("n_fields") < 40)
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id, CAST(len(str_split(text, ' ')) AS BIGINT) AS n_fields,
             substr(text, 1, 40) AS line_prefix
      FROM documents
      WHERE len(str_split(text, ' ')) < 40
      ORDER BY doc_id
    """))

  /** P2 control-char / pattern scrub (`cleancalaccessrawdata.py:~80-160`):
    * regexp_replace normalization, all-codegen. */
  val strClean = GQuery(
    "str_clean",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          regexp_replace(regexp_replace(col("text"), "[aeiou]", "_"),
            "\\s+", " ").as("scrubbed"))
        .select(col("doc_id"), substring(col("scrubbed"), 1, 60).as("scrubbed"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             substr(regexp_replace(regexp_replace(text, '[aeiou]', '_', 'g'), '\s+', ' ', 'g'), 1, 60) AS scrubbed
      FROM documents
      ORDER BY doc_id
    """))

  /** Shared raw-TSV synthesis for the lifecycle queries
    * (`ingest_pipeline`, `tracking_verify`): a declared 6-column
    * events_raw schema plus the events table rendered as tab-joined
    * lines with every 97th row malformed by an extra field. ONE
    * definition so the two oracle-checked queries (and their oracles'
    * shared `% 97` convention) can never de-synchronize. */
  private lazy val eventsRawTdef: graft.schemas.Schemas.TableDef =
    graft.schemas.Schemas.TableDef(
      name = "events_raw",
      schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ev_date", DateType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DecimalType(14, 2)),
        StructField("props", StringType))),
      uniqueKey = Seq("event_id"),
      dateFields = Seq("ev_date"))

  private def eventsRawLines(
      events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // concat_ws silently DROPS null arguments, which would shorten the
    // rendered line and desynchronize the field-count gate from the
    // oracle — coalesce each field so a NULL renders as an empty field
    // and the line keeps a fixed width.
    val line = concat_ws("\t", Seq(
      col("event_id"), date_format(col("ts"), "M/d/yyyy"),
      col("user_id"), col("event_type"), col("value"), col("props"))
      .map(c => coalesce(c.cast(StringType), lit(""))): _*)
    events.select(
      when(col("event_id") % 97 === 0, concat(line, lit("\textra")))
        .otherwise(line).as("value"))
  }

  /** S3+S4+P1–P7 end-to-end: the full clean→load pipeline
    * (`updatecalaccessrawdata.py` stages 5–6) driven through
    * `graft.ingest.{Clean,Load}`. Raw TSV lines are synthesized from the
    * events table (1-in-97 rows deliberately malformed with an extra
    * field); the oracle computes the same result independently from the
    * typed source — so the whole split/scrub/parse/cast path is verified,
    * not just replayed. */
  val ingestPipeline = GQuery(
    "ingest_pipeline",
    (s, d) => {
      import graft.ingest.{Clean, Load}
      val tdef = eventsRawTdef
      val cleaned = Clean.clean(tdef, eventsRawLines(Tables.events(s, d)))
      val typed = Load.load(tdef, cleaned.good)
      typed.agg(
        count(lit(1)).as("n_good"),
        sum(col("value")).cast(DoubleType).as("sum_value"),
        min(col("ev_date")).as("min_date"),
        max(col("ev_date")).as("max_date"))
        .crossJoin(cleaned.bad.agg(count(lit(1)).as("n_bad")))
    },
    Some("""
      SELECT CAST(COUNT(*) FILTER (WHERE event_id % 97 <> 0) AS BIGINT) AS n_good,
             CAST(SUM(CAST(value AS DECIMAL(14,2))) FILTER (WHERE event_id % 97 <> 0) AS DOUBLE) AS sum_value,
             MIN(CAST(ts AS DATE)) FILTER (WHERE event_id % 97 <> 0) AS min_date,
             MAX(CAST(ts AS DATE)) FILTER (WHERE event_id % 97 <> 0) AS max_date,
             CAST(COUNT(*) FILTER (WHERE event_id % 97 = 0) AS BIGINT) AS n_bad
      FROM events
    """))

  /** S2+S4+S6 end-to-end, driver-visible (previously library-only): the
    * archive lifecycle `extractcalaccessrawdata.py` + the `.gz`
    * `FileField` sinks (`cleancalaccessrawdata.py:~200-240`,
    * `models/tracking.py:~200-260`) as one hash-verified roundtrip.
    * Raw lines (the `ingest_pipeline` synthesis, 1-in-97 malformed) are
    * cleaned and written through the real gzip CSV + errs sinks
    * (`Clean.writeCleaned`); the good-side gzip members are bundled
    * into an export-shaped zip (`dbwebexport.zip` analog), extracted
    * flat with `Archive.unzip`, read back through the native gzip CSV
    * scan, and driven through `Load.load`. The oracle recomputes every
    * figure from the typed source — equality proves NO row and NO field
    * was lost or altered across sink → zip → extract → scan → load.
    *
    * Scale shape: the sinks and the read-back scan are distributed
    * (gzip members parallelize per file); only the zip bundle/extract
    * is driver-side, exactly as in the reference (zip is not a
    * splittable format — documented on [[graft.sources.Archive]]). */
  val archiveRoundtrip = GQuery(
    "archive_roundtrip",
    (s, d) => {
      import graft.ingest.{Clean, Load}
      import graft.sources.Archive
      import org.apache.hadoop.fs.Path
      val tdef = eventsRawTdef
      val cleaned = Clean.clean(tdef, eventsRawLines(Tables.events(s, d)))
      // per-INVOCATION scratch: the roundtrip mutates its whole tree
      // (overwrite sinks, zip truncate, extract delete) and the
      // returned frame reads the extracted members LAZILY, so a shared
      // deterministic path would let one invocation delete files under
      // another's in-flight scan (the BuildOnce corruption class).
      // ~10 MB per invocation under the process scratch dir, reaped at
      // shutdown — the cold-roundtrip cost is the entry's point.
      val base = s"${graft.GraftSession.scratchDir}/archive_rt_" +
        d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        java.util.UUID.randomUUID.toString.take(8)
      Clean.writeCleaned(cleaned, base, "events")
      val goodParts = new java.io.File(s"$base/events.csv")
        .listFiles().filter(_.getName.endsWith(".csv.gz"))
        .map(_.getPath).sorted.toSeq
      val zipPath = s"$base/export.zip"
      Archive.zip(goodParts, zipPath)
      val tsvDir = s"$base/extracted"
      // clear stale extractions so the read-back sees exactly this
      // roundtrip's members
      new Path(tsvDir).getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new Path(tsvDir), true)
      val extracted = Archive.unzip(zipPath, tsvDir,
        _.endsWith(".csv.gz"))
      val typed = Load.load(tdef,
        s.read.option("header", "true").csv(extracted: _*))
      val errs = s.read.option("header", "true")
        .csv(s"$base/events.errs.csv")
      typed.agg(
        count(lit(1)).as("n_good"),
        sum(col("value")).cast(DoubleType).as("sum_value"),
        min(col("ev_date")).as("min_date"),
        max(col("ev_date")).as("max_date"))
        .crossJoin(errs.agg(count(lit(1)).as("n_bad")))
    },
    // identical oracle to ingest_pipeline: the archive roundtrip must
    // be lossless against the typed source
    Some("""
      SELECT CAST(COUNT(*) FILTER (WHERE event_id % 97 <> 0) AS BIGINT) AS n_good,
             CAST(SUM(CAST(value AS DECIMAL(14,2))) FILTER (WHERE event_id % 97 <> 0) AS DOUBLE) AS sum_value,
             MIN(CAST(ts AS DATE)) FILTER (WHERE event_id % 97 <> 0) AS min_date,
             MAX(CAST(ts AS DATE)) FILTER (WHERE event_id % 97 <> 0) AS max_date,
             CAST(COUNT(*) FILTER (WHERE event_id % 97 = 0) AS BIGINT) AS n_bad
      FROM events
    """))

  /** §3 verify/lineage stage end-to-end, driver-visible
    * (`verifycalaccessrawdata.py:~30-90` + `models/tracking.py:~150-260`):
    * two table loads are synthesized from the events table (split by
    * user_id parity; 1-in-97 rows malformed, same trick as
    * `ingest_pipeline`), driven through Clean→Load→`Tracking.forTable`,
    * and the resulting RawDataFile-star metrics rows
    * (download/clean/load/error counts) are emitted with the verify
    * step's `consistent` invariant recomputed in-frame
    * (download = clean + error AND load = clean). The oracle recomputes
    * every count independently from the typed source and asserts
    * consistent TRUE, so a mis-routed row on either side of the split
    * fails the hash loudly. The counts are distributed aggregations; the
    * driver holds one metrics row per table — the cardinality of the
    * reference's RawDataFile table, not of the data. */
  val trackingVerify = GQuery(
    "tracking_verify",
    (s, d) => {
      import graft.ingest.{Clean, Load}
      import graft.meta.Tracking
      val tdef = eventsRawTdef
      def loadSplit(name: String, parity: Int): Tracking.FileMetrics = {
        // Persist the rendered lines = the reference's staging table:
        // its verify step counts download/clean/load against the staged
        // text, so the three counts here are three cheap passes over one
        // materialization instead of three full source scans. Counts are
        // collected into the metrics row before the cache is dropped.
        val lines = eventsRawLines(Tables.events(s, d)
          .filter(col("user_id") % 2 === parity)).persist()
        try {
          val cleaned = Clean.clean(tdef, lines)
          Tracking.forTable(name, cleaned, Load.load(tdef, cleaned.good))
        } finally lines.unpersist(blocking = false)
      }
      // r20 guide §2.6: the two splits' counts are independent jobs —
      // overlap them (same discipline as tracking_version). r21: via
      // graft.Overlap — labeled jobs, finite await, starvation-proof
      // under the nested forTable fan-out.
      Tracking.toDf(s,
          graft.Overlap.all(s)(
            () => loadSplit("events_even", 0),
            () => loadSplit("events_odd", 1)))
        .select(col("tableName").as("table_name"),
          col("downloadRecords").as("download_records"),
          col("cleanRecords").as("clean_records"),
          col("loadRecords").as("load_records"),
          col("errorRecords").as("error_records"))
        .withColumn("consistent",
          col("download_records") ===
            col("clean_records") + col("error_records") &&
            col("load_records") === col("clean_records"))
        .orderBy(col("table_name"))
    },
    Some("""
      SELECT 'events_even' AS table_name,
             CAST(COUNT(*) AS BIGINT) AS download_records,
             CAST(COUNT(*) FILTER (WHERE event_id % 97 <> 0) AS BIGINT) AS clean_records,
             CAST(COUNT(*) FILTER (WHERE event_id % 97 <> 0) AS BIGINT) AS load_records,
             CAST(COUNT(*) FILTER (WHERE event_id % 97 = 0) AS BIGINT) AS error_records,
             TRUE AS consistent
      FROM events WHERE user_id % 2 = 0
      UNION ALL
      SELECT 'events_odd',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) FILTER (WHERE event_id % 97 <> 0) AS BIGINT),
             CAST(COUNT(*) FILTER (WHERE event_id % 97 <> 0) AS BIGINT),
             CAST(COUNT(*) FILTER (WHERE event_id % 97 = 0) AS BIGINT),
             TRUE
      FROM events WHERE user_id % 2 = 1
      ORDER BY table_name
    """))

  /** Point-in-time (as-of) resolution over the effective-dated filer
    * dimension (`models/inactive.py` FILER_TO_FILER_TYPE_CD, round-10
    * full 16-column width): "which filer type was filer X at date D" —
    * the canonical consumption of CAL-ACCESS's effective-date ranges.
    * Assignments are synthesized from customer keys (1–3 per filer,
    * 400-day spacing, rotating type codes), rendered positionally from
    * the declared 16-column schema and driven through the REAL
    * Clean→Load lifecycle (M/d/yyyy effect_dt coercion included), so
    * the oracle verifies the parse as well as the resolution. Facts are
    * orders at their order dates; each resolves to the assignment with
    * the greatest effect_dt ≤ date, inner-asof semantics (orders before
    * a filer's first assignment drop).
    *
    * Scale shape (same as `join_asof`, SURVEY §2.4): NOT a range join —
    * fan-out-then-prune candidates grow |orders|×|assignments per key|.
    * Instead dimension and facts union, shuffle ONCE on filer_id, and a
    * RANGE-frame running max of struct(effect_dt, filer_type) carries
    * the current assignment forward — one exchange, no per-row probing,
    * equal-date assignments included deterministically. The oracle uses
    * DuckDB's native ASOF JOIN — a different mechanism entirely, so the
    * cross-check is genuinely independent. */
  val filerTypeAsof = GQuery(
    "filer_type_asof",
    (s, d) => {
      import graft.ingest.{Clean, Load}
      import graft.schemas.Schemas
      import org.apache.spark.sql.expressions.Window
      val tdef = Schemas.filerToFilerTypeCd
      val base = Tables.customer(s, d).filter(col("c_custkey") <= 300)
        .select(col("c_custkey").as("k"))
        .select(col("k"),
          explode(sequence(lit(0L), col("k") % 3)).as("seq"))
        .select(col("k"), col("seq"),
          ((col("k") + col("seq")) % 5).as("ftype"),
          date_add(lit("1992-01-01").cast(DateType),
            (col("k") % 200 + col("seq") * 400).cast(IntegerType))
            .as("eff"))
      val fieldVals: Map[String, org.apache.spark.sql.Column] = Map(
        "filer_id" -> col("k"), "filer_type" -> col("ftype"),
        "active" -> lit("Y"), "session_id" -> (col("seq") + 1),
        "effect_dt" -> date_format(col("eff"), "M/d/yyyy"))
      val line = concat_ws("\t", tdef.schema.fieldNames.toSeq
        .map(n => fieldVals.getOrElse(n, lit(""))): _*)
      val cleaned = Clean.clean(tdef, base.select(line.as("value")))
      val assigns = Load.load(tdef, cleaned.good)
        .select(col("filer_id"), col("effect_dt"), col("filer_type"))
      val facts = Tables.orders(s, d).filter(col("o_custkey") <= 300)
        .select(col("o_custkey").as("filer_id"),
          col("o_orderdate").as("at_date"),
          col("o_orderkey").as("order_id"))
      val unioned = assigns
        .select(col("filer_id"), col("effect_dt").as("at_date"),
          lit(null).cast(LongType).as("order_id"),
          struct(col("effect_dt"), col("filer_type")).as("asg"))
        .unionByName(facts.withColumn("asg",
          lit(null).cast("struct<effect_dt:date,filer_type:bigint>")))
      val w = Window.partitionBy(col("filer_id")).orderBy(col("at_date"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      unioned.withColumn("res", max(col("asg")).over(w))
        .filter(col("order_id").isNotNull && col("res").isNotNull)
        .select(col("filer_id"), col("order_id"), col("at_date"),
          col("res.filer_type").as("filer_type_asof"),
          col("res.effect_dt").as("type_effective_since"))
        .orderBy("filer_id", "order_id")
    },
    Some("""
      WITH assigns AS (
        SELECT c_custkey AS filer_id,
               CAST((c_custkey + t.seq) % 5 AS BIGINT) AS filer_type,
               DATE '1992-01-01' +
                 CAST(c_custkey % 200 + t.seq * 400 AS INTEGER)
                 AS effect_dt
        FROM customer, unnest(generate_series(0, c_custkey % 3)) AS t(seq)
        WHERE c_custkey <= 300),
      facts AS (
        SELECT o_custkey AS filer_id, o_orderdate AS at_date,
               o_orderkey AS order_id
        FROM orders WHERE o_custkey <= 300)
      SELECT f.filer_id, f.order_id, f.at_date,
             a.filer_type AS filer_type_asof,
             a.effect_dt AS type_effective_since
      FROM facts f ASOF JOIN assigns a
        ON f.filer_id = a.filer_id AND f.at_date >= a.effect_dt
      ORDER BY f.filer_id, f.order_id
    """))

  /** The release-grain half of the tracking star, driver-visible
    * (`models/tracking.py:~130-260` RawDataVersion ← RawDataFile):
    * `tracking_verify` proves the per-file metrics; this rolls them up
    * to ONE row per release via `Tracking.versionRollup` — file count,
    * the four count totals, and the verify invariant recomputed at the
    * release grain. Two releases are synthesized from the events table
    * (split by event_id parity), each carrying two files (split by
    * user_id parity, 1-in-97 rows malformed — the same conventions as
    * `tracking_verify`), driven through the REAL Clean→Load→
    * `Tracking.forTable` lifecycle. The oracle recomputes every total
    * independently from the typed source, so a row mis-routed between
    * releases or files fails the hash. Scale shape: the counts are
    * distributed aggregations; the rollup input is one row per file —
    * the reference's RawDataFile cardinality, never the data's. */
  val trackingVersion = GQuery(
    "tracking_version",
    (s, d) => {
      import graft.ingest.{Clean, Load}
      import graft.meta.Tracking
      val tdef = eventsRawTdef
      def fileMetrics(release: String, evParity: Int,
          userParity: Int): (String, Tracking.FileMetrics) = {
        val lines = eventsRawLines(Tables.events(s, d)
          .filter(col("event_id") % 2 === evParity &&
            col("user_id") % 2 === userParity)).persist()
        try {
          val cleaned = Clean.clean(tdef, lines)
          release -> Tracking.forTable(s"ev${evParity}_u$userParity",
            cleaned, Load.load(tdef, cleaned.good))
        } finally lines.unpersist(blocking = false)
      }
      // r20 guide §2.6: the four files' count jobs are independent —
      // submit them from driver threads so each file's tail back-fills
      // the others' idle executors instead of serializing 4×3 count
      // jobs end-to-end. Job descriptions/results are per-thread; the
      // metrics rows land in declaration order regardless of finish
      // order, so the output frame is unchanged.
      val files = graft.Overlap.all(s)(
        () => fileMetrics("r_even", 0, 0),
        () => fileMetrics("r_even", 0, 1),
        () => fileMetrics("r_odd", 1, 0),
        () => fileMetrics("r_odd", 1, 1))
      import s.implicits._
      val filesDf = files.map { case (rel, m) =>
        (rel, m.tableName, m.downloadRecords, m.cleanRecords,
          m.loadRecords, m.errorRecords) }
        .toDF("release", "tableName", "downloadRecords", "cleanRecords",
          "loadRecords", "errorRecords")
      Tracking.versionRollup(filesDf).orderBy(col("release"))
    },
    Some("""
      SELECT 'r_even' AS release,
             CAST(2 AS BIGINT) AS n_files,
             CAST(COUNT(*) AS BIGINT) AS download_total,
             CAST(COUNT(*) FILTER (WHERE event_id % 97 <> 0) AS BIGINT)
               AS clean_total,
             CAST(COUNT(*) FILTER (WHERE event_id % 97 <> 0) AS BIGINT)
               AS load_total,
             CAST(COUNT(*) FILTER (WHERE event_id % 97 = 0) AS BIGINT)
               AS error_total,
             TRUE AS consistent
      FROM events WHERE event_id % 2 = 0
      UNION ALL
      SELECT 'r_odd',
             CAST(2 AS BIGINT),
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) FILTER (WHERE event_id % 97 <> 0) AS BIGINT),
             CAST(COUNT(*) FILTER (WHERE event_id % 97 <> 0) AS BIGINT),
             CAST(COUNT(*) FILTER (WHERE event_id % 97 = 0) AS BIGINT),
             TRUE
      FROM events WHERE event_id % 2 = 1
      ORDER BY release
    """))

  /** W1 end-to-end over a CAL-ACCESS-shaped frame: the reference's single
    * most documented consumption pattern — latest-amendment-wins on
    * UNIQUE_KEY minus the amendment counter (`models/common.py:~200-260`)
    * — driven through `Load.latestAmendment` with the real `rcpt_cd`
    * TableDef, so the declared-uniqueKey wiring (not a hand-built window)
    * is what the oracle verifies. Amendment chains are synthesized from
    * lineitem: logical receipts are the distinct (l_orderkey,
    * l_linenumber) keys — the synthetic generator emits duplicate keys,
    * so a deterministic min-aggregate collapses them first — each
    * exploding into amend_id 0..(partkey mod 3), each amendment revising
    * the amount; the winner must be the max amend_id with its revised
    * amount. Scale shape: one hash-agg then one window shuffle, both on
    * the logical key — identical to `win_latest`; amend chains are short
    * (≤ a few dozen in real data) so no skew. */
  val amendLatest = GQuery(
    "amend_latest",
    (s, d) => {
      import graft.ingest.Load
      import graft.schemas.Schemas
      val amended = Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 2000)
        .groupBy(col("l_orderkey").as("filing_id"),
          col("l_linenumber").cast(LongType).as("line_item"))
        .agg(min(col("l_partkey")).as("pk"),
          min(col("l_extendedprice").cast(DecimalType(18, 2)))
            .as("base_amount"))
        .select(
          col("filing_id"), col("line_item"),
          lit("RCPT").as("rec_type"),
          lit("A").as("form_type"),
          concat(lit("T"), col("pk")).as("tran_id"),
          col("base_amount"),
          explode(sequence(lit(0L), col("pk") % 3)).as("amend_id"))
      val withAmount = amended
        .withColumn("amount",
          (col("base_amount") * (lit(1) + col("amend_id")))
            .cast(DecimalType(18, 2)))
        .drop("base_amount")
      Load.latestAmendment(Schemas.rcptCd, withAmount)
        .select(col("filing_id"), col("line_item"), col("amend_id"),
          col("tran_id"), col("amount").cast(DoubleType).as("amount"))
        .orderBy("filing_id", "line_item")
    },
    Some("""
      WITH receipts AS (
        SELECT l_orderkey AS filing_id,
               CAST(l_linenumber AS BIGINT) AS line_item,
               MIN(l_partkey) AS pk,
               MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS base_amount
        FROM lineitem
        WHERE l_orderkey <= 2000
        GROUP BY 1, 2),
      amended AS (
        SELECT filing_id, line_item,
               t.amend_id AS amend_id,
               'T' || CAST(pk AS VARCHAR) AS tran_id,
               CAST(base_amount * (1 + t.amend_id) AS DECIMAL(18,2)) AS amount
        FROM receipts, unnest(generate_series(0, pk % 3)) AS t(amend_id)),
      latest AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY filing_id, line_item
                    ORDER BY amend_id DESC) AS rn
        FROM amended)
      SELECT filing_id, line_item, amend_id, tran_id,
             CAST(amount AS DOUBLE) AS amount
      FROM latest WHERE rn = 1
      ORDER BY filing_id, line_item
    """))

  /** `amend_latest` under the REAL CAL-ACCESS skew shape: one mega-filer
    * filing carrying 10⁴ amendments (the committee-1380124 pattern)
    * while every other chain is ≤3 — the distribution that makes the
    * window form's per-key sort buffer a single-task hotspot at scale.
    * Resolution runs through `Load.latestAmendmentSalted`: a two-phase
    * salted max/count aggregate (`Skew.saltedAggregate` splits the hot
    * key across 8 partial aggregates, map-side combinable) and a
    * broadcast join-back that selects the winning rows without ever
    * co-locating a whole chain. No Window node anywhere in the plan —
    * PlanSpec pins the salted exchange, the broadcast join-back, and
    * the absence of a window. The oracle resolves the same winners via
    * MAX-groupby + join, and also verifies the `n_amendments` lineage
    * column the salted pass emits for free. */
  val amendLatestSkew = GQuery(
    "amend_latest_skew",
    (s, d) => {
      import graft.ingest.Load
      import graft.schemas.Schemas
      val base = Tables.lineitem(s, d)
        .filter(col("l_orderkey") <= 500)
        .groupBy(col("l_orderkey").as("filing_id"),
          col("l_linenumber").cast(LongType).as("line_item"))
        .agg(min(col("l_partkey")).as("pk"),
          min(col("l_extendedprice").cast(DecimalType(18, 2)))
            .as("base_amount"))
        .select(
          col("filing_id"), col("line_item"),
          lit("RCPT").as("rec_type"), lit("A").as("form_type"),
          concat(lit("T"), col("pk")).as("tran_id"),
          col("base_amount"),
          explode(sequence(lit(0L), col("pk") % 3)).as("amend_id"))
      val mega = s.range(1).select(
        lit(999999L).as("filing_id"), lit(1L).as("line_item"),
        lit("RCPT").as("rec_type"), lit("A").as("form_type"),
        lit("TMEGA").as("tran_id"),
        lit(BigDecimal("0.01")).cast(DecimalType(18, 2)).as("base_amount"),
        explode(sequence(lit(0L), lit(9999L))).as("amend_id"))
      val amended = base.unionAll(mega)
        .withColumn("amount",
          (col("base_amount") * (lit(1) + col("amend_id")))
            .cast(DecimalType(18, 2)))
        .drop("base_amount")
      Load.latestAmendmentSalted(Schemas.rcptCd, amended)
        .select(col("filing_id"), col("line_item"), col("amend_id"),
          col("n_amendments"), col("tran_id"),
          col("amount").cast(DoubleType).as("amount"))
        .orderBy("filing_id", "line_item")
    },
    Some("""
      WITH receipts AS (
        SELECT l_orderkey AS filing_id,
               CAST(l_linenumber AS BIGINT) AS line_item,
               MIN(l_partkey) AS pk,
               MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS base_amount
        FROM lineitem
        WHERE l_orderkey <= 500
        GROUP BY 1, 2),
      amended AS (
        SELECT filing_id, line_item,
               'T' || CAST(pk AS VARCHAR) AS tran_id,
               t.amend_id AS amend_id,
               CAST(base_amount * (1 + t.amend_id) AS DECIMAL(18,2)) AS amount
        FROM receipts, unnest(generate_series(0, pk % 3)) AS t(amend_id)
        UNION ALL
        SELECT CAST(999999 AS BIGINT), CAST(1 AS BIGINT), 'TMEGA',
               t.amend_id,
               CAST(CAST(0.01 AS DECIMAL(18,2)) * (1 + t.amend_id)
                 AS DECIMAL(18,2))
        FROM unnest(generate_series(0, 9999)) AS t(amend_id)),
      winners AS (
        SELECT filing_id, line_item, MAX(amend_id) AS max_amend,
               CAST(COUNT(*) AS BIGINT) AS n_amendments
        FROM amended GROUP BY 1, 2)
      SELECT a.filing_id, a.line_item, a.amend_id, w.n_amendments,
             a.tran_id, CAST(a.amount AS DOUBLE) AS amount
      FROM amended a
      JOIN winners w ON a.filing_id = w.filing_id
                    AND a.line_item = w.line_item
                    AND a.amend_id = w.max_amend
      ORDER BY a.filing_id, a.line_item
    """))

  /** The round-9 widened registration cover page exercised END-TO-END:
    * 70-column raw CVR_REGISTRATION_CD lines (rendered positionally
    * from the declared schema — field order comes from the TableDef,
    * not a hand-built literal) through Clean→Load (width gate, M/d/yyyy
    * qual_date parse, ''→NULL on the 60+ unpopulated columns),
    * latest-amendment resolution on the declared UNIQUE_KEY, and a
    * registry decode of FORM_TYPE to the documented F601–F607 form
    * titles (oracle VALUES from `Annotations.valuesSql` — shared source
    * of truth). The oracle recomputes the aggregate independently from
    * the typed customer source. Shape: narrow synthesis map fused into
    * the scan, one window shuffle on the logical key, constant-folded
    * decode, |forms|-row aggregate. */
  val registrationLatest = GQuery(
    "registration_latest",
    (s, d) => {
      import graft.ingest.{Clean, Load}
      import graft.meta.Annotations
      import graft.schemas.Schemas
      val tdef = Schemas.cvrRegistrationCd
      val src = Tables.customer(s, d)
        .filter(col("c_custkey") <= 2000)
        .select(col("c_custkey").as("k"), col("c_name").as("nm"))
        .select(col("k"), col("nm"),
          (col("k") + 100000L).as("filing_id"),
          element_at(
            array(lit("F601"), lit("F602"), lit("F603"), lit("F604"),
              lit("F606"), lit("F607")),
            (pmod(col("k"), lit(6)) + 1).cast(IntegerType)).as("form_type"),
          date_format(
            date_add(lit("2015-01-01").cast(DateType),
              pmod(col("k"), lit(365)).cast(IntegerType)),
            "M/d/yyyy").as("qual_raw"),
          explode(sequence(lit(0L), pmod(col("k"), lit(3)))).as("amend_id"))
      val fieldVals: Map[String, org.apache.spark.sql.Column] = Map(
        "filing_id" -> col("filing_id"), "amend_id" -> col("amend_id"),
        "rec_type" -> lit("CVR"), "form_type" -> col("form_type"),
        "filer_id" -> col("k"), "filer_naml" -> col("nm"),
        "qual_date" -> col("qual_raw"))
      val line = concat_ws("\t", tdef.schema.fieldNames.toSeq
        .map(n => fieldVals.getOrElse(n, lit(""))): _*)
      val cleaned = Clean.clean(tdef, src.select(line.as("value")))
      val typed = Load.load(tdef, cleaned.good)
      Load.latestAmendment(tdef, typed)
        .select(
          Annotations.decodeExpr("cvr_registration_cd", "form_type",
            col("form_type")).as("form_desc"),
          col("amend_id"), col("qual_date"))
        .groupBy("form_desc")
        .agg(count(lit(1)).as("n_filings"),
          sum(col("amend_id")).as("sum_latest_amend"),
          min(col("qual_date")).as("min_qual"),
          max(col("qual_date")).as("max_qual"))
        .orderBy(col("form_desc"))
    },
    Some(s"""
      WITH regd(code, meaning) AS (
        VALUES ${graft.meta.Annotations
          .valuesSql("cvr_registration_cd", "form_type")}),
      base AS (
        SELECT c_custkey AS k,
               CASE c_custkey % 6
                 WHEN 0 THEN 'F601' WHEN 1 THEN 'F602' WHEN 2 THEN 'F603'
                 WHEN 3 THEN 'F604' WHEN 4 THEN 'F606' ELSE 'F607'
               END AS form_type,
               DATE '2015-01-01' + CAST(c_custkey % 365 AS INTEGER)
                 AS qual_date,
               c_custkey % 3 AS latest_amend
        FROM customer WHERE c_custkey <= 2000)
      SELECT r.meaning AS form_desc,
             CAST(COUNT(*) AS BIGINT) AS n_filings,
             CAST(SUM(latest_amend) AS BIGINT) AS sum_latest_amend,
             MIN(qual_date) AS min_qual,
             MAX(qual_date) AS max_qual
      FROM base b JOIN regd r ON b.form_type = r.code
      GROUP BY 1
      ORDER BY form_desc
    """))

  /** `registration_latest`'s disclosure-side twin over the OTHER widened
    * cover page: 52-column CVR_LOBBY_DISCLOSURE_CD raw lines (again
    * rendered positionally from the declared schema) through
    * Clean→Load — this one additionally exercising the P5 DATETIME
    * coercion (`sig_date`, "M/d/yyyy h:mm:ss a") and the reporting
    * period dates through the raw-text path — then latest-amendment and
    * the F615/F625/F635/F645 registry decode. Same shapes as its twin:
    * scan-fused synthesis, one window shuffle, constant-folded decode. */
  val lobbyDisclosureLatest = GQuery(
    "lobby_disclosure_latest",
    (s, d) => {
      import graft.ingest.{Clean, Load}
      import graft.meta.Annotations
      import graft.schemas.Schemas
      val tdef = Schemas.cvrLobbyDisclosureCd
      val src = Tables.customer(s, d)
        .filter(col("c_custkey") <= 1500)
        .select(col("c_custkey").as("k"), col("c_name").as("nm"))
        .select(col("k"), col("nm"),
          (col("k") + 200000L).as("filing_id"),
          element_at(
            array(lit("F615"), lit("F625"), lit("F635"), lit("F645")),
            (pmod(col("k"), lit(4)) + 1).cast(IntegerType)).as("form_type"),
          date_add(lit("2015-01-01").cast(DateType),
            pmod(col("k"), lit(90)).cast(IntegerType)).as("from_dt"),
          explode(sequence(lit(0L), pmod(col("k"), lit(2)))).as("amend_id"))
        .withColumn("thru_dt", date_add(col("from_dt"), 89))
        .withColumn("from_raw", date_format(col("from_dt"), "M/d/yyyy"))
        .withColumn("thru_raw", date_format(col("thru_dt"), "M/d/yyyy"))
        .withColumn("sig_raw",
          concat(date_format(date_add(col("thru_dt"), 5), "M/d/yyyy"),
            lit(" 10:30:00 AM")))
      val fieldVals: Map[String, org.apache.spark.sql.Column] = Map(
        "filing_id" -> col("filing_id"), "amend_id" -> col("amend_id"),
        "rec_type" -> lit("CVR"), "form_type" -> col("form_type"),
        "filer_id" -> col("k"), "filer_naml" -> col("nm"),
        "from_date" -> col("from_raw"), "thru_date" -> col("thru_raw"),
        "sig_date" -> col("sig_raw"))
      val line = concat_ws("\t", tdef.schema.fieldNames.toSeq
        .map(n => fieldVals.getOrElse(n, lit(""))): _*)
      val cleaned = Clean.clean(tdef, src.select(line.as("value")))
      val typed = Load.load(tdef, cleaned.good)
      Load.latestAmendment(tdef, typed)
        .select(
          Annotations.decodeExpr("cvr_lobby_disclosure_cd", "form_type",
            col("form_type")).as("form_desc"),
          col("amend_id"), col("from_date"), col("thru_date"),
          col("sig_date"))
        .groupBy("form_desc")
        .agg(count(lit(1)).as("n_filings"),
          sum(col("amend_id")).as("sum_latest_amend"),
          min(col("from_date")).as("min_from"),
          max(col("thru_date")).as("max_thru"),
          max(col("sig_date")).as("max_sig"))
        .orderBy(col("form_desc"))
    },
    Some(s"""
      WITH regd(code, meaning) AS (
        VALUES ${graft.meta.Annotations
          .valuesSql("cvr_lobby_disclosure_cd", "form_type")}),
      base AS (
        SELECT c_custkey AS k,
               CASE c_custkey % 4
                 WHEN 0 THEN 'F615' WHEN 1 THEN 'F625'
                 WHEN 2 THEN 'F635' ELSE 'F645'
               END AS form_type,
               DATE '2015-01-01' + CAST(c_custkey % 90 AS INTEGER)
                 AS from_date,
               c_custkey % 2 AS latest_amend
        FROM customer WHERE c_custkey <= 1500)
      SELECT r.meaning AS form_desc,
             CAST(COUNT(*) AS BIGINT) AS n_filings,
             CAST(SUM(latest_amend) AS BIGINT) AS sum_latest_amend,
             MIN(from_date) AS min_from,
             MAX(from_date + 89) AS max_thru,
             MAX(CAST(from_date + 94 AS TIMESTAMP)
               + INTERVAL 630 MINUTE) AS max_sig
      FROM base b JOIN regd r ON b.form_type = r.code
      GROUP BY 1
      ORDER BY form_desc
    """))

  /** The campaign-side tail of the widened-cover-page trilogy: the
    * widened 36-column CVR_E530_CD (electronic Form E-530
    * late independent-expenditure report) exercised END-TO-END — raw
    * lines rendered positionally from the declared schema through
    * Clean→Load (width gate, ''→NULL, M/d/yyyy coercion of BOTH date
    * fields, P6 decimal try-cast of `pmnt_amount` through the raw-text
    * path), latest-amendment on the (filing_id, amend_id) UNIQUE_KEY —
    * each amendment revising the reported payment, so the DECIMAL money
    * column must carry the winner's revision — and a registry decode of
    * the universal OFFICE_CD set. The oracle recomputes everything from
    * the typed customer source with the decode VALUES from
    * `Annotations.valuesSql` (shared source of truth). Shape: scan-fused
    * synthesis, one window shuffle on filing_id, constant-folded decode,
    * |offices|-row aggregate. */
  val e530Latest = GQuery(
    "e530_latest",
    (s, d) => {
      import graft.ingest.{Clean, Load}
      import graft.meta.Annotations
      import graft.schemas.Schemas
      val tdef = Schemas.cvrE530Cd
      val src = Tables.customer(s, d)
        .filter(col("c_custkey") <= 2000)
        .select(col("c_custkey").as("k"), col("c_name").as("nm"))
        .select(col("k"), col("nm"),
          (col("k") + 530000L).as("filing_id"),
          element_at(
            array(lit("ASM"), lit("GOV"), lit("MAY"), lit("CCM"),
              lit("ATT"), lit("INS")),
            (pmod(col("k"), lit(6)) + 1).cast(IntegerType)).as("office_cd"),
          date_format(
            date_add(lit("2014-06-01").cast(DateType),
              pmod(col("k"), lit(200)).cast(IntegerType)),
            "M/d/yyyy").as("rpt_raw"),
          date_format(
            date_add(lit("2014-05-01").cast(DateType),
              pmod(col("k"), lit(100)).cast(IntegerType)),
            "M/d/yyyy").as("pmnt_raw"),
          (pmod(col("k"), lit(1000)) + lit(0.25)).cast(DecimalType(14, 2))
            .as("base_amount"),
          explode(sequence(lit(0L), pmod(col("k"), lit(3)))).as("amend_id"))
      val fieldVals: Map[String, org.apache.spark.sql.Column] = Map(
        "filing_id" -> col("filing_id"), "amend_id" -> col("amend_id"),
        "rec_type" -> lit("CVR"), "form_type" -> lit("E530"),
        "filer_id" -> col("k"), "filer_naml" -> col("nm"),
        "cand_naml" -> col("nm"), "office_cd" -> col("office_cd"),
        "rpt_date" -> col("rpt_raw"), "pmnt_dt" -> col("pmnt_raw"),
        "pmnt_amount" -> (col("base_amount") * (lit(1) + col("amend_id")))
          .cast(DecimalType(14, 2)).cast(StringType),
        // round-11 communication-type block: TV vs radio split by key
        // parity — a LongType flag pair that must survive the raw-text
        // round trip (P6 long try-cast) and the amendment window
        "type_tv" -> pmod(col("k"), lit(2)),
        "type_radio" -> (lit(1) - pmod(col("k"), lit(2))))
      val line = concat_ws("\t", tdef.schema.fieldNames.toSeq
        .map(n => fieldVals.getOrElse(n, lit(""))): _*)
      val cleaned = Clean.clean(tdef, src.select(line.as("value")))
      val typed = Load.load(tdef, cleaned.good)
      Load.latestAmendment(tdef, typed)
        .select(
          Annotations.decodeExpr("cvr_e530_cd", "office_cd",
            col("office_cd")).as("office_desc"),
          col("amend_id"), col("pmnt_amount"), col("pmnt_dt"),
          col("type_tv"))
        .groupBy("office_desc")
        .agg(count(lit(1)).as("n_filings"),
          sum(col("pmnt_amount")).cast(DoubleType).as("sum_latest_pmnt"),
          min(col("pmnt_dt")).as("min_pmnt"),
          max(col("pmnt_dt")).as("max_pmnt"),
          sum(col("type_tv")).as("n_tv"))
        .orderBy(col("office_desc"))
    },
    Some(s"""
      WITH offd(code, meaning) AS (
        VALUES ${graft.meta.Annotations
          .valuesSql("cvr_e530_cd", "office_cd")}),
      base AS (
        SELECT c_custkey AS k,
               CASE c_custkey % 6
                 WHEN 0 THEN 'ASM' WHEN 1 THEN 'GOV' WHEN 2 THEN 'MAY'
                 WHEN 3 THEN 'CCM' WHEN 4 THEN 'ATT' ELSE 'INS'
               END AS office_cd,
               DATE '2014-05-01' + CAST(c_custkey % 100 AS INTEGER)
                 AS pmnt_dt,
               CAST(CAST(c_custkey % 1000 + 0.25 AS DECIMAL(14,2))
                 * (1 + c_custkey % 3) AS DECIMAL(14,2)) AS latest_pmnt,
               c_custkey % 2 AS tv
        FROM customer WHERE c_custkey <= 2000)
      SELECT o.meaning AS office_desc,
             CAST(COUNT(*) AS BIGINT) AS n_filings,
             CAST(SUM(latest_pmnt) AS DOUBLE) AS sum_latest_pmnt,
             MIN(pmnt_dt) AS min_pmnt,
             MAX(pmnt_dt) AS max_pmnt,
             CAST(SUM(tv) AS BIGINT) AS n_tv
      FROM base b JOIN offd o ON b.office_cd = o.code
      GROUP BY 1
      ORDER BY office_desc
    """))

  /** The lobbying side's consumption semantics, end-to-end
    * (`models/lobbying.py:~900` LobbyingChgLogCd): the registry CHANGE
    * FEED — one row per (filer, change_no), latest change wins — versus
    * the campaign side's amendment chains above. The feed is synthesized
    * from customer keys (each filer gets 1–4 sequential changes with an
    * evolving filer_type and a correction flag every third change),
    * rendered as a raw header-cased all-string frame and driven through
    * `Load.load` with the real `lobbying_chg_log_cd` TableDef — so the
    * M/d/yyyy date parse, ''→NULL on the correction flag, and long
    * coercion are what the oracle verifies, not a hand-typed frame.
    * Consumption = one window per filer ordered by change_no: previous
    * type (lag), days since the previous change (lag delta), and the
    * latest-state resolution (is_current on max change_no). Shape: one
    * narrow synthesis map + ONE window shuffle on filer_id — change
    * chains are short (≤ dozens in real data), no skew. */
  val lobbyingChg = GQuery(
    "lobbying_chg",
    (s, d) => {
      import graft.ingest.Load
      import graft.schemas.Schemas
      import org.apache.spark.sql.expressions.Window
      val feed = Tables.customer(s, d)
        .filter(col("c_custkey") <= 1500)
        .select(col("c_custkey").cast(LongType).as("filer_id"),
          explode(sequence(lit(1L),
            col("c_custkey").cast(LongType) % 4 + 1)).as("change_no"),
          col("c_nationkey").cast(LongType).as("nk"))
        .select(
          col("filer_id").cast(StringType).as("FILER_ID"),
          col("change_no").cast(StringType).as("CHANGE_NO"),
          lit("2015").as("SESSION_ID"),
          date_format(date_add(lit("2015-01-01").cast(DateType),
            (col("filer_id") % 300 + col("change_no") * 45)
              .cast(IntegerType)), "M/d/yyyy").as("LOG_DT"),
          ((col("nk") + col("change_no")) % 5 + 1).cast(StringType)
            .as("FILER_TYPE"),
          when(col("change_no") % 3 === 0, lit("Y")).otherwise(lit(""))
            .as("CORRECTION_FLG"))
      // the synthesized feed populates the columns the consumption
      // window reads; the remaining raw-file columns of the full-width
      // table arrive empty (→ NULL at load), as real partial change
      // rows do
      val tdef = Schemas.lobbyingChgLogCd
      val fullFeed = tdef.rawSchema.fieldNames.foldLeft(feed)((df, c) =>
        if (df.columns.contains(c)) df else df.withColumn(c, lit("")))
      val typed = Load.load(tdef, fullFeed)
      val w = Window.partitionBy("filer_id").orderBy("change_no")
      typed
        .withColumn("prev_type", lag(col("filer_type"), 1).over(w))
        .withColumn("days_since_prev",
          datediff(col("log_dt"), lag(col("log_dt"), 1).over(w))
            .cast(LongType))
        .withColumn("is_current",
          col("change_no") === max(col("change_no"))
            .over(Window.partitionBy("filer_id")))
        .select(col("filer_id"), col("change_no"), col("log_dt"),
          col("filer_type"), col("prev_type"), col("days_since_prev"),
          // raw-file name is CORRECTION_FLG; keep the query's output
          // name stable across the registry history
          col("correction_flg").as("correction_flag"), col("is_current"))
        .orderBy("filer_id", "change_no")
    },
    Some("""
      WITH feed AS (
        SELECT CAST(c_custkey AS BIGINT) AS filer_id,
               CAST(t.change_no AS BIGINT) AS change_no,
               CAST(c_nationkey AS BIGINT) AS nk
        FROM customer,
             unnest(generate_series(1, CAST(c_custkey AS BIGINT) % 4 + 1))
               AS t(change_no)
        WHERE c_custkey <= 1500),
      typed AS (
        SELECT filer_id, change_no,
               DATE '2015-01-01'
                 + CAST(filer_id % 300 + change_no * 45 AS INTEGER)
                 AS log_dt,
               CAST((nk + change_no) % 5 + 1 AS BIGINT) AS filer_type,
               CASE WHEN change_no % 3 = 0 THEN 'Y' ELSE NULL END
                 AS correction_flag
        FROM feed)
      SELECT filer_id, change_no, log_dt, filer_type,
             LAG(filer_type) OVER (PARTITION BY filer_id
                                   ORDER BY change_no) AS prev_type,
             CAST(datediff('day',
               LAG(log_dt) OVER (PARTITION BY filer_id ORDER BY change_no),
               log_dt) AS BIGINT) AS days_since_prev,
             correction_flag,
             change_no = MAX(change_no) OVER (PARTITION BY filer_id)
               AS is_current
      FROM typed
      ORDER BY filer_id, change_no
    """))

  /** §3.3 read path: the reference's consumers speak SQL (ORM → SQL →
    * RDBMS); here the same ANSI text runs through spark.sql over
    * registered views — CTE + window + join through the SQL frontend,
    * verbatim-shared with the DuckDB oracle. */
  val sqlSurface = GQuery(
    "sql_surface",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("sql_surface_orders")
      Tables.customer(s, d).createOrReplaceTempView("sql_surface_customer")
      s.sql("""
        WITH ranked AS (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
          FROM sql_surface_orders)
        SELECT c_custkey, c_name, o_orderkey AS best_order, o_totalprice
        FROM ranked JOIN sql_surface_customer ON o_custkey = c_custkey
        WHERE rn = 1
        ORDER BY c_custkey
      """)
    },
    Some("""
      WITH ranked AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        FROM orders)
      SELECT c_custkey, c_name, o_orderkey AS best_order, o_totalprice
      FROM ranked JOIN customer ON o_custkey = c_custkey
      WHERE rn = 1
      ORDER BY c_custkey
    """))

  /** Correlated scalar subquery through the SQL frontend — Catalyst's
    * RewriteCorrelatedScalarSubquery decorrelates it into an aggregate +
    * join (SURVEY §4), so the executed plan is the same shuffle-agg +
    * broadcast-join shape we'd write by hand; the query proves the
    * frontend surface, not a new physical operator. Safe on doubles here:
    * the closest price-to-brand-mean gap in the data is ~9e-3, far above
    * any summation-order ulp. */
  val subqueryCorr = GQuery(
    "subquery_corr",
    (s, d) => {
      Tables.part(s, d).createOrReplaceTempView("subq_part")
      s.sql("""
        SELECT p_partkey, p_brand, p_retailprice
        FROM subq_part p
        WHERE p_retailprice > (SELECT AVG(p2.p_retailprice)
                               FROM subq_part p2
                               WHERE p2.p_brand = p.p_brand)
        ORDER BY p_partkey
      """)
    },
    Some("""
      SELECT p_partkey, p_brand, p_retailprice
      FROM part p
      WHERE p_retailprice > (SELECT AVG(p2.p_retailprice)
                             FROM part p2
                             WHERE p2.p_brand = p.p_brand)
      ORDER BY p_partkey
    """))

  /** Recursive CTE (Spark 4's WITH RECURSIVE): hierarchy traversal —
    * depth of every node in the forest parent(c) = c div 10 over
    * customer keys, seeded at the single-digit roots. Each iteration is
    * one join + union all planned like any other batch step; recursion
    * depth is the chain length (~log10 of the key space), so the plan
    * is |depth| joins of shrinking frontiers — the transitive-closure
    * shape (org charts, amendment chains, BOM explosions) that plain
    * joins can't express at unknown depth. */
  val recursiveCte = GQuery(
    "recursive_cte",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("rec_customer")
      s.sql("""
        WITH RECURSIVE anc(custkey, depth) AS (
          SELECT c_custkey, CAST(0 AS BIGINT) FROM rec_customer
          WHERE c_custkey < 10
          UNION ALL
          SELECT c.c_custkey, a.depth + 1
          FROM rec_customer c JOIN anc a ON c.c_custkey DIV 10 = a.custkey
          WHERE c.c_custkey >= 10)
        SELECT custkey, depth FROM anc
        WHERE custkey <= 2000
      """).orderBy(col("custkey"))
    },
    Some("""
      WITH RECURSIVE anc(custkey, depth) AS (
        SELECT c_custkey, CAST(0 AS BIGINT) FROM customer
        WHERE c_custkey < 10
        UNION ALL
        SELECT c.c_custkey, a.depth + 1
        FROM customer c JOIN anc a ON c.c_custkey // 10 = a.custkey
        WHERE c.c_custkey >= 10)
      SELECT custkey, depth FROM anc
      WHERE custkey <= 2000
      ORDER BY custkey
    """))

  /** MERGE/SCD2 snapshot maintenance — the warehouse-side analog of the
    * reference's amendment chain (latest-amendment-wins, `win_latest`):
    * instead of discarding superseded rows, close them out and version
    * the replacement. The update batch is derived deterministically from
    * the snapshot (keys %7 == 0 get a doubled balance; keys %13 == 0
    * re-enter as inserts under key+900000) so the oracle sees the same
    * batch.
    *
    * Shape: ONE full outer join snapshot↔batch, then each joined row
    * expands to its SCD2 output rows via a per-row array + explode — no
    * second pass, no union of three scans. At 100 TB the join shuffles
    * each side once on the key; everything after is narrow. */
  val scd2Merge = GQuery(
    "scd2_merge",
    (s, d) => {
      val base = Tables.customer(s, d)
        .select(col("c_custkey").as("k"),
          col("c_acctbal").cast(DecimalType(18, 2)).as("bal"))
      val updates = Tables.customer(s, d)
        .filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("k"),
          (col("c_acctbal").cast(DecimalType(18, 2)) * 2)
            .cast(DecimalType(18, 2)).as("new_bal"))
        .union(Tables.customer(s, d)
          .filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 900000).as("k"),
            col("c_acctbal").cast(DecimalType(18, 2)).as("new_bal")))
      val joined = base.join(updates, Seq("k"), "full_outer")
      val rows = joined.select(col("k"), explode(
        when(col("bal").isNotNull && col("new_bal").isNotNull,
          array(
            struct(col("bal").as("bal"), lit(1).as("version"),
              lit(false).as("is_current")),
            struct(col("new_bal").as("bal"), lit(2).as("version"),
              lit(true).as("is_current"))))
          .when(col("bal").isNotNull, // untouched
            array(struct(col("bal").as("bal"), lit(1).as("version"),
              lit(true).as("is_current"))))
          .otherwise( // insert
            array(struct(col("new_bal").as("bal"), lit(1).as("version"),
              lit(true).as("is_current"))))).as("r"))
      rows.select(col("k"),
        col("r.bal").cast(DecimalType(18, 2)).cast(DoubleType).as("bal"),
        col("r.version").cast(LongType).as("version"),
        col("r.is_current"))
        .orderBy("k", "version")
    },
    Some("""
      WITH base AS (
        SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
        FROM customer),
      updates AS (
        SELECT c_custkey AS k,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 2 AS DECIMAL(18,2))
                 AS new_bal
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey + 900000,
               CAST(c_acctbal AS DECIMAL(18,2))
        FROM customer WHERE c_custkey % 13 = 0),
      j AS (
        SELECT COALESCE(b.k, u.k) AS k, b.bal, u.new_bal
        FROM base b FULL OUTER JOIN updates u ON b.k = u.k)
      SELECT k, CAST(bal AS DOUBLE) AS bal,
             CAST(1 AS BIGINT) AS version,
             (new_bal IS NULL) AS is_current
      FROM j WHERE bal IS NOT NULL
      UNION ALL
      SELECT k, CAST(new_bal AS DOUBLE), CAST(2 AS BIGINT), TRUE
      FROM j WHERE bal IS NOT NULL AND new_bal IS NOT NULL
      UNION ALL
      SELECT k, CAST(new_bal AS DOUBLE), CAST(1 AS BIGINT), TRUE
      FROM j WHERE bal IS NULL
      ORDER BY k, version
    """))

  def all: Seq[GQuery] = Seq(q1Pricing, filterPred, loadTyped, loadDatetime,
    decimalCast, cleanSplitGood, cleanSplitBad, strClean, ingestPipeline,
    archiveRoundtrip, trackingVerify, trackingVersion, filerTypeAsof,
    amendLatest, amendLatestSkew, lobbyingChg,
    registrationLatest, lobbyDisclosureLatest, e530Latest, sqlSurface,
    subqueryCorr,
    recursiveCte, scd2Merge)
}

