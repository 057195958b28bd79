package graft.ops

import graft.{GQuery, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.8 scalar function families ≙ the reference's clean-layer string work
  * (`cleancalaccessrawdata.py:~80-160`), display-name concat
  * (`models/campaign.py:~1870`), admin search (`admin.py:~30-80`),
  * tracking durations (`models/tracking.py:~160-200`), plus the JSON/array
  * extension families the testdata mandates.
  *
  * All pure codegen'd `functions._` — no UDFs anywhere (SURVEY §2.11).
  */
object ScalarQueries {

  /** F1–F3, F8: case, trim, concat_ws display-name, substring prefix
    * grouping, length, round. */
  val strFuncs = GQuery(
    "str_funcs",
    (s, d) =>
      Tables.customer(s, d)
        .select(
          col("c_custkey"),
          upper(col("c_name")).as("name_upper"),
          lower(col("c_mktsegment")).as("seg_lower"),
          concat_ws(", ", col("c_name"), col("c_mktsegment")).as("display"),
          substring(col("c_name"), 1, 8).as("name_prefix"),
          length(col("c_name")).cast(LongType).as("name_len"))
        .orderBy("c_custkey"),
    Some("""
      SELECT c_custkey,
             UPPER(c_name) AS name_upper,
             LOWER(c_mktsegment) AS seg_lower,
             concat_ws(', ', c_name, c_mktsegment) AS display,
             substr(c_name, 1, 8) AS name_prefix,
             CAST(length(c_name) AS BIGINT) AS name_len
      FROM customer
      ORDER BY c_custkey
    """))

  /** F4 LIKE/contains search (admin `search_fields` → icontains). */
  val strSearch = GQuery(
    "str_search",
    (s, d) =>
      Tables.documents(s, d)
        .filter(col("text").contains("merge"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang")),
    Some("""
      SELECT lang, COUNT(*) AS n_docs
      FROM documents
      WHERE text LIKE '%merge%'
      GROUP BY lang
      ORDER BY lang
    """))

  /** F6 date_trunc/extract: per-day event counts (≙ per-month release
    * grouping, `models/tracking.py:~140`). */
  val dateTruncAgg = GQuery(
    "date_trunc_agg",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("day"), col("event_type")),
    Some("""
      SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt
      FROM events
      GROUP BY 1, 2
      ORDER BY day, event_type
    """))

  /** F6b extract parts: year/month order histogram. */
  val dateParts = GQuery(
    "date_parts",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(
          year(col("o_orderdate")).cast(LongType).as("yr"),
          month(col("o_orderdate")).cast(LongType).as("mo"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("yr"), col("mo")),
    Some("""
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(month(o_orderdate) AS BIGINT) AS mo,
             COUNT(*) AS cnt
      FROM orders
      GROUP BY 1, 2
      ORDER BY yr, mo
    """))

  /** F7 date arithmetic: customer activity span in days
    * (≙ download_start→finish durations). */
  val dateDiff = GQuery(
    "date_diff",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(
          datediff(max(to_date(col("o_orderdate"))),
            min(to_date(col("o_orderdate"))))
            .cast(LongType).as("span_days"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_custkey"),
    Some("""
      SELECT o_custkey,
             CAST(date_diff('day', MIN(CAST(o_orderdate AS DATE)), MAX(CAST(o_orderdate AS DATE))) AS BIGINT) AS span_days,
             COUNT(*) AS n_orders
      FROM orders
      GROUP BY o_custkey
      ORDER BY o_custkey
    """))

  /** F9 JSON extract (events.props) — extension; reference has no JSON. */
  val jsonExtract = GQuery(
    "json_extract",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k_val"))
        .orderBy("event_id"),
    Some("""
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
      FROM events
      ORDER BY event_id
    """))

  /** F9b JSON extracted value used relationally: group by parity of k. */
  val jsonAgg = GQuery(
    "json_agg",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          (get_json_object(col("props"), "$.k").cast(LongType) % 2)
            .as("k_parity"))
        .groupBy("event_type", "k_parity")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("event_type"), col("k_parity")),
    Some("""
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) % 2 AS k_parity,
             COUNT(*) AS cnt
      FROM events
      GROUP BY 1, 2
      ORDER BY event_type, k_parity
    """))

  /** F10 array higher-order ops: per-document token array stats — no
    * explode, pure array expressions (transform/filter/aggregate analog).
    */
  val arrayOps = GQuery(
    "array_ops",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).cast(LongType).as("n_toks"),
          size(array_distinct(col("toks"))).cast(LongType).as("n_uniq"),
          size(filter(col("toks"), t => length(t) > 5)).cast(LongType)
            .as("n_long"),
          element_at(array_sort(col("toks")), 1).as("first_tok"))
        .orderBy("doc_id"),
    Some("""
      SELECT doc_id,
             CAST(len(str_split(text, ' ')) AS BIGINT) AS n_toks,
             CAST(len(list_distinct(str_split(text, ' '))) AS BIGINT) AS n_uniq,
             CAST(len(list_filter(str_split(text, ' '), t -> length(t) > 5)) AS BIGINT) AS n_long,
             list_sort(str_split(text, ' '))[1] AS first_tok
      FROM documents
      ORDER BY doc_id
    """))

  /** F1–F3 extended family: padding, translate, replace, reverse,
    * repeat, position — the remaining clean-layer string toolbox. */
  val strFuncs2 = GQuery(
    "str_funcs2",
    (s, d) =>
      Tables.nation(s, d)
        .select(
          col("n_nationkey"),
          lpad(col("n_name"), 12, ".").as("padded"),
          translate(col("n_name"), "AEIOU", "aeiou").as("translated"),
          regexp_replace(col("n_name"), "A", "@").as("replaced"),
          reverse(col("n_name")).as("reversed"),
          repeat(substring(col("n_name"), 1, 2), 2).as("repeated"),
          instr(col("n_name"), "A").cast(LongType).as("a_pos"))
        .orderBy(col("n_nationkey")),
    Some("""
      SELECT n_nationkey,
             lpad(n_name, 12, '.') AS padded,
             translate(n_name, 'AEIOU', 'aeiou') AS translated,
             replace(n_name, 'A', '@') AS replaced,
             reverse(n_name) AS reversed,
             repeat(substr(n_name, 1, 2), 2) AS repeated,
             CAST(strpos(n_name, 'A') AS BIGINT) AS a_pos
      FROM nation
      ORDER BY n_nationkey
    """))

  /** `choices=` enum decode (`models/campaign.py:~1900`,
    * `annotations/__init__.py:~60`): closed code set → documented meaning.
    * Inline `when().otherwise()` for tiny enums — constant-folded into the
    * scan, zero joins; `join_broadcast` covers the table-driven form. */
  val decodeEnum = GQuery(
    "decode_enum",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          when(col("l_returnflag") === "A", "ACCEPTED")
            .when(col("l_returnflag") === "R", "RETURNED")
            .when(col("l_returnflag") === "N", "NONE")
            .otherwise("UNKNOWN").as("flag_desc"),
          when(col("l_linestatus") === "F", "FILED")
            .when(col("l_linestatus") === "O", "OPEN")
            .otherwise("UNKNOWN").as("status_desc"))
        .groupBy("flag_desc", "status_desc")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("flag_desc"), col("status_desc")),
    Some("""
      SELECT CASE l_returnflag WHEN 'A' THEN 'ACCEPTED'
                               WHEN 'R' THEN 'RETURNED'
                               WHEN 'N' THEN 'NONE'
                               ELSE 'UNKNOWN' END AS flag_desc,
             CASE l_linestatus WHEN 'F' THEN 'FILED'
                               WHEN 'O' THEN 'OPEN'
                               ELSE 'UNKNOWN' END AS status_desc,
             COUNT(*) AS cnt
      FROM lineitem
      GROUP BY 1, 2
      ORDER BY flag_desc, status_desc
    """))

  /** The registry-driven twin of `decode_enum`: meanings come from the
    * annotations layer (`graft.meta.Annotations`, ≙ the reference's
    * `annotations/__init__.py` choices registry), not an inline literal
    * map — the Spark side broadcast-joins the seeded `choice_codes`
    * dimension and the oracle's VALUES list is GENERATED from the same
    * registry (`Annotations.valuesSql`), so the two engines cannot
    * disagree about a code's documented meaning. Broadcast left join +
    * coalesce is the table-driven decode shape that scales past what a
    * codegen'd CASE should carry. */
  val decodeRegistry = GQuery(
    "decode_registry",
    (s, d) => {
      val dims = graft.meta.Annotations.choicesDf(s)
      def dim(column: String, as: String) = broadcast(
        dims.filter(col("table_name") === "lineitem" &&
            col("column_name") === column)
          .select(col("code").as(s"${as}_code"),
            col("meaning").as(s"${as}_meaning")))
      Tables.lineitem(s, d)
        .join(dim("l_returnflag", "f"),
          col("l_returnflag") === col("f_code"), "left")
        .join(dim("l_linestatus", "st"),
          col("l_linestatus") === col("st_code"), "left")
        .select(
          coalesce(col("f_meaning"), lit("UNKNOWN")).as("flag_desc"),
          coalesce(col("st_meaning"), lit("UNKNOWN")).as("status_desc"))
        .groupBy("flag_desc", "status_desc")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("flag_desc"), col("status_desc"))
    },
    Some(s"""
      WITH flagd(code, meaning) AS (
        VALUES ${graft.meta.Annotations.valuesSql("lineitem", "l_returnflag")}),
      statd(code, meaning) AS (
        VALUES ${graft.meta.Annotations.valuesSql("lineitem", "l_linestatus")})
      SELECT COALESCE(f.meaning, 'UNKNOWN') AS flag_desc,
             COALESCE(st.meaning, 'UNKNOWN') AS status_desc,
             COUNT(*) AS cnt
      FROM lineitem l
      LEFT JOIN flagd f ON l.l_returnflag = f.code
      LEFT JOIN statd st ON l.l_linestatus = st.code
      GROUP BY 1, 2
      ORDER BY flag_desc, status_desc
    """))

  /** `decode_registry` extended to a SECOND table: the identical
    * annotations-driven broadcast decode over orders.o_orderstatus —
    * proving the registry mechanism is per-(table, column) data, not a
    * lineitem special case (the oracle VALUES list again derives from
    * `Annotations.valuesSql`, so the engines share one source of
    * truth). Same scale shape: broadcast dim, left join folded into the
    * scan, one |groups|-row shuffle for the aggregate. */
  val decodeRegistry2 = GQuery(
    "decode_registry2",
    (s, d) => {
      val dim = broadcast(graft.meta.Annotations.choicesDf(s)
        .filter(col("table_name") === "orders" &&
          col("column_name") === "o_orderstatus")
        .select(col("code"), col("meaning")))
      Tables.orders(s, d)
        .join(dim, col("o_orderstatus") === col("code"), "left")
        .select(coalesce(col("meaning"), lit("UNKNOWN")).as("status_desc"))
        .groupBy("status_desc")
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("status_desc"))
    },
    Some(s"""
      WITH statd(code, meaning) AS (
        VALUES ${graft.meta.Annotations.valuesSql("orders", "o_orderstatus")})
      SELECT COALESCE(st.meaning, 'UNKNOWN') AS status_desc,
             COUNT(*) AS cnt
      FROM orders o
      LEFT JOIN statd st ON o.o_orderstatus = st.code
      GROUP BY 1
      ORDER BY status_desc
    """))

  /** The annotations layer verifying ITSELF (≙ the reference's
    * documented-choices completeness reporting — `get_sorted_choices`
    * feeding the per-form docs pipeline): for every testdata-analog
    * (table, column) the registry documents, how many codes are
    * documented, how many distinct codes actually occur in the data,
    * and whether every occurring code is documented. The oracle's
    * VALUES list is generated from the same registry
    * (`Annotations.sortedChoices`), making the annotations content
    * hash-verified by the driver, not just spec-pinned.
    *
    * Scale shape: per-column DISTINCT is a map-side-combinable hash
    * aggregate over a low-cardinality code column (output rows =
    * |codes|, never |table|); the registry side is a driver-seeded
    * dimension broadcast to both joins. */
  val metaCoverage = GQuery(
    "meta_coverage",
    (s, d) => {
      import graft.meta.Annotations
      val analogPairs = Seq(
        ("lineitem", "l_returnflag"), ("lineitem", "l_linestatus"),
        ("orders", "o_orderstatus"))
      def present(df: org.apache.spark.sql.DataFrame, t: String, c: String) =
        df.select(col(c).as("code")).distinct()
          .select(lit(t).as("table_name"), lit(c).as("column_name"),
            col("code"))
      val pres =
        present(Tables.lineitem(s, d), "lineitem", "l_returnflag")
          .unionAll(present(Tables.lineitem(s, d), "lineitem", "l_linestatus"))
          .unionAll(present(Tables.orders(s, d), "orders", "o_orderstatus"))
      val reg = Annotations.choicesDf(s)
        .filter(analogPairs.map { case (t, c) =>
          col("table_name") === t && col("column_name") === c
        }.reduce(_ || _))
      val doc = reg.groupBy("table_name", "column_name")
        .agg(count(lit(1)).as("n_documented"))
      pres
        .join(broadcast(reg.select(col("table_name"), col("column_name"),
          col("code"), lit(1).as("documented"))),
          Seq("table_name", "column_name", "code"), "left")
        .groupBy("table_name", "column_name")
        .agg(count(lit(1)).as("n_present"),
          count(col("documented")).as("n_covered"))
        .join(broadcast(doc), Seq("table_name", "column_name"))
        .select(col("table_name"), col("column_name"), col("n_documented"),
          col("n_present"), col("n_covered"),
          (col("n_present") === col("n_covered")).as("full_coverage"))
        .orderBy(col("table_name"), col("column_name"))
    },
    Some {
      import graft.meta.Annotations
      val regValues = Seq(
        ("lineitem", "l_returnflag"), ("lineitem", "l_linestatus"),
        ("orders", "o_orderstatus"))
        .flatMap { case (t, c) => Annotations.sortedChoices(t, c)
          .map(ch => s"('$t', '$c', '${ch.code}')") }
        .mkString(", ")
      s"""
      WITH reg(table_name, column_name, code) AS (VALUES $regValues),
      present AS (
        SELECT 'lineitem' AS table_name, 'l_returnflag' AS column_name,
               l_returnflag AS code FROM lineitem GROUP BY 3
        UNION ALL
        SELECT 'lineitem', 'l_linestatus', l_linestatus
        FROM lineitem GROUP BY 3
        UNION ALL
        SELECT 'orders', 'o_orderstatus', o_orderstatus
        FROM orders GROUP BY 3),
      doc AS (
        SELECT table_name, column_name, COUNT(*) AS n_documented
        FROM reg GROUP BY 1, 2)
      SELECT p.table_name, p.column_name, d.n_documented,
             CAST(COUNT(*) AS BIGINT) AS n_present,
             CAST(COUNT(r.code) AS BIGINT) AS n_covered,
             (COUNT(*) = COUNT(r.code)) AS full_coverage
      FROM present p
      JOIN doc d ON p.table_name = d.table_name
                AND p.column_name = d.column_name
      LEFT JOIN reg r ON p.table_name = r.table_name
                     AND p.column_name = r.column_name AND p.code = r.code
      GROUP BY 1, 2, 3
      ORDER BY 1, 2
      """
    })

  /** The filing-form directory verifying itself (the forms side of
    * `meta_coverage`; ≙ `annotations/filing_forms.py` feeding the docs
    * build): every form with its section count, joined against the
    * number of catalog tables whose FORM_TYPE choices reference it.
    * The oracle re-derives the form↔table cross-links INDEPENDENTLY —
    * raw registry rows enter as VALUES and DuckDB's own regexp
    * extracts the base form id — so both the directory content and the
    * `baseFormId` linking rule are hash-verified, not just spec-pinned.
    * Shape: two driver-seeded dimensions, one broadcast join — no data
    * tables involved, constant work at any corpus size. */
  val metaForms = GQuery(
    "meta_forms",
    (s, _) => {
      import s.implicits._
      import graft.meta.Annotations
      // the attested-but-undocumented tier rides along with a sentinel
      // title; its n_reffing_tables is COMPUTED here but HARD-CODED to 0
      // in the oracle, so a documented FORM_TYPE choice referencing an
      // attested-only id (= an id overdue for promotion) fails the hash
      val forms = Annotations.formsDf(s)
        .select(col("form_id"), col("title"), col("n_sections"))
        .unionByName(Annotations.attestedUndocumentedFormIds
          .map(id => (id, "(attested: title undocumented)", 0))
          .toDF("form_id", "title", "n_sections"))
      val refs = Annotations.choices.toSeq
        .collect { case ((t, "form_type"), cs) => cs.map(ch => (t, ch.code)) }
        .flatten.toDF("table_name", "code")
        .select(col("table_name"),
          regexp_extract(col("code"), "^([EF]\\d+)", 1).as("base_id"))
        .filter(col("base_id") =!= "")
        .groupBy("base_id")
        .agg(countDistinct(col("table_name")).as("n_reffing_tables"))
      forms.join(broadcast(refs), col("form_id") === col("base_id"), "left")
        .select(col("form_id"), col("title"),
          col("n_sections").cast(LongType).as("n_sections"),
          coalesce(col("n_reffing_tables"), lit(0L)).as("n_reffing_tables"))
        .orderBy(col("form_id"))
    },
    Some {
      import graft.meta.Annotations
      def q(v: String) = v.replace("'", "''")
      val formVals = Annotations.filingForms
        .map(f => s"('${q(f.id)}', '${q(f.title)}', ${f.sections.size})")
        .mkString(", ")
      val refVals = Annotations.choices.toSeq
        .collect { case ((t, "form_type"), cs) =>
          cs.map(ch => s"('${q(t)}', '${q(ch.code)}')") }
        .flatten.mkString(", ")
      val attestedVals = Annotations.attestedUndocumentedFormIds
        .map(id => s"('${q(id)}')").mkString(", ")
      s"""
      WITH forms(form_id, title, n_sections) AS (VALUES $formVals),
      refs(table_name, code) AS (VALUES $refVals),
      attested(form_id) AS (VALUES $attestedVals),
      agg AS (
        SELECT regexp_extract(code, '^([EF]\\d+)', 1) AS base_id,
               CAST(COUNT(DISTINCT table_name) AS BIGINT)
                 AS n_reffing_tables
        FROM refs
        WHERE regexp_extract(code, '^([EF]\\d+)', 1) <> ''
        GROUP BY 1)
      SELECT * FROM (
        SELECT f.form_id, f.title,
               CAST(f.n_sections AS BIGINT) AS n_sections,
               COALESCE(a.n_reffing_tables, CAST(0 AS BIGINT))
                 AS n_reffing_tables
        FROM forms f LEFT JOIN agg a ON f.form_id = a.base_id
        UNION ALL
        -- the invariant: attested ids must be UNREFERENCED (0 here is
        -- asserted, not computed — the Spark side computes it)
        SELECT t.form_id, '(attested: title undocumented)',
               CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        FROM attested t)
      ORDER BY form_id
      """
    })

  /** F1–F8 widening: pad/translate/split_part/left/right/repeat/reverse +
    * regexp_extract_all — the remaining portable string surface. The
    * extract-all array is canonicalized to a '|'-joined string so the
    * hash compare stays on scalars. */
  val strFuncs3 = GQuery(
    "str_funcs3",
    (s, d) =>
      Tables.part(s, d)
        .filter(col("p_partkey") <= 100)
        .select(col("p_partkey"),
          lpad(col("p_brand"), 12, "*").as("brand_lpad"),
          rpad(col("p_brand"), 12, "-").as("brand_rpad"),
          translate(col("p_type"), " ", "_").as("type_us"),
          expr("split_part(p_type, ' ', 2)").as("type_mid"),
          expr("left(p_name, 5)").as("name_l5"),
          expr("right(p_name, 5)").as("name_r5"),
          repeat(lit("ab"), 3).as("rep"),
          reverse(col("p_brand")).as("brand_rev"),
          array_join(expr("regexp_extract_all(p_name, '[a-z]+', 0)"), "|")
            .as("name_words"))
        .orderBy("p_partkey"),
    Some("""
      SELECT p_partkey,
             lpad(p_brand, 12, '*') AS brand_lpad,
             rpad(p_brand, 12, '-') AS brand_rpad,
             translate(p_type, ' ', '_') AS type_us,
             split_part(p_type, ' ', 2) AS type_mid,
             left(p_name, 5) AS name_l5,
             right(p_name, 5) AS name_r5,
             repeat('ab', 3) AS rep,
             reverse(p_brand) AS brand_rev,
             array_to_string(regexp_extract_all(p_name, '[a-z]+'), '|') AS name_words
      FROM part
      WHERE p_partkey <= 100
      ORDER BY p_partkey
    """))

  /** Date-spine densification: generate every day in the observed range
    * (explode over `sequence`, the generator surface) and left-join the
    * per-day activity so gaps appear as explicit zero rows — the
    * time-series gap-fill every reporting layer needs. The spine is
    * |days| rows, so at 100 TB it broadcasts and the fact side never
    * reshuffles for the join. */
  val dateSpine = GQuery(
    "date_spine",
    (s, d) => {
      val ev = Tables.events(s, d)
      val range = ev.agg(
        to_date(min(col("ts"))).as("lo"), to_date(max(col("ts"))).as("hi"))
      val spine = range
        .select(explode(sequence(col("lo"), col("hi"))).as("day"))
      val daily = ev
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("cnt"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day").cast(StringType).as("day"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
        .orderBy(col("day"))
    },
    Some("""
      WITH r AS (
        SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
        FROM events),
      spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        FROM r),
      daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS cnt
        FROM events GROUP BY 1)
      SELECT CAST(s.day AS VARCHAR) AS day, COALESCE(d.cnt, 0) AS cnt
      FROM spine s LEFT JOIN daily d ON s.day = d.day
      ORDER BY day
    """))

  /** The schema registry reporting ITSELF (the model-inventory side of
    * `meta_coverage`/`meta_forms`; ≙ the reference's
    * `get_model_list()` + `tests/test_models.py` doc-completeness
    * walk): one row per catalog table with its width, coercion-list
    * sizes, UNIQUE_KEY arity, and an md5 fingerprint of the ORDERED
    * column-name list. The oracle receives one VALUES row PER COLUMN
    * (~1.6k rows across the 82 tables) and re-aggregates the counts
    * and the fingerprint with DuckDB's own ordered string_agg — so
    * every column name of every table, in declaration order, rides
    * through the driver hash: a dropped/renamed/reordered column in
    * any TableDef breaks `schema_catalog`, making the full-width
    * catalog claim driver-verified rather than spec-pinned.
    *
    * Scale shape: a driver-seeded dimension of |tables| rows —
    * constant work at any corpus size. */
  val schemaCatalog = GQuery(
    "schema_catalog",
    (s, _) => {
      import s.implicits._
      import graft.schemas.Schemas
      Schemas.all.map { t =>
        (t.name, t.schema.length.toLong, t.dateFields.size.toLong,
          t.datetimeFields.size.toLong, t.uniqueKey.size.toLong,
          t.uniqueKey.head, t.schema.fieldNames.mkString(","))
      }.toDF("table_name", "n_columns", "n_date_cols", "n_datetime_cols",
          "key_arity", "key_head", "cols_csv")
        .select(col("table_name"), col("n_columns"), col("n_date_cols"),
          col("n_datetime_cols"), col("key_arity"), col("key_head"),
          md5(col("cols_csv")).as("cols_md5"))
        .orderBy(col("table_name"))
    },
    Some {
      import graft.schemas.Schemas
      val colVals = Schemas.all.flatMap { t =>
        t.schema.fieldNames.zipWithIndex.map { case (c, i) =>
          s"('${t.name}', ${i + 1}, '$c', " +
            s"${t.dateFields.contains(c)}, ${t.datetimeFields.contains(c)})"
        }
      }.mkString(", ")
      val keyVals = Schemas.all.map(t =>
        s"('${t.name}', ${t.uniqueKey.size}, '${t.uniqueKey.head}')")
        .mkString(", ")
      s"""
      WITH cols(table_name, ord, column_name, is_date, is_datetime) AS
        (VALUES $colVals),
      keys(table_name, key_arity, key_head) AS (VALUES $keyVals),
      agg AS (
        SELECT table_name,
               CAST(COUNT(*) AS BIGINT) AS n_columns,
               CAST(SUM(CASE WHEN is_date THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_date_cols,
               CAST(SUM(CASE WHEN is_datetime THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_datetime_cols,
               md5(string_agg(column_name, ',' ORDER BY ord)) AS cols_md5
        FROM cols GROUP BY 1)
      SELECT a.table_name, a.n_columns, a.n_date_cols, a.n_datetime_cols,
             CAST(k.key_arity AS BIGINT) AS key_arity, k.key_head,
             a.cols_md5
      FROM agg a JOIN keys k ON a.table_name = k.table_name
      ORDER BY a.table_name
      """
    })

  def all: Seq[GQuery] = Seq(strFuncs, strFuncs2, strSearch, dateTruncAgg,
    dateParts, dateDiff, jsonExtract, jsonAgg, arrayOps, decodeEnum,
    strFuncs3, dateSpine, decodeRegistry, decodeRegistry2, metaCoverage,
    metaForms, schemaCatalog)
}
