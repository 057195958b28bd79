package graft.ops

import graft.{GQuery, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.4 aggregations ≙ the reference's verify/report layer
  * (`verifycalaccessrawdata.py:~40-90`, `reportcalaccessrawdata.py:~30-90`,
  * tracking counters `models/tracking.py:~150-260`).
  *
  * Determinism rules (SURVEY §5.2): money is summed as DECIMAL (exact,
  * order-independent); averages are derived from the exact decimal sum by
  * one double division, so partial-aggregation order can never change the
  * hash. The FINAL projection casts decimal results to DOUBLE on both
  * sides: pyarrow renders parquet decimals as `Decimal('12.30')` (trailing
  * zeros) while DuckDB's pandas bridge renders DECIMAL as float64
  * (`12.3`), so a decimal output column hash-mismatches whenever any value
  * has a trailing zero at its scale. The exact decimal is identical in
  * both engines; the double cast agrees PROVIDED the decimal's scaled
  * integer fits in ~2^53 — beyond that, DuckDB's int128→double→÷10^scale
  * (two roundings) can drift 1 ulp from Spark's correctly-rounded
  * BigDecimal.doubleValue. All tested aggregates stay far inside that
  * bound (`DecimalBoundSpec` pins it at sf0.1); at true 100 TB scale,
  * keep sums in bounded DECIMAL and render to fixed-scale strings for
  * cross-engine comparison instead of relying on the double cast.
  *
  * Scale: hash aggregation with map-side partials means the shuffle moves
  * |groups| rows, not |input| — these plans are 100 TB-safe as written.
  */
object AggQueries {

  /** A1 COUNT(*): verify's per-table row count. */
  val aggCount = GQuery(
    "agg_count",
    (s, d) =>
      Tables.lineitem(s, d).groupBy().agg(count(lit(1)).as("cnt")),
    Some("SELECT COUNT(*) AS cnt FROM lineitem"))

  /** A2 grouped counts + sums: records per file/version analog. */
  val aggGroup = GQuery(
    "agg_group",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(14, 2)))
            .cast(DecimalType(38, 2)).cast(DoubleType).as("sum_value"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type, COUNT(*) AS cnt,
             CAST(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_value
      FROM events
      GROUP BY event_type
      ORDER BY event_type
    """))

  /** A4 MIN/MAX: latest release / max amend_id per filing analog. */
  val aggMinmax = GQuery(
    "agg_minmax",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          min(col("o_orderdate")).as("first_date"),
          max(col("o_orderdate")).as("last_date"),
          min(col("o_totalprice").cast(DecimalType(14, 2)))
            .cast(DoubleType).as("min_price"),
          max(col("o_totalprice").cast(DecimalType(14, 2)))
            .cast(DoubleType).as("max_price"))
        .orderBy(col("o_orderstatus")),
    Some("""
      SELECT o_orderstatus,
             MIN(o_orderdate) AS first_date, MAX(o_orderdate) AS last_date,
             CAST(MIN(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS min_price,
             CAST(MAX(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS max_price
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """))

  /** A5 COUNT DISTINCT (exact): distinct filers/forms analog. */
  val aggDistinct = GQuery(
    "agg_distinct",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             COUNT(DISTINCT l_partkey) AS n_parts,
             COUNT(DISTINCT l_suppkey) AS n_supps
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** A5b approximate COUNT DISTINCT — the 100 TB cardinality path
    * (HyperLogLog++, one pass, fixed memory). The sketch value itself has
    * no DuckDB twin, so the query emits a TOLERANCE BOOLEAN instead: the
    * exact per-group count (hash-anchoring the row) plus
    * `approx_within_5pct` comparing the HLL++ estimate against that exact
    * count in the same aggregation. The oracle computes the identical
    * exact count and asserts the boolean TRUE — so the driver's hash
    * compare now verifies both the group cardinalities AND that the
    * sketch landed inside its advertised rsd envelope (0.01 configured,
    * 5% asserted). `ApproxDistinctSpec` remains the tighter value pin.
    *
    * Plan shape: mixing countDistinct with a non-distinct agg in ONE
    * groupBy makes Catalyst plan an Expand (2× every input row) — 3× the
    * runtime at sf0.1. HLL++ is duplicate-insensitive, so both counts
    * instead run over a first-level distinct-pairs agg: two map-side-
    * combinable hash aggs, no Expand, and the second agg's input is
    * |distinct pairs|, not |rows| — also the 100 TB-preferred shape. */
  val aggApproxDistinct = GQuery(
    "agg_approx_distinct",
    (s, d) =>
      // (r20: a Fan.out fan-out was measured here and REVERTED — the
      // extra 600k-row exchange cost more than the parallel partial
      // distinct saved; the two-level distinct already bounds the
      // single-task work to one hash pass)
      Tables.lineitem(s, d)
        // NULL partkeys would count as a distinct pair here but are
        // excluded by the oracle's COUNT(DISTINCT) — drop them so both
        // sides agree on any data shape
        .where(col("l_partkey").isNotNull)
        .select(col("l_returnflag"), col("l_partkey")).distinct()
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
          count(lit(1)).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts").cast(DoubleType) -
            col("exact_parts").cast(DoubleType)) <=
            col("exact_parts").cast(DoubleType) * 0.05)
            .as("approx_within_5pct"))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag,
             COUNT(DISTINCT l_partkey) AS exact_parts,
             TRUE AS approx_within_5pct
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** A6 AVG via exact-sum-then-divide (hash-stable; see object doc). */
  val aggAvg = GQuery(
    "agg_avg",
    (s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_mktsegment"))
        .agg(
          sum(col("c_acctbal").cast(DecimalType(18, 2))).as("raw_sum"),
          count(lit(1)).as("cnt"))
        .select(
          col("c_mktsegment"),
          col("cnt"),
          (col("raw_sum").cast(DoubleType) / col("cnt")).as("avg_bal"))
        .orderBy(col("c_mktsegment")),
    Some("""
      SELECT c_mktsegment, COUNT(*) AS cnt,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
      FROM customer
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment
    """))

  /** A7 ROLLUP: per-version / per-file / grand-total report structure
    * (`models/tracking.py:~150`). Rolled-up NULL keys are coalesced to a
    * sentinel so ordering semantics can't diverge between engines. */
  val aggRollup = GQuery(
    "agg_rollup",
    (s, d) =>
      Tables.customer(s, d)
        .rollup(col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          sum(col("c_acctbal").cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 2)).cast(DoubleType).as("sum_bal"))
        .select(
          coalesce(col("c_mktsegment"), lit("<ALL>")).as("seg"),
          coalesce(col("c_nationkey").cast(StringType), lit("<ALL>")).as("nk"),
          col("cnt"), col("sum_bal"))
        .orderBy(col("seg"), col("nk")),
    Some("""
      SELECT COALESCE(c_mktsegment, '<ALL>') AS seg,
             COALESCE(CAST(c_nationkey AS VARCHAR), '<ALL>') AS nk,
             COUNT(*) AS cnt,
             CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_bal
      FROM customer
      GROUP BY ROLLUP(c_mktsegment, c_nationkey)
      ORDER BY seg, nk
    """))

  /** A7b CUBE: all grouping-set combinations in one pass. */
  val aggCube = GQuery(
    "agg_cube",
    (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"))
        .select(
          coalesce(col("o_orderstatus"), lit("<ALL>")).as("status"),
          coalesce(col("o_orderpriority"), lit("<ALL>")).as("priority"),
          col("cnt"))
        .orderBy(col("status"), col("priority")),
    Some("""
      SELECT COALESCE(o_orderstatus, '<ALL>') AS status,
             COALESCE(o_orderpriority, '<ALL>') AS priority,
             COUNT(*) AS cnt
      FROM orders
      GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY status, priority
    """))

  /** A8 filtered/conditional aggregation: error_count vs clean_count in one
    * pass (`models/tracking.py:~230`). */
  val aggConditional = GQuery(
    "agg_conditional",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .cast(LongType).as("n_errors"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .cast(LongType).as("n_purchases"),
          count(lit(1)).as("n_total"))
        .orderBy("user_id"),
    Some("""
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
             COUNT(*) AS n_total
      FROM events
      GROUP BY user_id
      ORDER BY user_id
    """))

  /** PIVOT: events per day × event_type as a wide report. Pivot values
    * are declared explicitly — at scale that skips the extra
    * distinct-discovery job Spark otherwise runs, keeps the output schema
    * static, and bounds the column fan-out; it compiles to one pass of
    * conditional aggregation (the same plan as A8). */
  val aggPivot = GQuery(
    "agg_pivot",
    (s, d) =>
      Tables.events(s, d)
        .select(to_date(col("ts")).as("day"), col("event_type"))
        .groupBy("day")
        .pivot("event_type",
          Seq("click", "view", "purchase", "signup", "error"))
        .count()
        .na.fill(0L)
        .orderBy(col("day")),
    Some("""
      SELECT CAST(ts AS DATE) AS day,
             COUNT(*) FILTER (event_type = 'click') AS click,
             COUNT(*) FILTER (event_type = 'view') AS view,
             COUNT(*) FILTER (event_type = 'purchase') AS purchase,
             COUNT(*) FILTER (event_type = 'signup') AS signup,
             COUNT(*) FILTER (event_type = 'error') AS error
      FROM events
      GROUP BY 1
      ORDER BY day
    """))

  /** Statistical aggregates — corpus quality profiling (dispersion of
    * document lengths, correlation of price vs quantity). Both engines
    * compute in IEEE double with numerically-stable merge formulas that
    * can differ in the last ulp, so results are rounded to 4 decimals
    * before the hash compare (round-to-decimal of nearly-equal doubles is
    * identical unless the true value sits within 1 ulp of a .00005
    * boundary — not the case for any tested group). Map-side combinable
    * (moment sketches merge associatively) — 100 TB-safe. */
  val aggStats = GQuery(
    "agg_stats",
    (s, d) => {
      def r4(c: Column) =
        round(c, 4).cast(DecimalType(38, 4)).cast(DoubleType)
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          r4(stddev_samp(col("l_quantity").cast(DoubleType))).as("sd_qty"),
          r4(var_samp(col("l_quantity").cast(DoubleType))).as("var_qty"),
          r4(corr(col("l_quantity").cast(DoubleType),
            col("l_extendedprice").cast(DoubleType))).as("corr_qty_price"),
          r4(covar_samp(col("l_quantity").cast(DoubleType),
            col("l_discount").cast(DoubleType))).as("cov_qty_disc"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag,
             CAST(CAST(round(stddev_samp(CAST(l_quantity AS DOUBLE)), 4) AS DECIMAL(38,4)) AS DOUBLE) AS sd_qty,
             CAST(CAST(round(var_samp(CAST(l_quantity AS DOUBLE)), 4) AS DECIMAL(38,4)) AS DOUBLE) AS var_qty,
             CAST(CAST(round(corr(CAST(l_quantity AS DOUBLE), CAST(l_extendedprice AS DOUBLE)), 4) AS DECIMAL(38,4)) AS DOUBLE) AS corr_qty_price,
             CAST(CAST(round(covar_samp(CAST(l_quantity AS DOUBLE), CAST(l_discount AS DOUBLE)), 4) AS DECIMAL(38,4)) AS DOUBLE) AS cov_qty_disc
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** Exact interpolated percentiles (Spark `percentile` ≙ DuckDB
    * `quantile_cont`, both linear interpolation at rank (n−1)·p). Exact
    * percentile sorts within each group — the scale path is
    * `approx_percentile` (KLL/GK sketch, one pass, mergeable), which the
    * ApproxDistinctSpec-style tolerance check covers; this query pins the
    * exact semantics. */
  val aggPercentile = GQuery(
    "agg_percentile",
    (s, d) => {
      def r4(c: Column) =
        round(c, 4).cast(DecimalType(38, 4)).cast(DoubleType)
      // r20 §4: ONE percentile buffer per group for the three
      // l_quantity quantiles (array form) instead of three independent
      // aggregate buffers each holding every value — same
      // Percentile.getPercentile interpolation per element, identical
      // doubles, one-third the aggregation state and merge work.
      // (r20: a Fan.out fan-out was measured here and REVERTED — the
      // percentile buffers ship every value through the exchange, so
      // spreading them cost more than the parallel insert saved)
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .agg(
          expr("percentile(CAST(l_quantity AS DOUBLE), " +
            "array(0.25D, 0.5D, 0.75D))").as("pq"),
          r4(expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.9)"))
            .as("p90_price"))
        .select(col("l_linestatus"),
          r4(element_at(col("pq"), 1)).as("p25"),
          r4(element_at(col("pq"), 2)).as("p50"),
          r4(element_at(col("pq"), 3)).as("p75"),
          col("p90_price"))
        .orderBy(col("l_linestatus"))
    },
    Some("""
      SELECT l_linestatus,
             CAST(CAST(round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 4) AS DECIMAL(38,4)) AS DOUBLE) AS p25,
             CAST(CAST(round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4) AS DECIMAL(38,4)) AS DOUBLE) AS p50,
             CAST(CAST(round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 4) AS DECIMAL(38,4)) AS DOUBLE) AS p75,
             CAST(CAST(round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4) AS DECIMAL(38,4)) AS DOUBLE) AS p90_price
      FROM lineitem
      GROUP BY l_linestatus
      ORDER BY l_linestatus
    """))

  /** EXACT percentiles via a value HISTOGRAM — the 100 TB exact form for
    * LOW-CARDINALITY value domains (quantities, scores, ages: here
    * l_quantity has ~50 distinct values). `agg_percentile` above buffers
    * every row into its group's sort buffer — exact but
    * memory-proportional to the group. This query instead shuffles only
    * the (group, value, count) histogram (map-side combined: the shuffle
    * carries |groups|·|distinct values| rows, ~150 here, regardless of
    * row count), then interpolates the continuous rank r = (n−1)·p
    * inside each value's cumulative span — bit-identical results to
    * percentile()/quantile_cont by construction, same oracle. The
    * precondition is the documented contract: for unbounded-cardinality
    * doubles use `agg_approx_percentile` below instead. */
  val aggPercentileHist = GQuery(
    "agg_percentile_hist",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      def r4(c: Column) =
        round(c, 4).cast(DecimalType(38, 4)).cast(DoubleType)
      val hist = Tables.lineitem(s, d)
        // quantile_cont ignores NULLs; without this filter a NULL value
        // would become a histogram row (NULLS FIRST in the window) that
        // shifts every cumulative span and inflates n. TPC-H l_quantity
        // is never null, but the operator must not depend on that.
        .where(col("l_quantity").isNotNull)
        .groupBy(col("l_linestatus").as("g"),
          col("l_quantity").cast(DoubleType).as("v"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("g").orderBy("v")
      val spans = hist
        .withColumn("cum_end", sum(col("c")).over(w) - 1)
        .withColumn("cum_start", col("cum_end") - col("c") + 1)
        .join(hist.groupBy("g").agg(sum(col("c")).as("n")), "g")
      def interp(p: Double): Column = {
        val r = (col("n") - 1) * lit(p)
        val vf = max(when(floor(r).between(col("cum_start"), col("cum_end")),
          col("v")))
        val vc = max(when(ceil(r).between(col("cum_start"), col("cum_end")),
          col("v")))
        val rq = max(r)
        vf + (rq - floor(rq)) * (vc - vf)
      }
      spans.groupBy(col("g").as("l_linestatus"))
        .agg(r4(interp(0.25)).as("p25"), r4(interp(0.5)).as("p50"),
          r4(interp(0.75)).as("p75"))
        .orderBy(col("l_linestatus"))
    },
    Some("""
      SELECT l_linestatus,
             CAST(CAST(round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.25), 4) AS DECIMAL(38,4)) AS DOUBLE) AS p25,
             CAST(CAST(round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4) AS DECIMAL(38,4)) AS DOUBLE) AS p50,
             CAST(CAST(round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.75), 4) AS DECIMAL(38,4)) AS DOUBLE) AS p75
      FROM lineitem
      GROUP BY l_linestatus
      ORDER BY l_linestatus
    """))

  /** A5-adjacent scale path for percentiles, driver-visible: Spark's
    * approx_percentile (Greenwald–Khanna summaries — bounded memory per
    * group, mergeable partials, ONE pass) versus the exact sort-based
    * `percentile` in `agg_percentile` above, which buffers each group.
    * At 100 TB the exact form is the correctness pin and THIS is what
    * runs. GK summary values have no DuckDB twin, so the query emits
    * TOLERANCE BOOLEANS: the exact interpolated p50 (hash-anchoring each
    * group with a real value, same rounding discipline as
    * `agg_percentile`) plus per-quantile `pXX_ok` flags asserting the GK
    * estimate within max(1 unit, 5%) of the exact percentile computed in
    * the SAME aggregation. The oracle computes the identical exact p50
    * and asserts the booleans TRUE, so the driver's hash row goes green
    * while still failing loudly if the sketch ever drifts.
    * `ApproxPercentileSpec` remains the tighter ±1-unit value pin. */
  val aggApproxPercentile = GQuery(
    "agg_approx_percentile",
    (s, d) => {
      def exact(q: String) =
        expr(s"percentile(CAST(l_quantity AS DOUBLE), $q)")
      def approx(q: String) =
        expr(s"approx_percentile(CAST(l_quantity AS DOUBLE), $q, 10000)")
      def ok(a: Column, e: Column): Column =
        abs(a - e) <= greatest(lit(1.0), abs(e) * 0.05)
      // r20 §4: one exact buffer + one GK sketch for all three
      // quantiles (array forms) instead of six independent aggregate
      // buffers — identical per-element results, a third of the
      // aggregation state.
      Tables.lineitem(s, d)
        .groupBy(col("l_linestatus"))
        .agg(
          expr("percentile(CAST(l_quantity AS DOUBLE), " +
            "array(0.25D, 0.5D, 0.75D))").as("e"),
          expr("approx_percentile(CAST(l_quantity AS DOUBLE), " +
            "array(0.25D, 0.5D, 0.75D), 10000)").as("a"))
        .select(col("l_linestatus"),
          element_at(col("e"), 1).as("e25"),
          element_at(col("a"), 1).cast(DoubleType).as("a25"),
          element_at(col("e"), 2).as("e50"),
          element_at(col("a"), 2).cast(DoubleType).as("a50"),
          element_at(col("e"), 3).as("e75"),
          element_at(col("a"), 3).cast(DoubleType).as("a75"))
        .select(col("l_linestatus"),
          round(col("e50"), 4).cast(DecimalType(38, 4)).cast(DoubleType)
            .as("p50_exact"),
          ok(col("a25"), col("e25")).as("p25_ok"),
          ok(col("a50"), col("e50")).as("p50_ok"),
          ok(col("a75"), col("e75")).as("p75_ok"))
        .orderBy(col("l_linestatus"))
    },
    Some("""
      SELECT l_linestatus,
             CAST(CAST(round(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4) AS DECIMAL(38,4)) AS DOUBLE) AS p50_exact,
             TRUE AS p25_ok,
             TRUE AS p50_ok,
             TRUE AS p75_ok
      FROM lineitem
      GROUP BY l_linestatus
      ORDER BY l_linestatus
    """))

  /** Ordered string aggregation (LISTAGG): collect_list is
    * partition-order-dependent, so the list is canonicalized by
    * array_sort before joining — deterministic under any partitioning,
    * matching DuckDB's string_agg ORDER BY. */
  val aggListagg = GQuery(
    "agg_listagg",
    (s, d) =>
      Tables.nation(s, d)
        .groupBy(col("n_regionkey"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
          .as("nations"))
        .orderBy(col("n_regionkey")),
    Some("""
      SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
      FROM nation
      GROUP BY n_regionkey
      ORDER BY n_regionkey
    """))

  /** ARGMAX/ARGMIN (max_by/min_by): "which event carried the largest
    * value per type" — the latest-amendment pattern as one single-pass
    * aggregate instead of a window. Tie-proof: the ordering key is
    * struct(value, event_id), total because event_id is unique, so the
    * chosen row can never depend on partitioning. DuckDB's arg_max has
    * no composite-key form, so the oracle spells the same semantics via
    * a window max + id tiebreak. NULL values are filtered on BOTH
    * engines first: in a struct ordering key Spark sorts a NULL field
    * smallest (min_by could pick a NULL-value row) while the oracle's
    * MIN/MAX OVER ignores NULLs — the explicit filter makes the two
    * semantics identical instead of relying on the fixture having no
    * NULL values. */
  val aggArgmax = GQuery(
    "agg_argmax",
    (s, d) =>
      Tables.events(s, d)
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          max_by(col("event_id"),
            struct(col("value"), col("event_id"))).as("max_value_event"),
          min_by(col("event_id"),
            struct(col("value"), col("event_id"))).as("min_value_event"))
        .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
             MAX(CASE WHEN value = mx THEN event_id END) AS max_value_event,
             MIN(CASE WHEN value = mn THEN event_id END) AS min_value_event
      FROM (SELECT event_type, event_id, value,
                   MAX(value) OVER (PARTITION BY event_type) AS mx,
                   MIN(value) OVER (PARTITION BY event_type) AS mn
            FROM events WHERE value IS NOT NULL)
      GROUP BY event_type
      ORDER BY event_type
    """))

  /** Explicit GROUPING SETS with grouping_id — the generalized form of
    * ROLLUP/CUBE: exactly the named combinations, one pass. */
  val aggGroupingSets = GQuery(
    "agg_grouping_sets",
    (s, d) =>
      Tables.customer(s, d)
        .groupingSets(
          Seq(Seq(col("c_mktsegment")), Seq(col("c_nationkey")), Seq()),
          col("c_mktsegment"), col("c_nationkey"))
        .agg(count(lit(1)).as("cnt"),
          grouping_id().cast(LongType).as("gid"))
        .select(
          coalesce(col("c_mktsegment"), lit("<ALL>")).as("seg"),
          coalesce(col("c_nationkey").cast(StringType), lit("<ALL>")).as("nk"),
          col("cnt"), col("gid"))
        .orderBy(col("seg"), col("nk")),
    Some("""
      SELECT COALESCE(c_mktsegment, '<ALL>') AS seg,
             COALESCE(CAST(c_nationkey AS VARCHAR), '<ALL>') AS nk,
             COUNT(*) AS cnt,
             CAST(GROUPING(c_mktsegment, c_nationkey) AS BIGINT) AS gid
      FROM customer
      GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
      ORDER BY seg, nk
    """))

  /** Two-phase salted aggregation through `Skew.saltedAggregate`,
    * oracle-checked against the plain GROUP BY: proof at the value level
    * that the skew remedy is a pure plan rewrite. The salt assignment
    * can vary per row (here: hash of a column the aggregate already
    * scans), so ONLY associative-decomposable aggs survive it — count
    * decomposes to sum-of-counts, sum to sum-of-sums; the salt can never
    * change the result, which is exactly what the oracle asserts. */
  val aggSalted = GQuery(
    "agg_salted",
    (s, d) =>
      Skew.saltedAggregate(
        Tables.lineitem(s, d), Seq("l_returnflag"), salts = 8,
        partials = Seq(count(lit(1)).as("c"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).as("q")),
        finals = Seq(sum(col("c")).cast(LongType).as("cnt"),
          sum(col("q")).cast(DecimalType(38, 2)).cast(DoubleType)
            .as("sum_qty")),
        // salt on a column the aggregate already reads — no extra
        // scan width, deterministic across task retries
        saltOn = Seq(col("l_quantity")))
        .orderBy(col("l_returnflag")),
    Some("""
      SELECT l_returnflag, COUNT(*) AS cnt,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag
    """))

  /** Join-key skew diagnosis — the report you run BEFORE deciding to
    * salt (`ops/Skew`): per-key frequency profile of a join/agg key,
    * the top hot keys with their share of all rows, and a skew verdict
    * (hot count > 10× the mean per-key count). At 100 TB this is one
    * map-side-combinable count per key (the shuffle moves |keys| rows)
    * plus a top-k over the |keys|-sized count frame — diagnosis costs
    * one cheap pass, which is why it should run routinely.
    *
    * The testdata's key distribution is deliberately uniform, so the
    * query injects a deterministic hot key first (every order of
    * customer 7 replicated ×40 — the `constraint_check` injection
    * discipline, identically derivable in the oracle): the verdict
    * provably FIRES on the hot key and stays false on the organic
    * ones. */
  val skewReport = GQuery(
    "skew_report",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val orders = Tables.orders(s, d)
      val dirty = orders.unionByName(
        orders.where(col("o_custkey") === 7)
          .withColumn("_rep", explode(sequence(lit(1), lit(40))))
          .drop("_rep"))
      val perKey = dirty.groupBy(col("o_custkey").as("k"))
        .agg(count(lit(1)).as("c"))
      val totals = perKey.agg(
        sum(col("c")).as("n_rows"),
        count(lit(1)).as("n_keys"))
      val w = Window.orderBy(col("c").desc, col("k"))
      perKey
        .withColumn("rnk", row_number().over(w).cast(LongType))
        .where(col("rnk") <= 3)
        .crossJoin(broadcast(totals))
        .select(
          col("rnk"), col("k").as("hot_key"), col("c").as("cnt"),
          col("n_rows"), col("n_keys"),
          (col("c").cast(DoubleType) * 100d /
            col("n_rows").cast(DoubleType)).as("share_pct"),
          (col("c").cast(DoubleType) >
            lit(10d) * col("n_rows").cast(DoubleType) /
              col("n_keys").cast(DoubleType)).as("skewed"))
        .orderBy(col("rnk"))
    },
    Some("""
      WITH dirty AS (
        SELECT o_custkey FROM orders
        UNION ALL
        SELECT o_custkey
        FROM orders, unnest(generate_series(1, 40)) AS t(i)
        WHERE o_custkey = 7),
      kc AS (SELECT o_custkey AS k, COUNT(*) AS c FROM dirty GROUP BY 1),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
                     COUNT(*) AS n_keys FROM kc),
      ranked AS (
        SELECT k, c,
               CAST(ROW_NUMBER() OVER (ORDER BY c DESC, k) AS BIGINT)
                 AS rnk
        FROM kc)
      SELECT rnk, k AS hot_key, c AS cnt, n_rows, n_keys,
             CAST(c AS DOUBLE) * 100 / CAST(n_rows AS DOUBLE) AS share_pct,
             CAST(c AS DOUBLE) >
               10 * CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)
               AS skewed
      FROM ranked, tot
      WHERE rnk <= 3
      ORDER BY rnk
    """))

  /** Statistics-only scan: COUNT / MIN / MAX answered from parquet
    * FOOTER metadata instead of row data — at 100 TB the difference
    * between a metadata pass (one footer read per file) and a full
    * column scan for the profile/verify queries a warehouse runs
    * constantly (the reference's `verifycalaccessrawdata.py:~40-90`
    * count checks are exactly this shape).
    *
    * Mechanics: parquet aggregate pushdown is a DataSource V2 feature,
    * so the read goes through a CHILD SparkSession (`newSession` —
    * shared SparkContext, isolated conf: the v1-list override and the
    * pushdown flag must not leak into other queries' plans) with
    * `spark.sql.parquet.aggregatePushdown=true`. The scan node then
    * carries `PushedAggregation: [COUNT(*), MIN(...), MAX(...)]`
    * (pinned in `AggPushdownSpec`) and emits pre-aggregated footer
    * rows; no WHERE clause and no row-group filtering, the conditions
    * under which footer stats are exact. Values are plain
    * integer/double min/max/count — exact on both engines, no rounding
    * discipline needed. The child session is built once per parent
    * session ([[pushdownSession]]); its executions are its own, so a
    * `QueryExecutionListener` registered on the caller's session does
    * not see them. */
  val aggPushdown = GQuery(
    "agg_pushdown",
    (s, d) => {
      Tables.orders(pushdownSession(s), d)
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
    },
    Some("""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(o_orderkey) AS min_key,
             MAX(o_orderkey) AS max_key,
             MIN(o_totalprice) AS min_price,
             MAX(o_totalprice) AS max_price
      FROM orders
    """))

  /** `agg_pushdown`'s child session of each parent session, built on
    * first use and held weakly: it goes when its parent does. */
  private val pushdownSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  private def pushdownSession(s: SparkSession): SparkSession =
    pushdownSessions.computeIfAbsent(s, (p: SparkSession) => {
      val c = p.newSession()
      c.conf.set("spark.sql.sources.useV1SourceList", "")
      c.conf.set("spark.sql.parquet.aggregatePushdown", "true")
      c
    })

  def all: Seq[GQuery] = Seq(aggCount, aggGroup, aggMinmax, aggDistinct,
    aggApproxDistinct, aggAvg, aggRollup, aggCube, aggConditional, aggPivot,
    aggStats, aggPercentile, aggPercentileHist, aggApproxPercentile,
    aggListagg, aggArgmax, aggGroupingSets, aggSalted, skewReport,
    aggPushdown)
}
