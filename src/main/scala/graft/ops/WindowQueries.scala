package graft.ops

import graft.{GQuery, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.5 window functions — the canonical form of two documented CAL-ACCESS
  * semantics: latest-amendment-wins (`FilerFilingsCd.filing_sequence`,
  * `models/common.py:~200-260`) and stored running totals
  * (`RcptCd.cum_ytd`, `models/campaign.py:~1850`).
  *
  * Every window is partitioned by a key (user_id / brand) — at scale the
  * sort happens within hash partitions, never globally. Orderings always
  * end in a unique tiebreaker column so results are deterministic.
  */
object WindowQueries {

  /** W1 latest-amendment-wins: per filing keep max AMEND_ID ≙ per user
    * keep the latest event. row_number (not rank) + unique tiebreak. */
  val winLatest = GQuery(
    "win_latest",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event"),
          col("ts").as("last_ts"), col("event_type").as("last_type"))
        .orderBy("user_id")
    },
    Some("""
      SELECT user_id, event_id AS last_event, ts AS last_ts, event_type AS last_type
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1
      ORDER BY user_id
    """))

  /** W2 ranking: top contributors per candidate ≙ top parts per brand.
    * rank() keeps ties (deterministic); output limited to top 5/brand. */
  val winRank = GQuery(
    "win_rank",
    (s, d) => {
      val w = Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
      Tables.part(s, d)
        .withColumn("rnk", rank().over(w).cast(LongType))
        .filter(col("rnk") <= 5)
        .select("p_brand", "p_partkey", "p_retailprice", "rnk")
        .orderBy(col("p_brand"), col("rnk"), col("p_partkey"))
    },
    Some("""
      SELECT p_brand, p_partkey, p_retailprice, rnk
      FROM (SELECT p_brand, p_partkey, p_retailprice,
                   CAST(RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rnk
            FROM part)
      WHERE rnk <= 5
      ORDER BY p_brand, rnk, p_partkey
    """))

  /** W3 running total: recompute CUM_YTD — frame agg over ordered rows.
    * Decimal accumulation: both engines fold in the same row order, so
    * the running value is exact and hash-stable. */
  val winCumsum = GQuery(
    "win_cumsum",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
          sum(col("value").cast(DecimalType(14, 2))).over(w)
            .cast(DecimalType(38, 2)).cast(DoubleType).as("running_value"))
        .orderBy("user_id", "event_id")
    },
    Some("""
      SELECT user_id, event_id, ts,
             CAST(CAST(SUM(CAST(value AS DECIMAL(14,2)))
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS DOUBLE) AS running_value
      FROM events
      ORDER BY user_id, event_id
    """))

  /** W4 lag/lead delta: change-feed diffs (`LobbyingChgLogCd`) ≙
    * inter-event gap per user in microseconds (integer math only). */
  val winLag = GQuery(
    "win_lag",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
            .cast(LongType).as("gap_us"))
        .orderBy("user_id", "event_id")
    },
    Some("""
      SELECT user_id, event_id,
             CAST(epoch_us(ts) - LAG(epoch_us(ts), 1)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS gap_us
      FROM events
      ORDER BY user_id, event_id
    """))

  /** O3 top-k per group without a global sort: window row_number ≤ k —
    * the scale-safe form of "top contributors per candidate". */
  val topkGroup = GQuery(
    "topk_group",
    (s, d) => {
      val w = Window.partitionBy(col("l_returnflag"), col("l_linestatus"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
      // r20 §2 (Fan): the map-side WindowGroupLimit (local sort +
      // per-group top-5) otherwise runs inside the single-split scan
      // task — spread it; identity at deployment scan parallelism
      Fan.out(Tables.lineitem(s, d), col("l_orderkey"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 5)
        .select("l_returnflag", "l_linestatus", "l_orderkey", "l_linenumber",
          "l_extendedprice", "rn")
        .orderBy(col("l_returnflag"), col("l_linestatus"), col("rn"))
    },
    Some("""
      SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber, l_extendedprice, rn
      FROM (SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber, l_extendedprice,
                   CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag, l_linestatus
                        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS BIGINT) AS rn
            FROM lineitem)
      WHERE rn <= 5
      ORDER BY l_returnflag, l_linestatus, rn
    """))

  /** W5 distribution ranks: ntile / percent_rank / cume_dist. The
    * ordering ends in the unique o_orderkey so there are no ties and the
    * rank-derived ratios are exact small-integer divisions — identical
    * IEEE doubles in both engines, no rounding needed. */
  val winNtile = GQuery(
    "win_ntile",
    (s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .filter(col("o_orderkey") <= 10000)
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).cast(LongType).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    },
    Some("""
      SELECT o_orderpriority, o_orderkey,
             CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             percent_rank() OVER w AS pct_rank,
             cume_dist() OVER w AS cume
      FROM orders
      WHERE o_orderkey <= 10000
      WINDOW w AS (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey)
      ORDER BY o_orderpriority, o_orderkey
    """))

  /** W6 explicit frames: first/last/nth over an unbounded frame — the
    * "compare each row to its group's extremes" report shape. last_value
    * needs the full frame spelled out (the default frame stops at
    * CURRENT ROW in both engines). */
  val winFrames = GQuery(
    "win_frames",
    (s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d)
        .filter(col("event_id") <= 5000)
        .select(col("event_type"), col("event_id"),
          first(col("event_id")).over(w).as("first_id"),
          last(col("event_id")).over(w).as("last_id"),
          nth_value(col("event_id"), 2).over(w).as("second_id"))
        .orderBy(col("event_type"), col("event_id"))
    },
    Some("""
      SELECT event_type, event_id,
             first_value(event_id) OVER w AS first_id,
             last_value(event_id) OVER w AS last_id,
             nth_value(event_id, 2) OVER w AS second_id
      FROM events
      WHERE event_id <= 5000
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY event_type, event_id
    """))

  /** W7 bounded sliding frame: 7-row trailing moving average/max per
    * user — the smoothing window. Bounded ROWS frames keep O(frame)
    * state per row; the decimal-sum-then-divide form keeps the average
    * bit-stable across partition orders (same discipline as agg_avg). */
  val winMoving = GQuery(
    "win_moving",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, Window.currentRow)
      Tables.events(s, d)
        .filter(col("event_id") <= 5000)
        .select(col("user_id"), col("event_id"),
          (sum(col("value").cast(DecimalType(18, 2))).over(w)
            .cast(DoubleType) /
            count(lit(1)).over(w)).as("mavg_7"),
          max(col("value").cast(DecimalType(18, 2)))
            .over(w).cast(DoubleType).as("mmax_7"))
        .orderBy("user_id", "event_id")
    },
    Some("""
      SELECT user_id, event_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS mavg_7,
             CAST(MAX(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS mmax_7
      FROM events
      WHERE event_id <= 5000
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id
    """))

  /** Percent-of-total (ratio-to-report): each order's share of its
    * customer's total spend — the contribution-share reporting shape
    * (≙ "this receipt as a fraction of the committee's cycle total").
    * Decimal sum for exactness, ONE double division at the edge, 4-dp
    * rounding for the cross-engine hash. Partitioned window — the sort
    * is within customer hash partitions, never global. */
  val winShare = GQuery(
    "win_share",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast(DecimalType(18, 2)).as("p"))
        .withColumn("share",
          round(col("p").cast(DoubleType) /
            sum(col("p")).over(w).cast(DoubleType), 4))
        .select(col("o_orderkey"), col("o_custkey"), col("share"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_custkey,
             round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) /
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        OVER (PARTITION BY o_custkey) AS DOUBLE), 4)
               AS share
      FROM orders
      ORDER BY o_orderkey
    """))

  /** Z-score outlier detection per event type — the standard numeric
    * data-cleaning primitive (flag values > 2.5σ from the group mean).
    * Group stats come from ONE map-side-combinable aggregate joined
    * back broadcast-style (|event types| rows), not a per-row window —
    * at 100 TB the stats table is tiny and the corpus streams past it. */
  val outlierZscore = GQuery(
    "outlier_zscore",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      // sigma > 0 guard: a constant-valued group divides 0/0 — Spark's
      // double division yields NULL (row silently dropped) while DuckDB
      // yields NaN, which it ORDERS above everything so abs(z) > 2.5
      // passes — the engines would disagree. Excluding zero-variance
      // groups explicitly on BOTH sides makes the semantics identical
      // (and is the right call anyway: z-scores are undefined there).
      val stats = ev.groupBy("event_type")
        .agg(avg(col("value")).as("mu"),
          stddev_samp(col("value")).as("sigma"))
        .filter(col("sigma") > 0)
      ev.join(broadcast(stats), "event_type")
        .withColumn("z", (col("value") - col("mu")) / col("sigma"))
        .filter(abs(col("z")) > 2.5)
        .select(col("event_id"), col("event_type"),
          round(col("z"), 4).as("z"))
        .orderBy("event_id")
    },
    Some("""
      WITH stats AS (
        SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
        FROM events WHERE value IS NOT NULL GROUP BY 1)
      SELECT event_id, e.event_type,
             round((value - mu) / sigma, 4) AS z
      FROM events e JOIN stats USING (event_type)
      WHERE value IS NOT NULL AND sigma > 0
        AND abs((value - mu) / sigma) > 2.5
      ORDER BY event_id
    """))

  def all: Seq[GQuery] = Seq(winLatest, winRank, winCumsum, winLag, topkGroup,
    winNtile, winFrames, winMoving, winShare, outlierZscore)
}
