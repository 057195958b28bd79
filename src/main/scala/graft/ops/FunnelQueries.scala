package graft.ops

import graft.{GQuery, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-sequence analytics over `events`: ordered funnels and cohort
  * retention — the product-analytics layer every event warehouse ends up
  * needing on top of the §2.4/§2.5 aggregates.
  *
  * Scale notes: both queries key every shuffle on user_id, so after the
  * first exchange the per-user stages are co-partitioned (Catalyst
  * reuses the partitioning; no re-shuffle per stage). Nothing is
  * quadratic: funnels are per-user min-aggregates, not self-joins over
  * event pairs, and retention is one distinct-count keyed on
  * (cohort, offset).
  */
object FunnelQueries {

  /** Ordered conversion funnel signup → click → purchase: a user counts
    * for a stage only if the stage's event happens strictly AFTER their
    * entry into the previous stage (the standard ordered-funnel
    * semantics, not mere presence). Per-stage per-user first-times are
    * min-aggregates; stages chain by equi-join on user_id. */
  val funnel = GQuery(
    "funnel",
    (s, d) => {
      val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id").filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id").filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      s1.agg(lit("1_signup").as("stage"), count(lit(1)).as("n_users"))
        .union(s2.agg(lit("2_click").as("stage"),
          count(lit(1)).as("n_users")))
        .union(s3.agg(lit("3_purchase").as("stage"),
          count(lit(1)).as("n_users")))
        .orderBy(col("stage"))
    },
    Some("""
      WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY 1),
      s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
      s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
      SELECT '1_signup' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
      UNION ALL
      SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM s2
      UNION ALL
      SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM s3
      ORDER BY stage
    """))

  /** Weekly cohort retention: users grouped by the week of their first
    * event; each later active week counts them at offset
    * (active − cohort)/7 days. Weeks are Monday-truncated in both
    * engines, so the offset division is exact. */
  val cohortRetention = GQuery(
    "cohort_retention",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          to_date(date_trunc("week", col("ts"))).as("wk"))
      val first = ev.groupBy("user_id")
        .agg(min(col("wk")).as("cohort_wk"))
      ev.join(first, "user_id")
        .groupBy(col("cohort_wk"),
          floor(datediff(col("wk"), col("cohort_wk")) / 7)
            .cast(LongType).as("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    },
    Some("""
      WITH ev AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events),
      first AS (
        SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY 1)
      SELECT cohort_wk,
             CAST(date_diff('day', cohort_wk, wk) // 7 AS BIGINT)
               AS week_offset,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM ev JOIN first USING (user_id)
      GROUP BY 1, 2
      ORDER BY 1, 2
    """))

  def all: Seq[GQuery] = Seq(funnel, cohortRetention)
}
