package graft.ops

import graft.{GQuery, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.6 sorts/limits + §2.7 set operations.
  *
  * Sorts: Spark's global `orderBy` is a range-partitioned sort (sampled
  * boundaries) — scales linearly; `orderBy(...).limit(k)` compiles to
  * TakeOrderedAndProject, a per-partition top-k + driver merge that never
  * materializes the full sort. Set ops ≙ the reference's model-list union
  * (`models/__init__.py:~1-30`) and verify's expected-vs-loaded difference
  * (`verifycalaccessrawdata.py:~40-90`).
  */
object SortSetQueries {

  /** O1 multi-key ORDER BY (admin `Meta.ordering`): mixed asc/desc, total
    * order via unique trailing keys; LIMIT keeps output bounded. */
  val sortMulti = GQuery(
    "sort_multi",
    (s, d) =>
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_linestatus", "l_shipdate", "l_orderkey",
          "l_linenumber")
        .orderBy(col("l_returnflag").desc, col("l_shipdate").asc,
          col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(500),
    Some("""
      SELECT l_returnflag, l_linestatus, l_shipdate, l_orderkey, l_linenumber
      FROM lineitem
      ORDER BY l_returnflag DESC, l_shipdate ASC, l_orderkey ASC, l_linenumber ASC
      LIMIT 500
    """))

  /** O2 top-k (admin changelist page): TakeOrderedAndProject — no global
    * sort at any scale. */
  val topk = GQuery(
    "topk",
    (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 10
    """))

  /** U1 UNION ALL: concatenation of per-module model lists ≙ two filtered
    * slices unioned by name. */
  val setUnion = GQuery(
    "set_union",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(year(col("l_shipdate")) === 1995)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      val a = li.filter(col("l_returnflag") === "A")
      val r = li.filter(col("l_returnflag") === "R")
      a.unionByName(r).orderBy("l_orderkey", "l_linenumber")
    },
    Some("""
      SELECT * FROM (
        SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
        WHERE year(l_shipdate) = 1995 AND l_returnflag = 'A'
        UNION ALL
        SELECT l_orderkey, l_linenumber, l_returnflag FROM lineitem
        WHERE year(l_shipdate) = 1995 AND l_returnflag = 'R')
      ORDER BY l_orderkey, l_linenumber
    """))

  /** U2 EXCEPT: expected-minus-loaded ≙ all custkeys minus those with
    * orders. */
  val setExcept = GQuery(
    "set_except",
    (s, d) =>
      Tables.customer(s, d).select(col("c_custkey"))
        .except(Tables.orders(s, d).select(col("o_custkey").as("c_custkey")))
        .orderBy("c_custkey"),
    Some("""
      SELECT c_custkey FROM customer
      EXCEPT
      SELECT o_custkey AS c_custkey FROM orders
      ORDER BY c_custkey
    """))

  /** U3 INTERSECT: files present in both manifests ≙ partkeys that are
    * both ordered and large-sized. */
  val setIntersect = GQuery(
    "set_intersect",
    (s, d) =>
      Tables.lineitem(s, d).select(col("l_partkey").as("p_partkey"))
        .intersect(Tables.part(s, d).filter(col("p_size") > 25)
          .select(col("p_partkey")))
        .orderBy("p_partkey"),
    Some("""
      SELECT l_partkey AS p_partkey FROM lineitem
      INTERSECT
      SELECT p_partkey FROM part WHERE p_size > 25
      ORDER BY p_partkey
    """))

  /** U4 DISTINCT over the lookup-value domain. */
  val distinctVals = GQuery(
    "distinct_vals",
    (s, d) =>
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""
      SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      ORDER BY l_returnflag, l_linestatus
    """))

  /** X1 exact key dedup ≙ `dropDuplicates(UNIQUE_KEY)` with deterministic
    * survivor choice (min event_id — dropDuplicates alone keeps an
    * arbitrary row, which can't be oracle-checked). The window form is the
    * scale-safe idiom: one shuffle on the key, no global sort. */
  val dedupKey = GQuery(
    "dedup_key",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type")
    },
    Some("""
      SELECT user_id, event_type, CAST(MIN(event_id) AS BIGINT) AS event_id
      FROM events
      GROUP BY user_id, event_type
      ORDER BY user_id, event_type
    """))

  /** O2 LIMIT/OFFSET pagination (admin changelist page 2): offset has no
    * distributed-safe direct form — the scale idiom is top-(offset +
    * pageSize) via `orderBy().limit()` (TakeOrderedAndProject: each
    * partition keeps its local top-40, only those reach the driver-side
    * merge — no global sort, no single-partition window over the table),
    * then row_number over the ≤40-row page buffer (bounded single
    * partition by construction) and a range filter. Deep paging (offset
    * ∝ table size) stays an anti-pattern at any engine — real admin
    * pagination switches to keyset (WHERE sortkey < last_seen) beyond
    * the first pages. */
  val pageOffset = GQuery(
    "page_offset",
    (s, d) => {
      val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(40)
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") > 20 && col("rn") <= 40)
        .select("rn", "o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("rn"))
    },
    Some("""
      SELECT rn, o_orderkey, o_custkey, o_totalprice
      FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
                   o_orderkey, o_custkey, o_totalprice
            FROM orders)
      WHERE rn > 20 AND rn <= 40
      ORDER BY rn
    """))

  /** Wide→long reshape (UNPIVOT/melt): the inverse of agg_pivot. Spark's
    * `unpivot` is a zero-shuffle narrow op (each row expands to one row
    * per value column in place); the oracle spells it as UNION ALL, the
    * other public way to express it. Values share one double type, the
    * UNPIVOT contract in both engines. */
  val unpivotMelt = GQuery(
    "unpivot_melt",
    (s, d) => {
      val wide = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 2)).cast(DoubleType).as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast(DecimalType(38, 2)).cast(DoubleType).as("sum_price"),
          count(lit(1)).cast(DoubleType).as("n_rows"))
      wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("n_rows")),
        "metric", "value")
        .orderBy(col("l_returnflag"), col("metric"))
    },
    Some("""
      WITH wide AS (
        SELECT l_returnflag,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price,
               CAST(COUNT(*) AS DOUBLE) AS n_rows
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, metric, value FROM (
        SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
        UNION ALL
        SELECT l_returnflag, 'sum_price', sum_price FROM wide
        UNION ALL
        SELECT l_returnflag, 'n_rows', n_rows FROM wide)
      ORDER BY l_returnflag, metric
    """))

  def all: Seq[GQuery] = Seq(sortMulti, topk, setUnion, setExcept,
    setIntersect, distinctVals, dedupKey, pageOffset, unpivotMelt)
}
