package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loaders over the driver-provided parquet testdata.
  *
  * Mirrors the reference's model registry (`calaccess_raw/__init__.py:~20`
  * `get_model_list()` — see SURVEY.md §1.1): a central place that knows
  * every table. Here the registry is a name → parquet path mapping; schemas
  * are carried by the parquet footers (fixed, never inferred from data).
  *
  * Scale note: `spark.read.parquet` is the columnar, predicate-pushdown,
  * partition-parallel scan path — at 100 TB each `.parquet` name would be a
  * directory of many files and the same code holds.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // through graft.Pq: a first read takes the schema from one footer on
  // the driver (no Spark job), later reads hit the memo keyed on the
  // file's (path, mtime, len) stamp — the fixtures are immutable, and
  // a changed schema must arrive under a new path
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    Pq.read(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** events.ts has shipped as two physical parquet types across testdata
    * generations, and this loader normalizes BOTH to session-zoned
    * TimestampType at microsecond precision — the single shape every
    * downstream query and oracle assumes:
    *
    *  - TIMESTAMP(NANOS): Spark 4 refuses to read it as a timestamp;
    *    with `spark.sql.legacy.parquet.nanosAsLong=true` (set at session
    *    construction — see [[GraftSession]]) it arrives as a raw long,
    *    truncated here to micros with integer division — exactly what
    *    DuckDB does on read, so oracle comparisons align (FIXTURES.md).
    *    Plain `/ 1000` would route through double and lose precision at
    *    ~1.7e18 ns.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *    TIMESTAMP_NTZ; the session timezone is pinned UTC
    *    ([[GraftSession]]), so the cast to TimestampType preserves the
    *    wall-clock fields DuckDB reads from the same file.
    *
    * The loader is PURE — it never mutates session conf (a library read
    * must not change unrelated queries' behavior); it dispatches on the
    * footer schema and fails fast with the fix when a nanos file is read
    * without the legacy conf.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    val raw =
      try apply(s, d, "events")
      catch {
        case e: Exception if String.valueOf(e.getMessage).contains("NANOS") =>
          throw new IllegalStateException(
            "events.parquet is TIMESTAMP(NANOS): build the session with " +
              "spark.sql.legacy.parquet.nanosAsLong=true " +
              "(see graft.GraftSession)", e)
      }
    raw.schema("ts").dataType match {
      case LongType => // nanos read as long under the legacy conf
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => // native micros, timezone-naive
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other => throw new IllegalStateException(
        s"events.ts: unexpected parquet type ${other.simpleString}")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}

/** One registered operator query: the Spark implementation plus (when
  * SQL-expressible) the DuckDB oracle the driver hash-compares against.
  * Oracle rules (SURVEY.md §5.2): deterministic final ORDER BY, identical
  * column names/types on both sides (explicit casts), decimal — not
  * double — money aggregation.
  */
final case class GQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])
