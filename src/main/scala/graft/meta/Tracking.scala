package graft.meta

import graft.ingest.Clean.CleanResult
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pipeline metadata/lineage ≙ `models/tracking.py`: `RawDataVersion`
  * (one row per export snapshot) and `RawDataFile` (per-table counts:
  * `download_records_count`, `clean_records_count`, `load_records_count`,
  * `error_count` — `models/tracking.py:~150-260`).
  *
  * Invariants the reference's verify step checks
  * (`verifycalaccessrawdata.py:~30-90`), enforced here as the row is
  * built: download = clean + error, load = clean.
  */
object Tracking {

  /** `failure` captures a table cycle that never produced counts at all
    * (exception or timeout in `Pipeline.update`) — the reference's
    * analog is a table left out of the RawDataFile rows entirely, which
    * is exactly the invisible-failure mode this field exists to close:
    * a failed table stays IN the metrics frame, named, with its cause,
    * and fails `consistent` mechanically. */
  final case class FileMetrics(
      tableName: String,
      downloadRecords: Long,
      cleanRecords: Long,
      loadRecords: Long,
      errorRecords: Long,
      failure: Option[String] = None) {
    def consistent: Boolean =
      failure.isEmpty &&
        downloadRecords == cleanRecords + errorRecords &&
        loadRecords == cleanRecords
  }

  /** Count-verified metrics row for one cleaned+loaded table. Counts are
    * Spark jobs; at scale these are the same `count()` aggregations the
    * reference issues as `SELECT count(*)`. */
  def forTable(name: String, cleaned: CleanResult, loaded: DataFrame): FileMetrics =
    counted(name, cleaned, () => loaded.count())

  /** [[forTable]] for a table just committed as parquet under `path`:
    * the load count is the sum of the written files' footer row counts —
    * still what landed, counted without a job. */
  def forWritten(name: String, cleaned: CleanResult, path: String): FileMetrics =
    counted(name, cleaned,
      () => graft.Pq.rows(cleaned.good.sparkSession, path))

  private def counted(name: String, cleaned: CleanResult,
      loadCount: () => Long): FileMetrics = {
    // The verification counts are independent (the reference issues
    // them as separate SELECT count(*) statements); submit them
    // concurrently so the stage tails overlap instead of paying
    // sequential job round-trips (optimization guide §2.6). Values and
    // the consistency invariant are unchanged.
    // r21: through graft.Overlap — dedicated pool (the shared global
    // pool mislabeled jobs and could starve under the nested fan-out
    // in tracking_verify) and a finite await ceiling.
    val Seq(good, bad, loadedN) =
      graft.Overlap.all(cleaned.good.sparkSession)(
        () => cleaned.good.count(),
        () => cleaned.bad.count(),
        loadCount)
    FileMetrics(name, good + bad, good, loadedN, bad)
  }

  /** The metrics frame (≙ the RawDataFile table) for a run. */
  def toDf(spark: SparkSession, rows: Seq[FileMetrics]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  /** ≙ the RawDataVersion↔RawDataFile star rollup
    * (`models/tracking.py:~130-260`): fold the per-file metrics frame up
    * to ONE row per release — file count, the four count totals, and the
    * verify invariant recomputed at the release grain (a release is
    * consistent iff its file totals are). Input is the [[toDf]] frame
    * plus a `release` column; output cardinality is the number of
    * releases — driver-safe at any data scale, the counts inside were
    * distributed aggregations already. */
  def versionRollup(files: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    files.groupBy(col("release"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("downloadRecords")).as("download_total"),
        sum(col("cleanRecords")).as("clean_total"),
        sum(col("loadRecords")).as("load_total"),
        sum(col("errorRecords")).as("error_total"))
      .withColumn("consistent",
        col("download_total") === col("clean_total") + col("error_total") &&
          col("load_total") === col("clean_total"))
  }

  /** ≙ RawDataVersion (`models/tracking.py:~130`): one row per export
    * snapshot — release identity plus stage timings. Appended to a
    * parquet run log so version history accumulates across updates. */
  final case class RunVersion(
      releaseDatetime: java.sql.Timestamp,
      expectedSize: Long,
      cleanStart: java.sql.Timestamp,
      cleanFinish: java.sql.Timestamp,
      loadRecords: Long,
      errorRecords: Long)

  def appendRunLog(spark: SparkSession, logPath: String,
      version: RunVersion): Unit = {
    import spark.implicits._
    Seq(version).toDF().write.mode("append").parquet(logPath)
  }

  /** Latest version ≙ RawDataVersion.objects.latest('release_datetime'). */
  def latestVersion(spark: SparkSession, logPath: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.orderBy(col("releaseDatetime").desc)
    graft.Pq.read(spark, logPath)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
