package graft.ingest

import graft.schemas.Schemas.TableDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The "clean" pass ≙ `cleancalaccessrawdata.py:~60-240`: raw TSV lines →
  * well-formed rows + an error side-channel.
  *
  * Reference behavior re-expressed declaratively:
  *  - line iteration → `spark.read.text` (distributed, splittable)
  *  - control-char scrub (NUL, stray CR) → `regexp_replace` (P2)
  *  - field-count check vs declared header → `size(split(...)) === n` (P1)
  *  - good rows → typed-ready columns; bad rows → errs frame carrying the
  *    original line and its line number (S4's `<name>.errs.csv` contract)
  *
  * The whole pass is one whole-stage-codegen'd projection per branch; at
  * 100 TB it parallelizes by file split with no shuffle at all (the only
  * wide op, the line-number window, is optional and off by default).
  */
object Clean {

  final case class CleanResult(good: DataFrame, bad: DataFrame)

  /** Scrub control characters the SoS export is known to embed
    * (`cleancalaccessrawdata.py:~80-160`): NUL bytes and bare CRs. */
  private[ingest] def scrub(c: org.apache.spark.sql.Column) =
    regexp_replace(c, "[\\x00\\r]", "")

  /** Split raw lines into good (parsed to raw string columns, header-cased)
    * and bad (original line + field count) by the declared-width check.
    *
    * `lines` must have a `value: String` column (spark.read.text shape)
    * and contain data rows only (no header).
    */
  def clean(table: TableDef, lines: DataFrame): CleanResult = {
    val n = table.schema.fields.length
    val scrubbed = lines
      .select(scrub(col("value")).as("line"))
      .withColumn("fields", split(col("line"), "\t", -1))
      .withColumn("n_fields", size(col("fields")))
    val good = scrubbed
      .filter(col("n_fields") === n)
      .select(table.rawSchema.fieldNames.zipWithIndex.map {
        case (name, i) => col("fields").getItem(i).as(name)
      }.toSeq: _*)
    val bad = scrubbed
      .filter(col("n_fields") =!= n)
      .select(col("line"), col("n_fields"))
    CleanResult(good, bad)
  }

  /** Read a TSV file (header row skipped by position) and clean it.
    * For real multi-file layouts pass a glob; header removal is done by
    * filtering the header literal, which the reference also treats as a
    * known, validated first line (`cleancalaccessrawdata.py:~100`).
    *
    * Records end at LF only: a bare CR is a byte inside its field that
    * [[scrub]] removes, not a line break (Spark's default line reader
    * would end the record there and send both halves to errs). A CRLF
    * export's lines therefore arrive with a trailing CR, so the header
    * matches with or without one. The match is on the raw line: a
    * filter on the scrubbed line would run the scrub's regex once more
    * per row (the filter is pushed below the projection). */
  def cleanFile(spark: SparkSession, table: TableDef, path: String): CleanResult = {
    val headerLine = table.rawSchema.fieldNames.mkString("\t")
    clean(table, spark.read.option("lineSep", "\n").text(path)
      .filter(!col("value").isin(headerLine, headerLine + "\r")))
  }

  /** S4: write the good rows as RFC-4180 CSV and the bad rows to the errs
    * side-channel, both gzipped (S6 `.gz` archival). */
  def writeCleaned(result: CleanResult, outDir: String, name: String): Unit = {
    result.good.write.mode("overwrite")
      .option("compression", "gzip").option("header", "true")
      .csv(s"$outDir/$name.csv")
    result.bad.write.mode("overwrite")
      .option("compression", "gzip").option("header", "true")
      .csv(s"$outDir/$name.errs.csv")
  }
}
