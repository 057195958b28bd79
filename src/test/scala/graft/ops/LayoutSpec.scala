package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins for the shared swap-replace primitive every persisted-index
  * maintenance op rides: the normal swap leaves no staging debris, and
  * BOTH crash windows recover — a crash between the two renames (live
  * missing, `__old` tombstone present) restores before proceeding, and
  * stale leftovers from an earlier crashed swap are cleared up
  * front. */
class LayoutSpec extends SparkTestBase {

  import spark.implicits._

  private def fs = new org.apache.hadoop.fs.Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def write(dir: String, rows: Seq[Long]): Unit =
    rows.toDF("v").write.mode("overwrite").parquet(dir)

  private def readBack(dir: String): Seq[Long] =
    spark.read.parquet(dir).select("v").collect()
      .map(_.getLong(0)).sorted.toSeq

  private def p(dir: String) = new org.apache.hadoop.fs.Path(dir)

  test("a clean swap replaces content and leaves no staging debris") {
    val base = java.nio.file.Files.createTempDirectory("layout1").toString
    val live = s"$base/t"
    write(live, Seq(1L, 2L, 3L))
    Layout.replaceDir(spark, Seq(7L, 8L).toDF("v"), live)
    assert(readBack(live) === Seq(7L, 8L))
    assert(!fs.exists(p(s"${live}__stage")))
    assert(!fs.exists(p(s"${live}__old")))
  }

  test("crash between the renames recovers: the __old tombstone is " +
      "restored before the new swap proceeds") {
    val base = java.nio.file.Files.createTempDirectory("layout2").toString
    val live = s"$base/t"
    write(live, Seq(1L, 2L, 3L))
    // simulate the crash window: old → __old happened, stage → live
    // did not (the complete table exists only as the tombstone)
    assert(fs.rename(p(live), p(s"${live}__old")))
    assert(!fs.exists(p(live)))
    // a fresh replaceDir must restore the tombstone first and then run
    // the swap normally — without the recovery branch the final
    // rename(live → __old) would fail on the missing live dir and the
    // require would abort the swap
    Layout.replaceDir(spark, Seq(9L).toDF("v"), live)
    assert(readBack(live) === Seq(9L))
    assert(!fs.exists(p(s"${live}__old")))
    assert(!fs.exists(p(s"${live}__stage")))
  }

  test("stale leftovers from an earlier crashed swap are cleared up " +
      "front: a live dir wins over both __old and __stage debris") {
    val base = java.nio.file.Files.createTempDirectory("layout3").toString
    val live = s"$base/t"
    write(live, Seq(1L, 2L))
    write(s"${live}__old", Seq(99L))   // crash after stage-in, before
    write(s"${live}__stage", Seq(98L)) // cleanup, plus stage debris
    Layout.replaceDir(spark, Seq(5L, 6L).toDF("v"), live)
    assert(readBack(live) === Seq(5L, 6L))
    assert(!fs.exists(p(s"${live}__old")))
    assert(!fs.exists(p(s"${live}__stage")))
  }

  test("minusTombstones is a no-op without a segment and drops the " +
      "tombstoned ids when one exists") {
    val base = java.nio.file.Files.createTempDirectory("layout4").toString
    val path = s"$base/idx"
    val data = s"$path/data"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "x")
      .write.parquet(data)
    val df = spark.read.parquet(data)
    // no segment: identity
    assert(Layout.minusTombstones(spark, df, path).count() === 3L)
    Seq(2L).toDF("id").write.parquet(s"$path/tombstones")
    assert(Layout.minusTombstones(spark, df, path)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 3L))
  }
}
