package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.ingest.{Clean, Load}
import graft.ops.{Epoch, EpochTable}
import graft.schemas.Schemas
import org.apache.spark.graftspec.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** `Pq.read`'s memo miss learns the schema from one footer on the
  * driver: no Spark job, and the schema Spark's own inference gives, on
  * every layout the engine reads. (`graft.ops.PqSpec` is product
  * quantization.) */
class PqReadSpec extends SparkTestBase {

  import spark.implicits._

  private val root = s"${GraftSession.scratchDir}/pqread"

  /** Jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    Bus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      Bus.drain(spark.sparkContext)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** A hard-linked copy of `src` (file or tree) under a new path, so no
    * memo entry covers it. */
  private def fresh(src: String): String = {
    val from = Paths.get(src)
    val to = Files.createTempDirectory("pqread")
      .resolve(from.getFileName.toString)
    Files.walk(from).forEach { (p: Path) =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.createLink(t, p)
    }
    to.toString
  }

  /** A cold read of `paths` starts no job and matches Spark's schema. */
  private def assertCold(paths: String*): Unit = {
    val (df, jobs) = jobsDuring(Pq.read(spark, paths: _*))
    assert(jobs === 0, s"cold Pq.read of ${paths.mkString(",")}")
    assert(df.schema === spark.read.parquet(paths: _*).schema)
  }

  test("testdata tables, events under nanosAsLong") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    for (t <- Tables.names)
      assertCold(fresh(s"/root/testdata/sf0.001/$t.parquet"))
  }

  test("a Spark-written dir keeps Load's help_text metadata") {
    val table = Schemas.rcptCd
    val typed = Load.load(table, Clean.cleanFile(spark, table,
      resource("rcpt_cd_sample.tsv")).good)
    val dir = s"$root/typed"
    typed.write.mode("overwrite").parquet(dir)
    val p = fresh(dir)
    assertCold(p)
    assert(Pq.read(spark, p).schema.fields
      .exists(_.metadata.contains("help_text")))
  }

  private def rows(n: Long) = (1L to n).map(i =>
    (i, java.sql.Timestamp.valueOf(f"2024-${(i % 3) + 1}%02d-10 00:00:00"),
      s"v$i")).toDF("id", "dt", "v")

  test("a refreshPartitioned _p= layout") {
    val path = s"$root/part"
    EpochTable.refreshPartitioned(spark, path, rows(30L), version = 0L,
      EpochTable.PartSpec("dt", "month"))
    val m = Epoch.resolve(spark, path).get
    val data = fresh(s"$path/${m.components("data").head.split("/_p=")(0)}")
    assert(new java.io.File(data).list().exists(_.startsWith("_p=")))
    assertCold(data)
    assert(Pq.read(spark, data).columns.contains("_p"))
  }

  test("a multi-dir epoch component") {
    val path = s"$root/multi"
    EpochTable.refresh(spark, path, rows(20L), version = 0L)
    EpochTable.refreshDelta(spark, path, rows(5L), version = 1L)
    val copy = fresh(path)
    val dirs = Epoch.resolve(spark, path).get.dirs(copy, "data")
    assert(dirs.size >= 2, dirs.toString)
    assertCold(dirs: _*)
  }

  test("mergeSchema on still merges every file's schema") {
    val a = s"$root/merge/a"
    val b = s"$root/merge/b"
    Seq((1L, "x")).toDF("id", "s").write.mode("overwrite").parquet(a)
    Seq((2L, 3.0)).toDF("id", "d").write.mode("overwrite").parquet(b)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val (pa, pb) = (fresh(a), fresh(b))
      assert(Pq.read(spark, pa, pb).columns.toSet === Set("id", "s", "d"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("empty, missing and corrupt paths fail with Spark's exception") {
    val empty = Files.createTempDirectory("pqempty").toString
    val corrupt = Files.createTempDirectory("pqcorrupt")
    Files.write(corrupt.resolve("part-0.parquet"), "not parquet".getBytes)
    for (p <- Seq(empty, s"$root/no/such/path", corrupt.toString)) {
      val bySpark = intercept[Exception](spark.read.parquet(p).schema)
      val byPq = intercept[Exception](Pq.read(spark, p).schema)
      assert(byPq.getClass === bySpark.getClass, p)
    }
  }

  test("rows sums footer row counts without a job") {
    val dir = s"$root/rows"
    rows(12L).repartition(3).write.mode("overwrite").parquet(dir)
    val (n, jobs) = jobsDuring(Pq.rows(spark, dir))
    assert(n === 12L && jobs === 0)
    val none = s"$root/rows0"
    rows(0L).write.mode("overwrite").parquet(none)
    assert(Pq.rows(spark, none) === 0L)
  }

  test("past its cap the memo evicts its eldest entries, not all of them") {
    val src = s"$root/evict"
    rows(6L).write.mode("overwrite").parquet(src)
    // copies, not links: their data files are overwritten below
    def copy(): String = {
      val to = Files.createTempDirectory("pqevict")
      Files.list(Paths.get(src)).forEach { (p: Path) =>
        if (p.getFileName.toString.startsWith("part-"))
          Files.copy(p, to.resolve(p.getFileName))
      }
      to.toString
    }
    val (eldest, recent) = (copy(), copy())
    val schema = Pq.read(spark, eldest).schema
    val filler = (1 to Pq.MaxEntries).map(i => Seq((s"filler-$i", 0L, 0L)))
    filler.foreach(Pq.memo.put(_, schema))
    assert(Pq.read(spark, recent).schema === schema)
    assert(Pq.memo.size === Pq.MaxEntries)
    // same length, no footer: only a read that skips the footer succeeds;
    // the directory stamps (the memo keys) do not change
    for (d <- Seq(eldest, recent))
      Files.list(Paths.get(d)).forEach { (p: Path) =>
        Files.write(p, new Array[Byte](Files.size(p).toInt))
      }
    try {
      assert(Pq.read(spark, recent).schema === schema)
      intercept[Exception](Pq.read(spark, eldest).schema)
    } finally filler.foreach(Pq.memo.remove)
  }
}
