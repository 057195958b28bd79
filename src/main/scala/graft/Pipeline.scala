package graft

import graft.ingest.{Clean, Load}
import graft.meta.Tracking
import graft.meta.Tracking.FileMetrics
import graft.schemas.Schemas.TableDef
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pipeline orchestrator ≙ `updatecalaccessrawdata` (SURVEY §3.1): for
  * each registered table — clean → typed load → columnar sink → verified
  * metrics row. The reference runs tables sequentially
  * (`updatecalaccessrawdata.py:~100-200`); here the per-table loop is the
  * parallelism seam: jobs are submitted concurrently (Spark's scheduler
  * interleaves their tasks across the executor pool), and within each
  * table the work is partition-parallel.
  *
  * Stage mapping (reference → here):
  *   download/extract (S1/S2)  → driver-side prep, see sources.Archive
  *   clean (stage 5)           → ingest.Clean (split + scrub)
  *   load (stage 6)            → ingest.Load (typed projection)
  *   bulk sink (S5)            → parquet write (columnar at rest)
  *   verify (stage 7)          → Tracking.FileMetrics.consistent
  */
object Pipeline {

  final case class TableResult(
      table: String,
      typed: DataFrame,
      metrics: FileMetrics)

  /** One table cycle: clean → load → write → count-verified metrics
    * (the load count from the written files' footers). */
  def updateTable(spark: SparkSession, table: TableDef, tsvPath: String,
      outDir: String): TableResult = {
    val cleaned = Clean.cleanFile(spark, table, tsvPath)
    val typed = Load.load(table, cleaned.good)
    val out = s"$outDir/${table.name}.parquet"
    typed.write.mode("overwrite").parquet(out)
    Clean.writeCleaned(cleaned, outDir, table.name)
    val metrics = Tracking.forWritten(table.name, cleaned, out)
    TableResult(table.name, Pq.read(spark, out), metrics)
  }

  /** One table cycle committed as ONE TABLE EPOCH (≙ one
    * `RawDataVersion`, `models/tracking.py:~130`): clean → typed load →
    * [[graft.ops.EpochTable.refresh]] — the full snapshot and its
    * count-verified metrics flip visible together in one manifest
    * rename, readers overlapping the refresh keep the previous
    * version, and every retained version stays queryable by id
    * ([[graft.ops.EpochTable.dataForVersion]] — the reference's
    * every-monthly-version-queryable capability,
    * `updatecalaccessrawdata.py:~100-200`). The serve-safe successor
    * to [[updateTable]]'s overwrite sink: use this face when readers
    * cannot be paused for the refresh. */
  def updateTableEpoch(spark: SparkSession, table: TableDef,
      tsvPath: String, layoutRoot: String, version: Long,
      releaseTs: Option[java.sql.Timestamp] = None): TableResult = {
    val cleaned = Clean.cleanFile(spark, table, tsvPath)
    val typed = Load.load(table, cleaned.good)
    val good = cleaned.good.count()
    val bad = cleaned.bad.count()
    val path = s"$layoutRoot/${table.name}"
    // releaseTs ≙ RawDataVersion.release_datetime (the export's declared
    // instant, models/tracking.py:~130) — rides the meta row so SQL
    // TIMESTAMP AS OF addresses the run by its release, not wall-clock
    val loaded = ops.EpochTable.refresh(spark, path, typed, version,
      downloadRecords = Some(good + bad), errorRecords = bad,
      releaseTs = releaseTs)
    TableResult(table.name, ops.EpochTable.serve(spark, path),
      FileMetrics(table.name, good + bad, good, loaded, bad))
  }

  /** Full update run over many tables: concurrent job submission on a
    * BOUNDED pool with a per-table timeout and per-table failure
    * capture. Three deliberate departures from the naive
    * `Future.sequence` + `Await(Duration.Inf)` shape:
    *
    *  - fixed-size pool, not the global one: `parallelism` caps how
    *    many table cycles hold Spark's scheduler concurrently — at the
    *    full ~80-table catalog an unbounded fan-out just thrashes the
    *    fair scheduler, and the global pool's size is an accident of
    *    the host;
    *  - an OPT-IN per-table timeout: by default every table is awaited
    *    to completion (`Duration.Inf` — a legitimately long cycle at
    *    100 TB scale must never be interrupted mid-write by a default;
    *    the unbounded await logs a named per-minute still-running
    *    heartbeat so a wedged table is observable without a budget).
    *    When an operator passes a finite budget, one straggler table
    *    (a wedged read, a pathological file) surfaces as a NAMED
    *    timeout row instead of hanging the whole refresh invisibly —
    *    its task is interrupted, the remaining tables still report,
    *    and the failure row warns that a partially written output
    *    directory may exist (the next run's overwrite mode heals it);
    *  - failures are DATA, not exceptions: a table whose cycle throws
    *    lands in the result as a [[FileMetrics]] row with `failure`
    *    set (and an empty frame), so [[verify]] fails mechanically and
    *    the run log records WHICH table died of WHAT — the per-table
    *    capture the reference gets by running tables one at a time.
    *
    * Each timeout is measured from when that table's result is awaited
    * (awaits run in submission order). A table that never got a pool
    * slot — e.g. every slot wedged in non-interruptible I/O that
    * `cancel(true)` cannot free — is reported as "never started", not
    * "timeout": the failure rows distinguish the wedged tables from
    * the merely starved ones so the operator chases the right ones. */
  def update(spark: SparkSession, tables: Seq[(TableDef, String)],
      outDir: String, parallelism: Int = 8,
      perTableTimeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration.Inf)
      : Seq[TableResult] =
    updateWith(spark, tables, parallelism, perTableTimeout)(
      (t, path) => updateTable(spark, t, path, outDir))

  /** The FULL monthly update on the epoch table tier — ≙ ONE
    * `updatecalaccessrawdata` run: every table's clean → load → one
    * version commit ([[updateTableEpoch]], concurrent on the same
    * bounded pool as [[update]]), then optionally ONE registry
    * snapshot pinning every successfully committed table's epoch
    * ([[ops.Snapshot.publish]], replay-safe on `upd_<version>`) — the
    * cutover the reference gets by renaming the whole database,
    * expressed as one atomic registry flip: a catalog registered in
    * snapshot mode serves the OLD cut until the publish, the NEW one
    * after, never a mix. Failed tables are data rows (their tier is
    * not pinned; the previous snapshot's pin, if any, is dropped from
    * the new cut — resolve failures and re-run, the version ledger
    * makes the re-run cheap). */
  def updateEpoch(spark: SparkSession, tables: Seq[(TableDef, String)],
      layoutRoot: String, version: Long,
      releaseTs: Option[java.sql.Timestamp] = None,
      registry: Option[String] = None, parallelism: Int = 8,
      perTableTimeout: scala.concurrent.duration.Duration =
        scala.concurrent.duration.Duration.Inf)
      : Seq[TableResult] = {
    val results = updateWith(spark, tables, parallelism, perTableTimeout)(
      (t, path) => updateTableEpoch(spark, t, path, layoutRoot, version,
        releaseTs))
    registry.foreach { reg =>
      val pins = results
        .filter(_.metrics.failure.isEmpty)
        .map(r => r.table -> ops.Epoch.epochWith(spark,
          s"$layoutRoot/${r.table}", s"ver_$version").getOrElse(
          throw new IllegalStateException(
            s"updateEpoch: table ${r.table} reported success but " +
              s"version $version is not in its ledger")))
        .toMap
      ops.Snapshot.publish(spark, reg, pins, s"upd_$version")
    }
    results
  }

  private def updateWith(spark: SparkSession,
      tables: Seq[(TableDef, String)], parallelism: Int,
      perTableTimeout: scala.concurrent.duration.Duration)(
      run: (TableDef, String) => TableResult): Seq[TableResult] = {
    import java.util.concurrent.{Callable, ExecutionException, Executors,
      ThreadFactory, TimeoutException, TimeUnit}
    require(parallelism >= 1, s"update: parallelism=$parallelism")
    val pool = Executors.newFixedThreadPool(parallelism,
      new ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-pipeline-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
    def failed(table: String, why: String): TableResult =
      TableResult(table, spark.emptyDataFrame,
        FileMetrics(table, 0L, 0L, 0L, 0L, Some(why)))
    try {
      val futures = tables.map { case (t, path) =>
        val started = new java.util.concurrent.atomic.AtomicBoolean(false)
        (t.name, started, pool.submit(new Callable[TableResult] {
          def call(): TableResult = {
            started.set(true)
            run(t, path)
          }
        }))
      }
      futures.map { case (name, started, f) =>
        try {
          if (perTableTimeout.isFinite)
            f.get(perTableTimeout.toMillis, TimeUnit.MILLISECONDS)
          else {
            // unbounded await, but never an INVISIBLE one: a wedged
            // table surfaces as a periodic named still-running log
            // line (one per minute) instead of a silent hang — the
            // operator observability a finite budget used to provide,
            // without interrupting a legitimately long 100 TB cycle
            var result: Option[TableResult] = None
            var waitedMin = 0
            while (result.isEmpty) {
              try result = Some(f.get(60, TimeUnit.SECONDS))
              catch {
                case _: TimeoutException =>
                  waitedMin += 1
                  org.slf4j.LoggerFactory.getLogger(getClass)
                    .warn(s"Pipeline.update: table $name still " +
                      s"running after ${waitedMin}m (no timeout set)")
              }
            }
            result.get
          }
        } catch {
          case _: TimeoutException =>
            f.cancel(true)
            failed(name,
              if (started.get) s"timeout after $perTableTimeout — " +
                "partial output may exist under the table's directory"
              else s"never started within $perTableTimeout — pool " +
                "slots held by earlier tables")
          case e: ExecutionException =>
            failed(name,
              Option(e.getCause).getOrElse(e).toString.take(500))
        }
      }
    } finally pool.shutdownNow()
  }

  /** ≙ verifycalaccessrawdata: true iff every table's counts line up. */
  def verify(results: Seq[TableResult]): Boolean =
    results.forall(_.metrics.consistent)
}
