package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GQuery, GraftSession, Pipeline, SparkEntry}
import graft.schemas.Schemas.TableDef
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Benchmark harness: drives the engine's public entry points from
  * outside and records raw timings; `perfbench/run.py` turns the record
  * into metrics and checks the outputs.
  *
  * `--mode run`: one workload, one closed-loop client. Phases:
  *  1. set-up, `--setups` times (each a fresh session plus a first touch
  *     of the inputs through the engine's loaders, on a fresh hard-linked
  *     copy of the input directory so no footer memo carries over);
  *  2. warm/check pass: every distinct entry once, its output written as
  *     parquet for the oracle comparison (untimed as an op), then with
  *     `--probe-spec` one `Pipeline.update` over the probe exports;
  *  3. measured rounds: the entries in a seeded order per round, in whole
  *     rounds, until `--seconds` have passed and `--min-ops` ops ran; the
  *     elapsed time of the rounds is recorded for the throughput;
  *  4. with `--trace 1`, twice that, every other round with the listeners
  *     of [[Trace]] attached: the other rounds are the untraced baseline.
  *
  * `--mode classify`: one untimed pass over the given entries, each on
  * its own fresh copy of the inputs, recording for each whether its tasks
  * wrote bytes or it changed the engine's scratch directory. */
object Harness {

  /** The entry name that stands for one `Pipeline.update` over the
    * ingest exports, next to registry entry names. */
  val UpdateOp = "pipeline_update"

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}".take(300)

  final case class Op(name: String, round: Int, startMs: Long, endMs: Long,
      constructNs: Long, executeNs: Long, wallNs: Long, error: String,
      constructEndMs: Long, scratchChanged: Boolean, check: String)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    a("mode") match {
      case "run" => run(a)
      case "classify" => classify(a)
      case m => sys.error(s"unknown mode $m")
    }
  }

  private def session(cpus: Int, localDir: String): SparkSession = {
    val s = GraftSession.builder(cpus).master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def registry(names: Seq[String]): Seq[GQuery] = {
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    names.map(n => byName.getOrElse(n, sys.error(s"no registry entry $n")))
  }

  /** Hard-linked copy: new paths, same bytes, instant. */
  private def linkCopy(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    Files.list(from).iterator().asScala.foreach { f =>
      if (Files.isDirectory(f)) linkCopy(f, to.resolve(f.getFileName))
      else Files.createLink(to.resolve(f.getFileName), f)
    }
  }

  /** (path, size, mtime) of every file under the engine's scratch dir. */
  private def scratchState(): Set[(String, Long, Long)] = {
    val root = new File(GraftSession.scratchDir)
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk)
      else Iterator(f)
    walk(root).map(f => (f.getPath, f.length, f.lastModified)).toSet
  }

  // ---- ingest -----------------------------------------------------------

  /** One export table per spec line: name, TSV path, col:kind list. */
  private def ingestTables(spec: String): Seq[(TableDef, String)] =
    Files.readAllLines(Paths.get(spec)).asScala.toSeq.filter(_.nonEmpty)
      .map { line =>
        val Array(name, path, cols) = line.split("\t")
        val fields = cols.split(",").toSeq.map(_.split(":")).map {
          case Array(c, "int") => StructField(c, LongType)
          case Array(c, "dec") => StructField(c, DecimalType(14, 2))
          case Array(c, "date") => StructField(c, DateType)
          case Array(c, _) => StructField(c, StringType)
        }
        (TableDef(name, StructType(fields), Seq(fields.head.name),
          dateFields = fields.filter(_.dataType == DateType).map(_.name)),
          path)
      }

  private def metricsJson(rs: Seq[Pipeline.TableResult]): String =
    J.arr(rs.map { r =>
      val m = r.metrics
      J.obj("table" -> J.str(m.tableName),
        "download" -> m.downloadRecords.toString,
        "clean" -> m.cleanRecords.toString,
        "load" -> m.loadRecords.toString,
        "error" -> m.errorRecords.toString,
        "consistent" -> m.consistent.toString,
        "failure" -> J.str(m.failure.getOrElse("")))
    })

  // ---- run --------------------------------------------------------------

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cpus = a("cpus").toInt
    val setups = a.getOrElse("setups", "3").toInt
    val minOps = a.getOrElse("min-ops", "1").toInt
    val work = Paths.get(a("work"))
    val localDir = work.resolve("spark-local").toString
    val names = a("entries").split(",").toSeq.filter(_.nonEmpty)
    val queries = registry(names.filterNot(_ == UpdateOp))
      .map(q => q.name -> q).toMap
    val exports = a.get("ingest-spec").map(ingestTables).getOrElse(Nil)
    // exports whose records hold bare CR bytes: updated once, in the
    // check pass only, so their counts are reported apart from the timed op
    val probe = a.get("probe-spec").map(ingestTables).getOrElse(Nil)
    require(!names.contains(UpdateOp) || exports.nonEmpty,
      s"$UpdateOp needs --ingest-spec")
    // each op gets its own hard-linked input copy, so the engine's
    // per-input build-once state and footer memo start cold and a writer
    // entry really writes (the copy is made outside the timed region)
    val fresh = a.getOrElse("fresh-inputs", "0") == "1"
    var copies = 0

    // 1. set-up
    var spark: SparkSession = null
    var dataDir = ""
    val setupS = (0 until setups).map { i =>
      val dir = work.resolve(s"data$i")
      linkCopy(Paths.get(a("data")), dir)
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, localDir)
      dir.toFile.list().sorted.filter(_.endsWith(".parquet")).foreach(f =>
        graft.Tables(spark, dir.toString, f.stripSuffix(".parquet")).schema)
      exports.foreach { case (t, p) =>
        graft.ingest.Clean.cleanFile(spark, t, p).good.schema }
      dataDir = dir.toString
      (System.nanoTime() - t0) / 1e9
    }
    val s = spark
    val outDir = work.resolve("ingest-out").toString

    def inputDir(): String = if (!fresh) dataDir else {
      copies += 1
      val c = work.resolve(s"fresh$copies")
      linkCopy(Paths.get(dataDir), c)
      c.toString
    }

    def update(): Seq[Pipeline.TableResult] =
      Pipeline.update(s, exports, outDir, parallelism = cpus)

    /** A Pipeline.update's metrics plus a read-back of what it wrote:
      * typed rows, errs side-channel rows, non-null dates per column. */
    def updateChecked(tables: Seq[(TableDef, String)], out: String): String = {
      val rs = Pipeline.update(s, tables, out, parallelism = cpus)
      val loaded = tables.map { case (t, _) =>
        val typed = s.read.parquet(s"$out/${t.name}.parquet")
        val errs = s.read.option("header", "true")
          .csv(s"$out/${t.name}.errs.csv").count()
        val nonNull = t.dateFields.map { c =>
          c -> typed.where(typed(c).isNotNull).count().toString }
        J.obj("table" -> J.str(t.name),
          "rows" -> typed.count().toString,
          "errs_rows" -> errs.toString,
          "date_non_null" -> J.obj(nonNull: _*))
      }
      J.obj("metrics" -> metricsJson(rs), "loaded" -> J.arr(loaded))
    }

    def runOp(name: String, round: Int, observe: Boolean): Op = {
      val dir = if (name == UpdateOp) "" else inputDir()
      val before = if (observe) scratchState() else Set.empty[(String, Long, Long)]
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var m1 = m0
      var err = ""
      var check = ""
      try {
        if (name == UpdateOp) check = metricsJson(update())
        else {
          val df = queries(name).fn(s, dir)
          t1 = System.nanoTime(); m1 = System.currentTimeMillis()
          df.write.format("noop").mode("overwrite").save()
        }
      } catch { case e: Throwable => err = describe(e) }
      val t2 = System.nanoTime()
      val m2 = System.currentTimeMillis()
      val changed = observe && scratchState() != before
      // the pipeline has no construction step: all of it is execution
      Op(name, round, m0, m2, t1 - t0, t2 - t1, t2 - t0, err, m1, changed,
        check)
    }

    // 2. warm/check pass
    val warm0 = System.nanoTime()
    val checks = mutable.ArrayBuffer.empty[String]
    val rng = new scala.util.Random(seed)
    val probeName = if (probe.nonEmpty) Seq("cr_probe") else Nil
    for (name <- rng.shuffle(names) ++ probeName) {
      val t0 = System.nanoTime()
      var err = ""
      var extra = "{}"
      try {
        if (name == UpdateOp) extra = updateChecked(exports, outDir)
        else if (name == "cr_probe")
          extra = updateChecked(probe, work.resolve("probe-out").toString)
        else {
          queries(name).fn(s, inputDir()).write.mode("overwrite")
            .parquet(work.resolve("checks").resolve(name).toString)
        }
      } catch { case e: Throwable => err = describe(e) }
      checks += J.obj("name" -> J.str(name),
        "oracle" -> J.str(queries.get(name).flatMap(_.oracle).getOrElse("")),
        "seconds" -> J.num((System.nanoTime() - t0) / 1e9),
        "error" -> J.str(err), "observed" -> extra)
    }
    val warmS = (System.nanoTime() - warm0) / 1e9

    // 3./4. measured phases
    /** Closed loop over the entries in whole seeded rounds until the time
      * is up and min-ops is met. With a trace, odd rounds run with its
      * listeners attached and even rounds without, so both halves see the
      * same entries and the same warm-up. Returns (untraced ops, their
      * rounds' elapsed seconds, traced ops). */
    def measure(tr: Option[Trace]): (Seq[Op], Double, Seq[Op]) = {
      val plain, traced = mutable.ArrayBuffer.empty[Op]
      var plainNs = 0L
      val t0 = System.nanoTime()
      val need = math.max(minOps, names.size)
      val secs = if (tr.isEmpty) seconds else 2 * seconds
      def done = (System.nanoTime() - t0) / 1e9 >= secs &&
        plain.size >= need && (tr.isEmpty || traced.size >= need)
      var round = 0
      while (!done) {
        val on = tr.filter(_ => round % 2 == 1)
        on.foreach { t =>
          s.sparkContext.addSparkListener(t); s.listenerManager.register(t) }
        val r0 = System.nanoTime()
        for (name <- rng.shuffle(names))
          (if (on.isEmpty) plain else traced) += runOp(name, round, on.nonEmpty)
        if (on.isEmpty) plainNs += System.nanoTime() - r0
        on.foreach { t =>
          org.apache.spark.perfbench.Bus.drain(s.sparkContext)
          s.listenerManager.unregister(t); s.sparkContext.removeSparkListener(t) }
        round += 1
      }
      (plain.toSeq, plainNs / 1e9, traced.toSeq)
    }
    val tr = if (trace) Some(new Trace) else None
    val (ops, opsElapsedS, tops) = measure(tr)
    val traced = tr.map(t => (t, tops, scratchState().iterator.map(_._2).sum))
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)

    def opsJson(ops: Seq[Op]): String = J.arr(ops.map { o =>
      J.obj("name" -> J.str(o.name), "round" -> o.round.toString,
        "start_ms" -> o.startMs.toString, "end_ms" -> o.endMs.toString,
        "construct_end_ms" -> o.constructEndMs.toString,
        "construct_s" -> J.num(o.constructNs / 1e9),
        "execute_s" -> J.num(o.executeNs / 1e9),
        "wall_s" -> J.num(o.wallNs / 1e9), "error" -> J.str(o.error),
        "scratch_changed" -> o.scratchChanged.toString,
        "check" -> (if (o.check.isEmpty) "null" else o.check))
    })
    val conf = s.conf
    val context = J.obj(
      "cpus" -> Runtime.getRuntime.availableProcessors.toString,
      "local_slots" -> cpus.toString,
      "default_parallelism" -> s.sparkContext.defaultParallelism.toString,
      "shuffle_partitions" -> J.str(conf.get("spark.sql.shuffle.partitions")),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_version" -> J.str(s.version),
      "java_version" -> J.str(System.getProperty("java.version")))
    val tracedJson = traced match {
      case None => "null"
      case Some((tr, tops, scratchEnd)) =>
        J.obj("ops" -> opsJson(tops),
          "jobs" -> J.arr(tr.jobs.toSeq.map(j => J.obj(
            "id" -> j.id.toString, "start_ms" -> j.start.toString,
            "end_ms" -> j.end.toString, "site" -> J.str(j.site),
            "layer" -> J.str(j.layer),
            "stages" -> J.arr(j.stages.map(_.toString))))),
          "stages" -> J.arr(tr.stages.values.toSeq.map(st => J.obj(
            "id" -> st.id.toString, "tasks" -> st.tasks.toString,
            "run_ms" -> st.runMs.toString, "cpu_ns" -> st.cpuNs.toString,
            "gc_ms" -> st.gcMs.toString,
            "shuffle_write" -> st.shuffleW.toString,
            "shuffle_read" -> st.shuffleR.toString,
            "spill" -> st.spill.toString,
            "out_bytes" -> st.outBytes.toString))),
          "execs" -> J.arr(tr.execs.toSeq.map(e => J.obj(
            "at_ms" -> e.at.toString, "analysis_ms" -> e.analysis.toString,
            "optimization_ms" -> e.optimization.toString,
            "planning_ms" -> e.planning.toString))),
          "sql" -> J.arr(tr.sqlSpans.values.toSeq.filter(_._2 >= 0).map {
            case (st, en) => J.obj("start_ms" -> st.toString,
              "end_ms" -> en.toString) }),
          "failed_tasks" -> tr.failedTasks.toString,
          "scratch_bytes" -> scratchEnd.toString)
    }
    val out = J.obj(
      "workload" -> J.str(workload), "seed" -> seed.toString,
      "context" -> context,
      "setup_s" -> J.arr(setupS.map(J.num)),
      "warm_s" -> J.num(warmS),
      "checks" -> J.arr(checks.toSeq),
      "ops" -> opsJson(ops),
      "ops_elapsed_s" -> J.num(opsElapsedS),
      "peak_rss_mb" -> J.num(hwmKb / 1024.0),
      "data_dir" -> J.str(dataDir),
      "traced" -> tracedJson)
    Files.writeString(Paths.get(a("out")), out)
    s.stop()
  }

  // ---- classify ---------------------------------------------------------

  private def classify(a: Map[String, String]): Unit = {
    val cpus = a("cpus").toInt
    val work = Paths.get(a("work"))
    val s = session(cpus, work.resolve("spark-local").toString)
    val dir = a("data")
    val names = a.get("entries").map(_.split(",").toSeq.filter(_.nonEmpty))
      .getOrElse(SparkEntry.registry.map(_.name))
    val tr = new Trace
    s.sparkContext.addSparkListener(tr)
    val rows = registry(names).zipWithIndex.map { case (q, i) =>
      val d = work.resolve(s"fresh$i")
      linkCopy(Paths.get(dir), d)
      val before = scratchState()
      org.apache.spark.perfbench.Bus.drain(s.sparkContext)
      tr.clear()
      val err = try {
        q.fn(s, d.toString).write.format("noop").mode("overwrite").save(); ""
      } catch { case e: Throwable => describe(e) }
      org.apache.spark.perfbench.Bus.drain(s.sparkContext)
      val outBytes = tr.synchronized(tr.stages.values.map(_.outBytes).sum)
      val row = J.obj("name" -> J.str(q.name), "error" -> J.str(err),
        "out_bytes" -> outBytes.toString,
        "scratch_changed" -> (scratchState() != before).toString)
      System.err.println(s"[classify] $row")
      row
    }
    Files.writeString(Paths.get(a("out")), J.arr(rows))
    s.stop()
  }

}

/** Minimal JSON text builders for the harness record. */
object J {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
