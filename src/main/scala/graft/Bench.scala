package graft

/** Benchmark main: runs every registry query on SPARK_GRAFT_SF_DIR and
  * prints EXACTLY ONE JSON line on stdout — the contract line with
  * total + per-query seconds — and writes the same line to
  * SPARK_GRAFT_BENCH_FULL (default /root/repo/bench_full_latest.json,
  * archivable per round) plus a compact summary to
  * BENCH_summary_latest.json and stderr.
  *
  * Why exactly one line (round-21 fix): the driver runs this under
  * `sbt "runMain graft.Bench"` and parses stdout for the contract JSON.
  * Every round through r20 recorded `parsed: null` because sbt's logger
  * prefixed each program line with `[info] ` — no stdout line started
  * with `{`. build.sbt now sets `run / outputStrategy := StdoutOutput`
  * so the forked JVM's stdout passes through unprefixed, and the old
  * compact trailing summary line was FOLDED INTO the single contract
  * line (it could shadow the full line for a last-parseable-line
  * parser while lacking the per-query map). The driver also archives
  * only the final 2000 bytes of stdout, so the contract line is emitted
  * with the headline keys ("metric"/"value"/"unit"/"total_s"/"sf") at
  * the END of the object — JSON objects are order-free, and this way
  * the totals sit inside the preserved tail even though the per-query
  * map overflows it. Timing methodology is untouched.
  *
  * Queries run in registry (declaration) order so per-query timings are
  * comparable across rounds. A small warm-up action runs first so the
  * initial timed query doesn't absorb session/codegen startup — the
  * timings measure the queries, not JVM boot.
  *
  * Each query is driven through a `noop`-format write, not `count()`:
  * under count() Catalyst prunes every projection the count doesn't
  * need, so projection-heavy queries (string funcs, vector math) would
  * time only their scan. The noop sink materializes every output column
  * end-to-end and discards rows at the sink — the honest per-query cost.
  *
  * Robustness of the artifact (cross-round diffs kept crying wolf on
  * host contention): each query is timed SPARK_GRAFT_REPS times
  * (default 3) and the MIN is reported. Back-to-back medians proved
  * contention-fragile in round 6 — a multi-second contended window on
  * the host poisoned ALL reps of a contiguous block of queries and the
  * median passed it through, fabricating a 3–15× "regression" that a
  * re-run reproduced at baseline. Two structural fixes: (a) reps are
  * INTERLEAVED round-robin across the whole registry (rep 1 of every
  * query, then rep 2, …) so a contended minute smears across many
  * queries' single reps instead of clustering on one block's full rep
  * set; (b) the MIN of reps is reported — still an honest end-to-end
  * wall time (every rep does the full scan + shuffle + sink), and the
  * statistic least corruptible by one-sided contention noise; (c) the
  * round-15 noise rule: sub-0.5 s entries take SPARK_GRAFT_FAST_REPS
  * extra reps (see the loop comment) so their minima stabilize.
  * A query stops repping at its FIRST failing attempt — a known-broken
  * query shouldn't burn the remaining timed reps — and the failure is
  * reported as its NEGATED time-to-failure plus an `"errors"` entry, so
  * a broken query can never masquerade as a fast success. `value` sums
  * mins of successful queries only.
  *
  * The line is kept COMPACT (millisecond precision): the driver captures
  * a bounded tail of the process output, and a long-precision line over
  * a 120+-query registry overflowed that window in round 4 (the recorded
  * artifact had `parsed: null` with the JSON's head truncated away).
  * 3 decimals ≈ 1 KB saved — well inside the window, and sub-ms digits
  * were pure noise anyway.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.local(cpus, "graft-bench")
    // warm-up: exercise scan + shuffle + codegen machinery once
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().collect()
    // Interleaved reps: rep r of every query before rep r+1 of any, so
    // a contended host window degrades one rep of many queries (min
    // discards it) rather than every rep of a contiguous block.
    val registry = SparkEntry.registry
    val times = Array.fill(registry.size)(List.empty[Double])
    val failures = Array.fill[Option[(Double, String)]](registry.size)(None)
    def timeOne(idx: Int): Unit = {
      // guide §1.5: label every query's jobs so UI/event-log analysis
      // can attribute stages to registry entries (nanosecond-cheap;
      // the timed region is identical).
      spark.sparkContext.setJobDescription(s"bench:${registry(idx).name}")
      val t0 = System.nanoTime()
      try {
        registry(idx).fn(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        times(idx) ::= (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        failures(idx) = Some(((System.nanoTime() - t0) / 1e9,
          s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      } finally spark.sparkContext.setJobDescription(null)
    }
    for (_ <- 0 until reps; idx <- registry.indices
         if failures(idx).isEmpty)
      timeOne(idx)
    // NOISE RULE (round 15): entries whose min is already sub-0.5 s get
    // SPARK_GRAFT_FAST_REPS (default 2) EXTRA interleaved reps. At 3
    // reps their cross-round deltas (±60–200 ms) were dominated by
    // scheduler jitter, not plan changes — the r13→r14 diff showed a
    // ±30% band on precisely this class. Five samples tighten the min
    // at negligible cost (the extra reps are, by selection, fast), so
    // a real regression on a small entry separates from noise.
    val fastReps = sys.env.getOrElse("SPARK_GRAFT_FAST_REPS", "2").toInt
    for (_ <- 0 until fastReps; idx <- registry.indices
         if failures(idx).isEmpty && times(idx).nonEmpty &&
           times(idx).min < 0.5)
      timeOne(idx)
    // (secs — negative = time-to-failure, error message of that attempt)
    val results: Seq[(String, Double, Option[String])] =
      registry.zipWithIndex.map { case (q, idx) =>
        failures(idx) match {
          // clamp: a sub-ms failure must not format to "-0.000", which
          // parses equal to 0.0 and loses the negative-time convention
          case Some((t, err)) => (q.name, -math.max(t, 0.001), Some(err))
          case None => (q.name, times(idx).min, None)
        }
      }
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    def jnum(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v, _) => jstr(k) + ":" + jnum(v) }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) =>
      jstr(k) + ":" + jstr(e.take(200))
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    val nErr = results.count(_._3.isDefined)
    // ONE stdout line; headline keys at the END so the driver's bounded
    // (2000-byte) tail capture preserves them past the per-query map.
    // `cpus` and `default_parallelism` say what the run had to scale on.
    val par = spark.sparkContext.defaultParallelism
    val full = s"""{"reps":$reps,"fast_reps":$fastReps,"cpus":$cpus,"default_parallelism":$par,"queries":$qs,"errors":$errs,"n":${results.size},"errors_n":$nErr,"sf":"$sfDir","metric":"total","unit":"sec","total_s":${jnum(total)},"value":${jnum(total)}}"""
    val compact = s"""{"total_s":${jnum(total)},"n":${results.size},"errors_n":$nErr,"reps":$reps,"cpus":$cpus,"default_parallelism":$par,"sf":"$sfDir"}"""
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      "/root/repo/bench_full_latest.json")
    val summaryPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_SUMMARY",
      "/root/repo/BENCH_summary_latest.json")
    def writeLine(path: String, line: String): Unit =
      try {
        val w = new java.io.PrintWriter(path, "UTF-8")
        try w.println(line) finally w.close()
      } catch { case e: Throwable =>
        // e.toString, not getMessage: a null message here would NPE inside
        // the catch and kill the stdout contract line this block protects
        System.err.println(s"""{"warn":"bench artifact write failed","path":${jstr(path)},"err":${jstr(e.toString.take(120))}}""")
      }
    writeLine(fullPath, full)      // complete line, archivable per round
    writeLine(summaryPath, compact) // compact totals, driver-greppable file
    System.err.println(compact)     // belt 3: totals on stderr too
    println(full)
    spark.stop()
  }
}
