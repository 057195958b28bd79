"""Statistics of the benchmark: percentiles, job-interval arithmetic and
the per-layer report of a traced run."""
import math
import statistics

LAYERS = ("ops", "exec", "io", "store", "ingest")
# per-op span tree: op -> construct (registry fn) and execute (noop write)
# -> Spark jobs, each labelled with a layer


def median(values):
    return statistics.median(values) if values else 0.0


def by_entry(ops):
    """{entry: [op wall seconds]}"""
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append(o["wall_s"])
    return out


def entry_median(by_entry):
    """Median over entries of each entry's median op time: every entry
    weighs the same however often it ran."""
    return median([median(v) for v in by_entry.values()])


def entry_gmean(by_entry):
    """Geometric mean over entries of each entry's median op time. Unlike
    the median over entries it uses every entry, so one entry's run-to-run
    jitter moves it by only its share."""
    meds = [median(v) for v in by_entry.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else 0.0


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (percentile, value, samples_beyond) or None when there are
    fewer than beyond + 1 samples. The value is the (n - beyond)-th
    smallest sample, and the percentile is the share of samples at or
    below it."""
    n = len(values)
    if n < beyond + 1:
        return None
    xs = sorted(values)
    k = n - beyond - 1
    return 100.0 * (k + 1) / n, xs[k], n - 1 - k


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals
            if min(b, hi) > max(a, lo)]


def union(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted(clip(intervals, lo, hi)):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def gaps(intervals, lo, hi):
    """Length of [lo, hi] covered by no interval, summed gap by gap."""
    total, cursor = 0, lo
    for a, b in sorted(clip(intervals, lo, hi)):
        if a > cursor:
            total += a - cursor
        cursor = max(cursor, b)
    return total + max(0, hi - cursor)


def self_time(lo, hi, children):
    """A span's self time: its duration minus the part of it that its
    child spans cover."""
    return (hi - lo) - union(children, lo, hi)


def reconcile(op, jobs, sql, tol_s=0.005):
    """Problems of one traced op whose parts do not add up to its wall.

    The wall, the construct time and the op's window [start_ms, end_ms]
    come from the harness's clocks; `jobs` (the op's Spark jobs) and `sql`
    (SQL execution spans) from the listener's. Two sums are checked:
      - the listener's job-interval union, unclipped, plus the driver gaps
        between jobs inside the window equals the wall (within 1% or
        `tol_s`): a job that outlives the op, or a window that is not the
        wall, breaks it;
      - the construct time plus the union of the SQL executions started
        after construction is within 5% of the wall: driver work outside
        any SQL execution, after construction, breaks it."""
    lo, hi, mid = op["start_ms"], op["end_ms"], op["construct_end_ms"]
    wall = op["wall_s"]
    ivs = [(j["start_ms"], j["end_ms"]) for j in jobs]
    problems = []
    job_union = union(ivs, -math.inf, math.inf) / 1000.0
    gap = gaps(ivs, lo, hi) / 1000.0
    if abs(job_union + gap - wall) > max(tol_s, 0.01 * wall):
        problems.append(f"job union {job_union:.3f}s + gap {gap:.3f}s "
                        f"!= wall {wall:.3f}s")
    spans = [(x["start_ms"], x["end_ms"]) for x in sql if mid <= x["start_ms"] <= hi]
    execute = union(spans, -math.inf, math.inf) / 1000.0
    if abs(op["construct_s"] + execute - wall) > 0.05 * wall:
        problems.append(f"construct {op['construct_s']:.3f}s + sql "
                        f"{execute:.3f}s off wall {wall:.3f}s by >5%")
    return problems


def layer_report(traced, slots):
    """Per-layer metrics of a traced phase (see BENCHMARK.json per_layer)
    plus the per-op reconciliation list."""
    ops = [o for o in traced["ops"] if not o["error"]]
    jobs = [j for j in traced["jobs"] if j["end_ms"] >= j["start_ms"] >= 0]
    stages = {s["id"]: s for s in traced["stages"]}
    execs = traced["execs"]
    sql = traced["sql"]
    m = {k: 0.0 for k in (
        "ops.construct_s", "ops.construct_jobs", "catalyst.analysis_s",
        "catalyst.optimization_s", "catalyst.planning_s",
        "catalyst.executions", "driver.job_union_s", "driver.gap_s",
        "io.setup_jobs", "io.setup_s", "exec.jobs", "exec.stages",
        "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s",
        "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
        "exec.spill_bytes", "exec.single_task_stages", "exec.slot_util",
        "exec.failed_tasks", "store.jobs", "store.job_s",
        "store.output_bytes", "store.scratch_bytes", "ingest.load_write_s",
        "ingest.cleaned_csv_s", "ingest.verify_s", "ingest.verify_jobs",
        "ingest.output_bytes", "ops.job_s", "exec.job_s", "ingest.job_s",
        "ops.construct_self_s", "driver.execute_self_s")}
    wall_total = 0.0
    # op wall that exec, store and ingest jobs cover
    work_total = 0.0
    unreconciled = []
    out_bytes = {}
    for o in ops:
        lo, hi = o["start_ms"], o["end_ms"]
        wall = (hi - lo) / 1000.0
        wall_total += wall
        mine = [j for j in jobs if lo <= j["start_ms"] <= hi]
        for j in mine:
            if not j["layer"]:
                j["layer"] = "ops" if j["start_ms"] < o["construct_end_ms"] else "exec"
        ivs = [(j["start_ms"], j["end_ms"]) for j in mine]
        job_union = union(ivs, lo, hi) / 1000.0
        gap = gaps(ivs, lo, hi) / 1000.0
        m["driver.job_union_s"] += job_union
        m["driver.gap_s"] += gap
        mid = o["construct_end_ms"]
        m["ops.construct_self_s"] += self_time(lo, mid, ivs) / 1000.0
        m["driver.execute_self_s"] += self_time(mid, hi, ivs) / 1000.0
        m["ops.construct_s"] += o["construct_s"]
        m["ops.construct_jobs"] += sum(1 for j in mine if j["start_ms"] < o["construct_end_ms"])
        problems = reconcile(o, mine, sql)
        if problems:
            unreconciled.append({"op": o["name"], "round": o["round"],
                                 "problems": problems})
        ob = sum(stages[s]["out_bytes"] for j in mine for s in j["stages"] if s in stages)
        key = o["name"]
        out_bytes[key] = out_bytes.get(key, False) or ob > 0 or o["scratch_changed"]
        for lab in LAYERS:
            lj = [j for j in mine if j["layer"] == lab]
            st = [stages[s] for j in lj for s in j["stages"] if s in stages]
            busy = union([(j["start_ms"], j["end_ms"]) for j in lj], lo, hi) / 1000.0
            jobs_key, time_key = {"io": ("io.setup_jobs", "io.setup_s"),
                                  "store": ("store.jobs", "store.job_s"),
                                  "exec": ("exec.jobs", "exec.job_s")}.get(
                                      lab, (None, f"{lab}.job_s"))
            m[time_key] += busy
            if jobs_key:
                m[jobs_key] += len(lj)
            if lab == "store":
                m["store.output_bytes"] += sum(s["out_bytes"] for s in st)
            elif lab == "ingest":
                m["ingest.output_bytes"] += sum(s["out_bytes"] for s in st)
                for site, key in (("Tracking.scala", "verify"), ("Clean.scala", "cleaned_csv")):
                    sj = [j for j in lj if j["site"] == site]
                    m[f"ingest.{key}_s"] += union([(j["start_ms"], j["end_ms"]) for j in sj], lo, hi) / 1000.0
                    if key == "verify":
                        m["ingest.verify_jobs"] += len(sj)
                lw = [j for j in lj if j["site"] in ("Pipeline.scala", "Load.scala")]
                m["ingest.load_write_s"] += union([(j["start_ms"], j["end_ms"]) for j in lw], lo, hi) / 1000.0
        work_total += union([(j["start_ms"], j["end_ms"]) for j in mine
                             if j["layer"] in ("exec", "store", "ingest")],
                            lo, hi) / 1000.0
        all_st = [stages[s] for j in mine for s in j["stages"] if s in stages]
        m["exec.stages"] += len(all_st)
        m["exec.tasks"] += sum(s["tasks"] for s in all_st)
        m["exec.task_run_s"] += sum(s["run_ms"] for s in all_st) / 1000.0
        m["exec.task_cpu_s"] += sum(s["cpu_ns"] for s in all_st) / 1e9
        m["exec.gc_s"] += sum(s["gc_ms"] for s in all_st) / 1000.0
        m["exec.shuffle_write_bytes"] += sum(s["shuffle_write"] for s in all_st)
        m["exec.shuffle_read_bytes"] += sum(s["shuffle_read"] for s in all_st)
        m["exec.spill_bytes"] += sum(s["spill"] for s in all_st)
        m["exec.single_task_stages"] += sum(1 for s in all_st if s["tasks"] == 1)
        for e in execs:
            if lo <= e["at_ms"] <= hi:
                m["catalyst.executions"] += 1
                m["catalyst.analysis_s"] += e["analysis_ms"] / 1000.0
                m["catalyst.optimization_s"] += e["optimization_ms"] / 1000.0
                m["catalyst.planning_s"] += e["planning_ms"] / 1000.0
    m["exec.failed_tasks"] = traced["failed_tasks"]
    m["store.scratch_bytes"] = traced["scratch_bytes"]
    if wall_total > 0:
        m["exec.slot_util"] = m["exec.task_run_s"] / (wall_total * slots)
        # the ops + catalyst + driver + io share: everything in the op wall
        # that no exec, store or ingest job covers (construction and its
        # eager jobs, Catalyst, driver gaps, listing and footer jobs)
        m["fixed_share"] = 1.0 - work_total / wall_total
    else:
        m["fixed_share"] = 0.0
    sites = {}
    for j in jobs:
        k = f"{j['layer'] or '-'} {j['site'][:60]}"
        sites[k] = sites.get(k, 0) + 1
    m["_sites"] = dict(sorted(sites.items(), key=lambda kv: -kv[1])[:20])
    return m, unreconciled, out_bytes
