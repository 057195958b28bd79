#!/usr/bin/env python3
"""Repo benchmark: seeded closed-loop workloads over the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py compare <record.json> <record.json>
    python3 perfbench/run.py classify [--seed <n>]

Run from the root of a checkout. The first call builds the engine and the
harness from source (sbt, offline) into `.bench_build/`. Each run makes its
inputs from the seed, drives the engine through the JVM harness
(perfbench/harness), checks every distinct entry's output against the
DuckDB oracle (or the ingest counts against the generator's), and prints
one JSON result as its last stdout line. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones plus the tracing
overhead. The full record, with its context stamp, is kept under
`.bench_build/results/` for `compare`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
SPEC = json.load(open(os.path.join(HERE, "workloads.json")))
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    """Digest of every source the build compiles: the engine's main
    sources and the harness."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), HARNESS]
    for root in roots:
        for d, dirs, files in sorted(os.walk(root)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", "__pycache__"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    h.update(open(p, "rb").read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness once per source digest; returns the
    classpath argument file."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources under src/main/scala "
                         "(run from the root of a checkout)")
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return cp_file
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building engine + harness (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if p.returncode != 0:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln.strip() and ":" in ln
          and ln.rstrip().endswith(".jar")][-1].strip()
    with open(cp_file, "w") as f:
        f.write("-cp\n" + cp + "\n")
    train(cp_file)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"perfbench: built in {time.time() - t0:.1f}s")
    return cp_file


def train(cp_file):
    """Record a class-data sharing archive of every class a run loads, by
    running each workload's entries once on small inputs. Runs map the
    archive instead of loading and verifying ~20k classes one by one; it
    halves the harness start-up and first-touch time on a 4-core box.
    Without the archive (a failed training run) runs are slower but the
    same."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gen.tables(os.path.join(work, "data"), 0, 0.01)
    exports = gen.ingest_exports(os.path.join(work, "tsv"), 0, 2000)
    spec_path = os.path.join(work, "ingest.tsv")
    write_ingest_spec(spec_path, exports)
    entries = sorted({e for w in SPEC["workloads"].values() for e in w["entries"]})
    try:
        jvm(cp_file, work, [
            "--mode", "run", "--workload", "train", "--seed", "0",
            "--seconds", "0", "--trace", "1", "--cpus", str(slots()),
            "--setups", "1", "--min-ops", "1", "--work", work,
            "--out", os.path.join(work, "record.json"),
            "--entries", ",".join(entries), "--fresh-inputs", "1",
            "--data", os.path.join(work, "data"), "--ingest-spec", spec_path],
            os.path.join(work, "harness.log"), timeout=600,
            extra=[f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    except SystemExit as e:
        log(f"perfbench: no class-data archive ({e}); runs start slower")
    shutil.rmtree(work, ignore_errors=True)


def write_ingest_spec(path, exports):
    """One line per export table for the harness: name, TSV path and the
    col:kind list."""
    with open(path, "w") as f:
        for name, e in exports.items():
            cols = ",".join(f"{c}:{k}" for c, k in e["columns"])
            f.write(f"{name}\t{e['path']}\t{cols}\n")


def slots():
    return max(1, min(4, os.cpu_count() or 1))


def jvm(cp_file, work, args, stderr_path, timeout=150, extra=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for m in JVM_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    # a fixed-size heap with a fixed young generation keeps the JVM's
    # resident set a function of the work (young gen + promoted data +
    # native), not of the collector's adaptive sizing
    cmd += ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", *extra,
            "-Dspark.sql.session.timeZone=UTC"]
    if not extra and os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    cmd += [f"@{cp_file}",
            "perfbench.Harness"] + args
    with open(stderr_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=err, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: harness timed out")
    if rc != 0:
        tail = open(stderr_path, errors="replace").read()[-3000:]
        log(tail)
        raise SystemExit(f"perfbench: harness exited {rc}")


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return p.stdout.strip() if p.returncode == 0 else ""
    except OSError:
        return ""


def run(args):
    spec = SPEC["workloads"][args.workload]
    cp_file = build()
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(args, spec, cp_file, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


UPDATE_OP = "pipeline_update"  # one Pipeline.update over the TSV exports
PROBE = "cr_probe"  # one untimed Pipeline.update over exports with bare CRs


def measure(args, spec, cp_file, work):
    entries = spec["entries"]
    hargs = ["--mode", "run", "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--cpus", str(slots()),
             "--setups", "5",
             "--min-ops", str(spec["min_ops"]), "--work", work,
             "--out", os.path.join(work, "record.json"),
             "--entries", ",".join(entries),
             "--fresh-inputs", "1" if spec.get("fresh_inputs") else "0"]
    t0 = time.time()
    data = os.path.join(work, "data")
    gen.tables(data, args.seed, spec["sf"])
    hargs += ["--data", data]
    expected, probe = {}, {}
    if UPDATE_OP in entries:
        expected = gen.ingest_exports(os.path.join(work, "tsv"), args.seed,
                                      spec["ingest_lines"])
        spec_path = os.path.join(work, "ingest.tsv")
        write_ingest_spec(spec_path, expected)
        hargs += ["--ingest-spec", spec_path]
        probe = gen.ingest_exports(os.path.join(work, "probe"), args.seed,
                                   1000, cr_rate=0.02, names=["lineitem"])
        write_ingest_spec(os.path.join(work, "probe.tsv"), probe)
        hargs += ["--probe-spec", os.path.join(work, "probe.tsv")]
    gen_s = time.time() - t0
    jvm(cp_file, work, hargs, os.path.join(work, "harness.log"))
    rec = json.load(open(os.path.join(work, "record.json")))

    # checks, outside every timed region
    failures = [f"{c['name']}: warm pass failed: {c['error']}"
                for c in rec["checks"] if c["error"]]
    known = []
    for c in rec["checks"]:
        if c["name"] == UPDATE_OP and not c["error"]:
            failures += check.ingest_metrics(c["observed"]["metrics"], expected)
            failures += check.ingest_loaded(c["observed"]["loaded"], expected)
        elif c["name"] == PROBE and not c["error"]:
            # a known engine defect, reported on every run but not gated:
            # the line reader splits a record at a bare CR before Clean's
            # scrub can remove it
            known += check.ingest_metrics(c["observed"]["metrics"], probe)
            known += check.ingest_loaded(c["observed"]["loaded"], probe)
    for o in rec["ops"] + ((rec["traced"] or {}).get("ops") or []):
        if o["name"] == UPDATE_OP and not o["error"]:
            failures += check.ingest_metrics(o["check"], expected)
    oracles = {c["name"]: c["oracle"] for c in rec["checks"]
               if c["name"] not in (UPDATE_OP, PROBE)}
    failures += check.queries(rec["data_dir"], os.path.join(work, "checks"), oracles)
    lines = sum(e["lines"] for e in expected.values())

    ops = rec["ops"]
    ok = [o for o in ops if not o["error"]]
    walls = [o["wall_s"] for o in ok]
    by_entry = stats.by_entry(ok)
    t = stats.tail(walls)
    e2e = {
        "setup_s": (stats.median(rec["setup_s"]), "s"),
        "op_gmean_s": (stats.entry_gmean(by_entry), "s"),
        # measured throughput: ops over the elapsed time of the untraced
        # rounds, which are whole rounds, so every entry weighs the same
        "ops_per_s": (len(ops) / rec["ops_elapsed_s"], "1/s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }
    context = dict(rec["context"], commit=git_commit(), source_digest=source_digest())
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "context": context, "gen_s": gen_s, "warm_s": rec["warm_s"],
            "setup_runs_s": rec["setup_s"], "ops": len(ops),
            "warm_by_entry_s": {c["name"]: round(c["seconds"], 3) for c in rec["checks"]},
            "op_p50_by_entry_s": {e: round(stats.median(v), 3) for e, v in by_entry.items()},
            "rounds": 1 + max((o["round"] for o in ops), default=0),
            "error_rate": (len(ops) - len(ok)) / max(1, len(ops)),
            "op_tail": {"percentile": t[0], "beyond": t[2]} if t else None,
            "failures": failures, "known_failures": known}
    if UPDATE_OP in by_entry:
        info["ingest_rows_per_s"] = lines / stats.median(by_entry[UPDATE_OP])
    attempted, failed = len(ops), len(ops) - len(ok)
    if args.trace:
        tr = rec["traced"]
        m, unreconciled, observed = stats.layer_report(tr, slots())
        tby = stats.by_entry([o for o in tr["ops"] if not o["error"]])
        m["trace.overhead"] = (stats.entry_gmean(tby) / e2e["op_gmean_s"][0] - 1.0
                               if tby and by_entry else 0.0)
        recorded = SPEC["classes"]
        mismatched = sorted(
            n for n, w in observed.items()
            if n in recorded["writer"] + recorded["read_only"]
            and w != (n in recorded["writer"]))
        m["class.mismatches"] = len(mismatched)
        m["reconcile.failed_ops"] = len(unreconciled)
        tsv_bytes = sum(e["bytes"] for e in expected.values())
        n_up = sum(1 for o in tr["ops"] if o["name"] == UPDATE_OP and not o["error"])
        # bytes the pipeline wrote per byte of TSV it read
        m["ingest.write_amp"] = (m["ingest.output_bytes"] / (tsv_bytes * n_up)
                                 if n_up else 0.0)
        m["ingest.rows_per_s"] = (lines / stats.median(tby[UPDATE_OP])
                                  if UPDATE_OP in tby else 0.0)
        info.update(class_mismatches=mismatched, unreconciled=unreconciled[:50],
                    jobs_by_layer_site=m.pop("_sites"))
        units = {x["name"]: x["unit"] for x in BENCH["per_layer"]}
        metrics = {k: {"value": m[k], "unit": units[k]} for k in units}
        attempted += len(tr["ops"])
        failed += sum(1 for o in tr["ops"] if o["error"])
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    correct = not failures
    record = {"info": info, "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "metrics": metrics}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    out = os.path.join(BUILD, "results",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"context": context, "record": os.path.relpath(out, ROOT)}))
    print(json.dumps({k: v for k, v in info.items() if k != "context"}, default=str))
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(f"op_p50_s {stats.entry_median(by_entry):.6g} s (median over "
          f"{len(by_entry)} entries of each entry's median, {len(walls)} ops)")
    for k in known:
        print(f"known_failure {PROBE} {k}")
    if t:
        # the tail needs >= 11 ops; below that it is omitted, so it is
        # printed here rather than carried as a gated metric
        print(f"op_tail_s {t[1]:.6g} s (p{t[0]:.1f}, {t[2]} ops beyond)")
    else:
        print(f"op_tail_s omitted: {len(walls)} ops, 11 needed")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


COMPARABLE = ("cpus", "local_slots", "default_parallelism",
              "shuffle_partitions", "heap_max_mb", "spark_version")


def compare(a_path, b_path):
    a, b = json.load(open(a_path)), json.load(open(b_path))
    ca, cb = a["info"]["context"], b["info"]["context"]
    diff = {k: (ca.get(k), cb.get(k)) for k in COMPARABLE if ca.get(k) != cb.get(k)}
    if diff:
        print(f"refusing to compare: contexts differ: {diff}")
        return 2
    if a["info"]["workload"] != b["info"]["workload"]:
        print("refusing to compare: different workloads")
        return 2
    for k, va in a["metrics"].items():
        vb = b["metrics"].get(k)
        if vb is None:
            continue
        x, y = va["value"], vb["value"]
        ratio = f"x{y / x:.3f}" if x else "-"
        print(f"{k:32s} {x:>14.6g} {y:>14.6g}  {ratio}")
    return 0


def classify(seed):
    """One untimed pass over every registry entry, each on its own fresh
    copy of the inputs (so no entry inherits state another one built):
    an entry is a writer when its tasks wrote bytes or it changed the
    engine's scratch directory. Prints the lists kept in workloads.json."""
    cp_file = build()
    work = os.path.join(BUILD, "classify")
    shutil.rmtree(work, ignore_errors=True)
    gen.tables(os.path.join(work, "data"), seed, SPEC["classify_sf"])
    out = os.path.join(work, "classify.json")
    jvm(cp_file, work, ["--mode", "classify", "--cpus", str(slots()),
                        "--work", work, "--data", os.path.join(work, "data"),
                        "--out", out],
        os.path.join(work, "harness.log"), timeout=3600)
    rows = json.load(open(out))
    writer = [r["name"] for r in rows
              if int(r["out_bytes"]) > 0 or r["scratch_changed"]]
    read_only = [r["name"] for r in rows if r["name"] not in writer]
    print(json.dumps({"read_only": read_only, "writer": writer}, indent=1))
    return 0


def profile(names, sf, fresh, seed):
    """One untraced and one traced round over `names`: per entry the
    median op wall and the shares of it that each layer's jobs cover."""
    cp_file = build()
    work = os.path.join(BUILD, "profile")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gen.tables(os.path.join(work, "data"), seed, sf)
    out = os.path.join(work, "record.json")
    jvm(cp_file, work, [
        "--mode", "run", "--workload", "profile", "--seed", str(seed),
        "--seconds", "0", "--trace", "1", "--cpus", str(slots()),
        "--setups", "1", "--min-ops", "1", "--work", work, "--out", out,
        "--entries", ",".join(names), "--fresh-inputs", "1" if fresh else "0",
        "--data", os.path.join(work, "data")],
        os.path.join(work, "harness.log"), timeout=3600)
    rec = json.load(open(out))
    shutil.rmtree(work, ignore_errors=True)
    tr = rec["traced"]
    walls = stats.by_entry([o for o in rec["ops"] + tr["ops"] if not o["error"]])
    oracle = {c["name"] for c in rec["checks"] if c["oracle"] and not c["error"]}
    rows = {}
    for o in tr["ops"]:
        if o["error"] or o["name"] not in oracle or len(walls[o["name"]]) < 2:
            continue
        m = stats.layer_report(dict(tr, ops=[o]), slots())[0]
        w = o["wall_s"]
        rows[o["name"]] = {"wall_s": stats.median(walls[o["name"]]), "traced_s": w,
                           "fixed": m["fixed_share"] * w, "exec": m["exec.job_s"],
                           "io": m["io.setup_s"], "store": m["store.job_s"],
                           "ingest": m["ingest.job_s"]}
    return rows


def stratified(rows, k, share):
    """k entries: sort by op wall, cut into k equal-count strata, and from
    each take its medoid in rank space: the entry whose ranks by wall and
    by `share` of its wall, each scaled to [0, 1] within the stratum, are
    closest in sum to the stratum's middle (ties by name)."""
    names = sorted(rows, key=lambda n: (rows[n]["wall_s"], n))
    picks = []
    for i in range(k):
        group = names[len(names) * i // k:len(names) * (i + 1) // k]
        by_share = sorted(group, key=lambda n: (share(rows[n]), n))
        span = max(1, len(group) - 1)
        picks.append(min(group, key=lambda n: (
            abs(group.index(n) / span - 0.5)
            + abs(by_share.index(n) / span - 0.5), n)))
    return picks


def evidence(rows, names):
    """The class's and the subset's median op wall, the median over
    entries of each layer's share of the entry's traced wall (entries
    weigh the same, as in op_gmean_s), and the wall-weighted fixed share
    (every entry run once)."""
    sub = {n: rows[n] for n in names}
    out = {}
    for label, rs in (("class", rows), ("subset", sub)):
        out[label] = dict(
            entries=len(rs),
            median_wall_s=round(stats.median([r["wall_s"] for r in rs.values()]), 3),
            **{f"{k}_share": round(stats.median([r[k] / r["traced_s"] for r in rs.values()]), 3)
               for k in ("fixed", "exec", "io", "store", "ingest")},
            weighted_fixed_share=round(sum(r["fixed"] for r in rs.values())
                                       / sum(r["traced_s"] for r in rs.values()), 3))
    return out


# the writer kinds the benchmark's design names, by registry name prefix
# (the class itself is observed, not named); most other writers build,
# mutate or serve an index. serve_mutate takes one entry of each kind.
WRITER_KINDS = (("mv", "mv_"), ("takedown", "takedown_"), ("table", "table_"))


def writer_kind(name):
    return next((k for k, p in WRITER_KINDS if name.startswith(p)), "index/other")


def select(seed):
    """Profile both recorded classes and print the entry subsets the
    workloads use, with the evidence that each matches its class. Only
    entries whose op fits in one run's measuring time are picked: a longer
    one would overrun every run."""
    qm, sm = SPEC["workloads"]["query_mix"], SPEC["workloads"]["serve_mutate"]
    cap = BENCH["run_seconds"]
    ro = profile(SPEC["classes"]["read_only"], qm["sf"], False, seed)
    pick_ro = stratified({n: r for n, r in ro.items() if r["wall_s"] <= cap},
                         qm["select"], lambda r: r["fixed"] / r["traced_s"])
    wr = profile(SPEC["classes"]["writer"], sm["sf"], True, seed)
    kinds = {}
    for n, r in wr.items():
        if r["wall_s"] <= cap:
            kinds.setdefault(writer_kind(n), {})[n] = r
    pick_wr = [stratified(rows, 1, lambda r: (r["store"] + r["io"]) / r["traced_s"])[0]
               for kind, rows in sorted(kinds.items())]
    print(json.dumps({
        "query_mix": {"entries": pick_ro, "evidence": evidence(ro, pick_ro)},
        "serve_mutate": {"entries": pick_wr, "evidence": evidence(wr, pick_wr),
                         "kinds": {kd: sorted(set(r) & set(pick_wr))
                                   for kd, r in kinds.items()},
                         "kind_sizes": {kd: len(r) for kd, r in kinds.items()},
                         "over_cap": sorted(n for n, r in wr.items() if r["wall_s"] > cap)},
        "profiles": {"read_only": ro, "writer": wr}}, indent=1))
    return 0


BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json"))) \
    if os.path.exists(os.path.join(HERE, "..", "BENCHMARK.json")) else {"per_layer": []}


def main(argv):
    if argv[:1] == ["compare"] and len(argv) == 3:
        return compare(argv[1], argv[2])
    if argv[:1] == ["select"]:
        return select(int(argv[1]) if len(argv) > 1 else 1)
    if argv[:1] == ["classify"]:
        return classify(int(argv[2]) if len(argv) > 2 else 1)
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
