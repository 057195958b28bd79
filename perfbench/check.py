"""Output checks, run outside the timed region.

Query entries: the Spark output of each distinct entry (written once as
parquet by the warm pass) is compared with the entry's DuckDB oracle SQL
over the same generated tables, the way the engine's own correctness gate
does it: columns sorted by name, every cell stringified, rows sorted.

Ingest: the pipeline's counts must match what the generator injected.
"""
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def frame_key(df):
    df = df[sorted(df.columns)]
    if len(df) == 0:
        return []
    cols = [df[c].astype(str) for c in df.columns]
    return sorted("|".join(vals) for vals in zip(*cols))


def queries(data_dir, checks_dir, oracles):
    """oracles: {entry: sql}. Returns failure strings."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    failures = []
    for name, sql in sorted(oracles.items()):
        out = os.path.join(checks_dir, name)
        try:
            sdf = pd.read_parquet(out)
            odf = con.sql(sql).df()
        except Exception as e:  # missing dump or oracle error
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if sorted(sdf.columns) != sorted(odf.columns):
            failures.append(f"{name}: columns {sorted(sdf.columns)} != "
                            f"{sorted(odf.columns)}")
        elif len(sdf) != len(odf):
            failures.append(f"{name}: rows {len(sdf)} != oracle {len(odf)}")
        else:
            sk, ok = frame_key(sdf), frame_key(odf)
            if sk != ok:
                i = next(i for i, (a, b) in enumerate(zip(sk, ok)) if a != b)
                failures.append(f"{name}: row {i}: {sk[i][:150]} != {ok[i][:150]}")
    con.close()
    return failures


def ingest_metrics(metrics, expected):
    """One Pipeline.update's FileMetrics rows against the generator's
    expectations; returns failure strings."""
    failures = []
    seen = {m["table"] for m in metrics}
    for t in expected:
        if t not in seen:
            failures.append(f"{t}: no metrics row")
    for m in metrics:
        e = expected.get(m["table"])
        if e is None:
            failures.append(f"{m['table']}: unexpected table")
            continue
        if m["failure"] or m["consistent"] is not True:
            failures.append(f"{m['table']}: inconsistent {m}")
        want = {"download": e["lines"], "clean": e["good"], "load": e["good"],
                "error": e["bad"]}
        for k, v in want.items():
            if m[k] != v:
                failures.append(f"{m['table']}: {k} {m[k]} != expected {v}")
    return failures


def ingest_loaded(loaded, expected):
    """The warm pass's read-back of the written outputs: typed rows, errs
    side-channel rows and non-null dates (both date formats must parse)."""
    failures = []
    for r in loaded:
        e = expected[r["table"]]
        if r["rows"] != e["good"]:
            failures.append(f"{r['table']}: parquet rows {r['rows']} != {e['good']}")
        if r["errs_rows"] != e["bad"]:
            failures.append(f"{r['table']}: errs rows {r['errs_rows']} != injected {e['bad']}")
        for c, n in r["date_non_null"].items():
            if int(n) != e["dates_non_null"][c]:
                failures.append(f"{r['table']}.{c}: non-null dates {n} != "
                                f"{e['dates_non_null'][c]}")
    return failures
