"""Seeded input generators for the benchmark.

`tables` writes the engine's ten parquet tables (the TPC-H-like star plus
events, documents and embeddings) with the same column names, physical
types and value domains as the reference fixtures, scaled by `sf`.

`ingest_exports` writes TSV exports for the ingest pipeline with injected
defects (NUL bytes, wrong field counts, blank fields, mixed date formats,
and on request bare-CR bytes) and returns what a correct clean/load must
report.
"""
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _base(rng, sf):
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ev = int(200_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), max(500, int(20_000 * sf))
    t = {}
    t["region"] = {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(REGIONS)}
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = {"n_nationkey": pa.array(nk),
                   "n_name": pa.array([f"NATION_{i}" for i in nk]),
                   "n_regionkey": pa.array(nk % 5)}
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])}
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(
        np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, n_part)])
    t["part"] = {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10.0, 2))}
    ok = np.arange(n_ord, dtype=np.int64)
    t["orders"] = {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])}
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
    t["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(flags),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(EPOCH_1995 + DAY_US + rng.integers(0, 2498, n_li) * DAY_US)}
    gaps = rng.integers(1, 2 * 30 * DAY_US // max(n_ev, 1), n_ev)
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(1_704_067_200_000_000 + np.cumsum(gaps) // 2),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}
    lens = rng.integers(10, 101, n_doc)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_doc)]
    # 5% near-duplicates: another document's text plus a marker token
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64))}
    emb = rng.normal(0.0, 0.1, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            np.arange(0, 64 * n_emb + 1, 64, dtype=np.int32),
            pa.array(emb.reshape(-1))),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))}
    return t


def tables(out_dir, seed, sf=0.1):
    """Write the ten tables under out_dir; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    counts = {}
    for name, cols in _base(rng, sf).items():
        tbl = pa.table(cols)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


# Ingest exports: column name, type tag. Dates are the only typed fields
# whose parse can go wrong, so each table carries one.
EXPORTS = {
    "lineitem": [("l_orderkey", "int"), ("l_linenumber", "int"),
                 ("l_quantity", "dec"), ("l_extendedprice", "dec"),
                 ("l_discount", "dec"), ("l_returnflag", "str"),
                 ("l_linestatus", "str"), ("l_shipdate", "date"),
                 ("l_comment", "str")],
    "orders": [("o_orderkey", "int"), ("o_custkey", "int"),
               ("o_orderstatus", "str"), ("o_totalprice", "dec"),
               ("o_orderdate", "date"), ("o_orderpriority", "str")],
    "customer": [("c_custkey", "int"), ("c_name", "str"),
                 ("c_nationkey", "int"), ("c_acctbal", "dec"),
                 ("c_mktsegment", "str"), ("c_since", "date")],
    "part": [("p_partkey", "int"), ("p_name", "str"), ("p_brand", "str"),
             ("p_type", "str"), ("p_size", "int"), ("p_retailprice", "dec"),
             ("p_introduced", "date")],
}
# what Load's two date formats accept (the generator writes valid dates)
DATE = re.compile(r"\d{1,2}/\d{1,2}/\d{4}$|\d{4}-\d{2}-\d{2}$")
EXPORT_ROWS = {"lineitem": 1.0, "orders": 0.25, "customer": 0.025,
               "part": 0.033}


def _field(rng, kind, n):
    if kind == "int":
        return rng.integers(0, 10_000_000, n).astype(str)
    if kind == "dec":
        return np.char.mod("%.2f", rng.uniform(0, 100000, n))
    if kind == "date":
        days = (np.datetime64("1995-01-01") + rng.integers(0, 9000, n)
                ).astype("datetime64[D]")
        iso = days.astype(str)
        y, m, d = (np.char.partition(iso, "-")[:, 0],
                   days.astype("datetime64[M]").astype(int) % 12 + 1,
                   (days - days.astype("datetime64[M]")).astype(int) + 1)
        mdy = np.char.add(np.char.add(np.char.add(np.char.add(
            m.astype(str), "/"), d.astype(str)), "/"), y)
        # mixed vintages: a third of the rows use ISO dates
        return np.where(rng.random(n) < 1 / 3, iso, mdy)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), n)]
    return np.char.add(words, rng.integers(0, 1000, n).astype(str))


def ingest_exports(out_dir, seed, lines=20000, cr_rate=0.0, names=None):
    """Write one header + data TSV per export table under out_dir.

    Defects injected per table, all seeded:
      - ~1% wrong-width records (a field dropped or an extra one appended);
      - ~1% records with a NUL byte inside a text field;
      - a `cr_rate` share of records with a bare CR byte inside a middle
        text field;
      - ~2% blank (empty or all-space) fields, which load as NULL;
      - dates alternate between M/d/yyyy and ISO yyyy-MM-dd.
    Records end with LF. The expected counts are those of the records as
    written: a bare CR is a control byte inside a field, which the cleaner
    scrubs (as the reference does), not a record break. Returns {table:
    {"path", "lines", "bad", "good", "dates_non_null", "cr_records",
    "columns", "bytes"}}, "lines" counting records.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    meta = {}
    for name, cols in EXPORTS.items():
        if names is not None and name not in names:
            continue
        n = max(200, int(lines * EXPORT_ROWS[name]))
        width = len(cols)
        fields = [_field(rng, kind, n) for _, kind in cols]
        text_cols = [i for i, (_, kind) in enumerate(cols) if kind == "str"]
        for i in range(width):
            blank = rng.random(n) < 0.02
            fields[i] = np.where(blank, np.where(rng.random(n) < 0.5, "", "  "),
                                 fields[i])
        tc = text_cols[0]
        nul = rng.random(n) < 0.01
        fields[tc] = np.where(nul, np.char.add(fields[tc], "\x00x"), fields[tc])
        mid = next(i for i in text_cols if 0 < i < width - 1)
        cr = rng.random(n) < cr_rate
        fields[mid] = np.where(cr, np.char.add("c\rr", fields[mid]), fields[mid])
        rows = ["\t".join(r) for r in zip(*fields)]
        for j in np.flatnonzero(rng.random(n) < 0.01):
            parts = rows[j].split("\t")
            rows[j] = "\t".join(parts[:-1] if rng.random() < 0.5
                                else parts + ["extra"])
        header = "\t".join(c.upper() for c, _ in cols)
        body = "\n".join(rows) + "\n"
        path = os.path.join(out_dir, f"{name}.tsv")
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write(header + "\n" + body)
        good = [r.split("\t") for r in rows if r.count("\t") == width - 1]
        dates = {c: sum(1 for g in good if DATE.match(g[i].strip(" ")))
                 for i, (c, k) in enumerate(cols) if k == "date"}
        meta[name] = {"path": path, "lines": len(rows),
                      "good": len(good), "bad": len(rows) - len(good),
                      "dates_non_null": dates, "cr_records": int(cr.sum()),
                      "columns": [[c, k] for c, k in cols],
                      "bytes": os.path.getsize(path)}
    return meta
