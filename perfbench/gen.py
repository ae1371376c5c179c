"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (seed, scale). The tables follow the
schemas of the engine's fixtures (TESTDATA.md) and are written as
multi-file parquet directories (`<table>.parquet/part-*.parquet`, rows in a
seeded permutation), so every scan runs as several tasks, as a table of
many row groups does at data scale, instead of the single task a
one-row-group fixture file gives. The survey table is a versioned CSV
(`survey_v1.csv` with a `# META:` header) for the prep loop.
"""
import csv
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FILES_PER_TABLE = 4

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

SURVEY_NUMERIC = 3
SURVEY_CATEGORICAL = 3
SURVEY_NA = 0.05
SURVEY_POSITIVE = 0.14


def _write(table, out_dir, name, rng):
    path = os.path.join(out_dir, f"{name}.parquet")
    os.makedirs(path)
    perm = rng.permutation(table.num_rows)
    table = table.take(pa.array(perm))
    nfiles = min(FILES_PER_TABLE, max(1, table.num_rows))
    bounds = np.linspace(0, table.num_rows, nfiles + 1).astype(int)
    for i in range(nfiles):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))


def board_tables(seed, sf, out_dir):
    """The star-schema fixtures the tabular ops read (`lineitem`, `orders`,
    `customer`, `supplier`, `nation`, `events`) plus the survey CSV; `sf` = 1
    is 6M lineitem rows. Keys are drawn over the fixture's key ranges."""
    rng = np.random.default_rng([seed, 1])
    n_supp, n_cust = max(10, int(10000 * sf)), max(150, int(150000 * sf))
    n_ord, n_li = max(1500, int(1500000 * sf)), max(6000, int(6000000 * sf))
    n_ev, n_users = max(1000, int(1000000 * sf)), max(15, int(15000 * sf))
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, max(200, int(200000 * sf)), n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.0, 9999.0, n_supp), 2)})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    for name, t in [("lineitem", lineitem), ("orders", orders),
                    ("customer", customer), ("supplier", supplier),
                    ("nation", nation), ("events", events)]:
        _write(t, out_dir, name, rng)
    survey_csv(seed, n_li // 3, out_dir)


def survey_csv(seed, n_rows, out_dir):
    """`survey_v1.csv`, shaped like the reference's BRFSS demo table: a row
    id, 3 numeric and 3 categorical columns with about 5% missing cells
    each (empty numeric fields, `NA` categorical ones), and a 0/1 `label`
    that is 1 about 14% of the time. The `# META:` header is the one
    `VersionedCsv.saveVersioned` writes for version 1."""
    rng = np.random.default_rng([seed, 3])
    header = (["row_id"] + [f"num_{i}" for i in range(SURVEY_NUMERIC)]
              + [f"cat_{i}" for i in range(SURVEY_CATEGORICAL)] + ["label"])
    cols = [[str(i) for i in range(n_rows)]]
    for i in range(SURVEY_NUMERIC):
        if i % 2 == 0:
            v = [str(x) for x in rng.integers(0, 100, n_rows)]
        else:
            v = [repr(float(x)) for x in np.round(rng.normal(50.0, 15.0, n_rows), 3)]
        miss = rng.random(n_rows) < SURVEY_NA
        cols.append(["" if m else x for x, m in zip(v, miss)])
    for i in range(SURVEY_CATEGORICAL):
        levels = [f"c{i}_{k}" for k in range(3 + i)]
        v = rng.choice(levels, n_rows)
        miss = rng.random(n_rows) < SURVEY_NA
        cols.append(["NA" if m else x for x, m in zip(v, miss)])
    cols.append([str(int(x)) for x in rng.random(n_rows) < SURVEY_POSITIVE])
    with open(os.path.join(out_dir, "survey_v1.csv"), "w", newline="") as f:
        f.write(f"# META: v1: synthetic survey, seed {seed}\n")
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(zip(*cols))


def corpus_tables(seed, n_docs, replicas, out_dir):
    """`documents` of `n_docs` base docs (about 5% planted near-duplicates,
    a few exact ones), replicated the way tools/make_sf.py scales it: ids
    shift by 100000 per replica and every token of replica k > 0 carries a
    `~k` suffix, so replicas are not near-duplicates of each other."""
    assert n_docs < 10000, "d3's near-corpus adds ids from 10000 upward"
    rng = np.random.default_rng([seed, 2])
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(8, 101))))
    langs = rng.choice(LANGS, n_docs, p=LANG_P)
    ids, out_text, out_lang, out_src = [], [], [], []
    for k in range(replicas):
        for i, text in enumerate(texts):
            ids.append(i + k * 100000)
            out_text.append(text if k == 0 else
                            " ".join(w + f"~{k}" for w in text.split(" ")))
            out_lang.append(langs[i])
            out_src.append(f"src{i % 20}")
    table = pa.table({
        "doc_id": np.array(ids, dtype=np.int64),
        "text": out_text,
        "lang": out_lang,
        "source": out_src,
        "n_chars": np.array([len(x) for x in out_text], dtype=np.int64)})
    _write(table, out_dir, "documents", rng)


def ensure(path, make):
    """Build `path` with `make(tmp)` unless it is already complete."""
    if os.path.isdir(path):
        return
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    os.rename(tmp, path)
