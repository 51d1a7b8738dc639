"""Seed-driven parquet tables for the ops_slice workload, and the DuckDB
check of the battery entries' rows.

The tables reproduce the statistics measured on the battery's sf0.1 test
tables (perfbench/DESIGN.md, "ops_slice inputs"), with every row count and
key range scaled by one fraction, FRACTION:

- documents: tokens drawn uniformly from a fixed 30-word vocabulary, 10 to
  100 tokens a document; 5 % are near-duplicates, a copy of another
  document with the token "dup" appended; source round-robin over 20
  sources; language mix as measured.
- embeddings: 64-dim unit vectors, isotropic; label uniform over 10.
- orders, lineitem: keys uniform over their ranges (customers, parts and
  suppliers scale with the fraction too), about 4 lines an order.

Expected rows come from running each entry's oracle SQL in DuckDB on the
same files, never from the engine; they are compared with the engine's rows
by the battery's own comparator (tools/check_oracles.py).
"""
import hashlib
import os
import statistics
import sys
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check_oracles import cmp_frames  # noqa: E402

TABLES = ("documents", "embeddings", "lineitem", "orders")
# Row counts and key ranges of the sf0.1 test tables.
SF01 = {"documents": 5000, "embeddings": 2000, "orders": 150000,
        "lineitem": 600000, "customers": 15000, "parts": 20000,
        "suppliers": 1000}
FRACTION = 0.25
N = {k: int(v * FRACTION) for k, v in SF01.items()}
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
NEAR_DUP_RATE = 0.05
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.412, 0.151, 0.149, 0.148, 0.140)
SOURCES = 20
JOB_COL = "perfbench_job"


def documents(rng):
    n = N["documents"]
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
             for _ in range(n)]
    # a near-duplicate may copy an earlier near-duplicate, so some carry
    # "dup" twice and two copies of one document are exact twins
    for i in rng.choice(n, int(n * NEAR_DUP_RATE), replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng):
    n = N["embeddings"]
    v = rng.normal(size=(n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _dates(rng, n, first, last):
    lo = np.datetime64(first, "D")
    days = rng.integers(0, (np.datetime64(last, "D") - lo).astype(int) + 1, n)
    return pa.array((lo + days).astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.array(values)[rng.integers(0, len(values), n)].tolist())


def orders(rng):
    n = N["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, N["customers"], n).astype(np.int64)),
        "o_orderstatus": _pick(rng, ("O", "F", "P"), n),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": _dates(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, ("1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"), n),
    })


def lineitem(rng):
    n = N["lineitem"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, N["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, N["parts"], n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, N["suppliers"], n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("O", "F"), n),
        "l_shipdate": _dates(rng, n, "1995-01-02", "2001-11-04"),
    })


def write(out_dir, seed):
    """Writes the four tables for `seed`; the same seed gives the same bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, make in (("documents", documents), ("embeddings", embeddings),
                       ("orders", orders), ("lineitem", lineitem)):
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))


def prepare(work, seed):
    """Generates the tables three times (inputs-0..2, compared byte for byte
    by the JVM) and returns the median generation time in seconds."""
    times = []
    for i in range(3):
        t0 = time.perf_counter()
        write(os.path.join(work, f"inputs-{i}"), seed)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def check(table_dir, rows_dir, sql_by_entry, jobs):
    """Compares every job's rows of every entry (parquet under
    `rows_dir/<entry>`, job index in JOB_COL) with DuckDB's rows for the
    entry's oracle SQL. Returns {job index: first error}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(table_dir, t)}.parquet')")
    errors = {}
    for name, sql in sorted(sql_by_entry.items()):
        want = con.execute(sql).fetchdf()
        path = os.path.join(rows_dir, name)
        if not os.path.isdir(path):
            for j in range(jobs):
                errors.setdefault(j, f"{name}: no rows exported")
            continue
        got = pd.read_parquet(path)
        for j in range(jobs):
            if j in errors:
                continue
            mine = got[got[JOB_COL] == j].drop(columns=[JOB_COL])
            err = cmp_frames(name, mine, want)
            if err:
                errors[j] = f"{name}: {err}"
    con.close()
    return errors


def _digest(d):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def selftest(work):
    """Same seed, same bytes; another seed, other bytes. The DuckDB check
    passes DuckDB's own rows and fails them after one changed value."""
    write(os.path.join(work, "a"), 7)
    write(os.path.join(work, "b"), 7)
    write(os.path.join(work, "c"), 8)
    a, b, c = (_digest(os.path.join(work, x)) for x in "abc")
    ok = True

    def expect(cond, what):
        nonlocal ok
        print(f"{'ok  ' if cond else 'FAIL'} {what}")
        ok = ok and cond

    expect(a == b, "tables: same seed gives byte-identical tables")
    expect(a != c, "tables: another seed gives different tables")
    sql = "SELECT doc_id, n_chars / 7.0 AS score FROM documents ORDER BY doc_id LIMIT 50"
    con = duckdb.connect()
    want = con.execute(sql.replace(
        "documents", f"read_parquet('{os.path.join(work, 'a', 'documents.parquet')}')")).fetchdf()
    con.close()
    rows = os.path.join(work, "rows")
    os.makedirs(os.path.join(rows, "demo"), exist_ok=True)
    good = want.assign(**{JOB_COL: 0})
    bad = want.copy()
    bad.loc[3, "score"] += 0.5
    pd.concat([good, bad.assign(**{JOB_COL: 1})]).to_parquet(
        os.path.join(rows, "demo", "part-0.parquet"))
    errors = check(os.path.join(work, "a"), rows, {"demo": sql}, 2)
    expect(0 not in errors, "gate: battery rows equal to DuckDB's pass")
    expect(1 in errors, "gate: one changed battery value fails")
    return ok
