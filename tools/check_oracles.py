#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the test tables and compare (rows, schema-by-name, values) with
the parquet results graft.Verify dumped.

Usage: python3 tools/check_oracles.py <sfDir> <verifyOutDir> [queryName...]

Trailing query names restrict the compare to those entries (for iterating on
a filtered Verify dump); with no names every oracle must have a dump — a
missing one FAILS, exactly like the driver's gate.
"""
import sys, json, glob, math
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    return df.reindex(sorted(df.columns), axis=1).reset_index(drop=True)


def array_cols(df: pd.DataFrame):
    """Driver parity: the driver's pandas comparator dies on array-typed
    cells (unhashable ndarray in sort_values), so an array output column
    must FAIL here too instead of being quietly normalized away."""
    bad = []
    for c in df.columns:
        if df[c].dtype == object and df[c].apply(
                lambda v: isinstance(v, (list, tuple)) or
                type(v).__name__ == "ndarray").any():
            bad.append(c)
    return bad


def cmp_frames(name, spark_df, duck_df):
    bad = array_cols(spark_df) + array_cols(duck_df)
    if bad:
        return (f"ARRAY cols {sorted(set(bad))}: raw array outputs are "
                "unhashable in the driver's comparator - serialize them "
                "(array_join / md5) in BOTH engines")
    a, b = norm(spark_df), norm(duck_df)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA: spark={list(a.columns)} duck={list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS: spark={len(a)} duck={len(b)}"
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if x is None and y is None:
                continue
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y and abs(x - y) > 1e-9 * max(1, abs(x), abs(y)):
                    return f"VALUE col={c} row={i}: spark={x!r} duck={y!r}"
            elif str(x) != str(y):
                return f"VALUE col={c} row={i}: spark={x!r} duck={y!r}"
    return None


def main(sf_dir, out_dir, only=(), json_out=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    if only:
        oracles = {k: v for k, v in oracles.items() if k in only}
    results = {}
    for name in sorted(oracles):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            results[name] = "NO SPARK OUTPUT"
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        try:
            duck_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            results[name] = f"DUCKDB ERROR: {e}"
            continue
        results[name] = cmp_frames(name, spark_df, duck_df) or "OK"
    # rows-only queries (no oracle)
    for d in sorted(glob.glob(f"{out_dir}/q*")):
        name = d.split("/")[-1]
        if only and name not in only:
            continue
        if name not in oracles:
            n = len(pd.concat([pd.read_parquet(f)
                               for f in glob.glob(f"{d}/*.parquet")]))
            results[name] = f"ROWS-ONLY n={n}" + ("" if n > 0 else " !!EMPTY")
    ok = sum(1 for v in results.values() if v == "OK")
    for k, v in results.items():
        # an empty rows-only result means the query silently broke: FAIL
        passed = v == "OK" or (v.startswith("ROWS-ONLY n=")
                               and "!!EMPTY" not in v)
        mark = "PASS" if passed else "FAIL"
        print(f"{mark} {k}: {v}")
    print(f"\n{ok}/{len(oracles)} oracle matches")
    if json_out:
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_oracles": len(oracles),
                       "n_ok": ok, "results": results}, f, indent=1,
                      sort_keys=True)
        print(f"artifact: {json_out}")


if __name__ == "__main__":
    argv = sys.argv[1:]
    jpath = None
    if "--json" in argv:
        i = argv.index("--json")
        jpath = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    main(argv[0], argv[1], frozenset(argv[2:]), jpath)
