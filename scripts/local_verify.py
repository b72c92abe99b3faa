#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/local_verify.py <sfDir> <verifyOutDir> [jsonOutPath]

Reads each <verifyOutDir>/<query>/ parquet (written by graft.Verify), runs the
matching oracle SQL from oracle_sql.json in DuckDB (tables registered over the
same parquet files), sorts columns by name and rows by all columns, and
compares values exactly (doubles: bit-exact unless GRAFT_TOL is set).

When jsonOutPath is given (or GRAFT_VERIFY_JSON is set), additionally writes
the driver's per-query artifact shape so the round record survives a driver
handshake flake (CORRECTNESS_r{8,10}.json arrived as `{}` while the engine was
203/203 green):

    {query: {rows_match, schema_match, hash_match,
             spark_rows, oracle_rows, err, oracle_s}}

oracle_s is the seconds the query's DuckDB oracle took (null without an
oracle), so a newly slow oracle shows up in a diff of two records; it
decides nothing.

hash_match here is the full bit-exact value compare (strictly stronger than a
hash). Rows-only queries (no oracle SQL) report oracle_rows/schema_match/
hash_match as null and rows_match = spark_rows > 0, matching the driver's
weaker check. Cross-check against bench_out.json's `queries_ok`.
"""
import json
import math
import os
import sys
import time

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # Normalize datetime64 storage resolution (ns vs us is a pandas/pyarrow
    # artifact, not a value difference) BEFORE the dtype-strict check.
    for c in df.columns:
        if df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def values_equal(a, b, tol):
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        if tol == 0:
            return fa == fb
        return abs(fa - fb) <= tol * max(1.0, abs(fa), abs(fb))
    return a == b


def verdict(result):
    return "PASS" if result.startswith(("OK", "ROWS_ONLY")) else "FAIL"


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    json_out = sys.argv[3] if len(sys.argv) > 3 else os.environ.get("GRAFT_VERIFY_JSON")
    tol = float(os.environ.get("GRAFT_TOL", "0"))
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)

    results = {}
    records = {}  # driver-shape per-query record for the JSON artifact

    def record(name, spark_rows=None, oracle_rows=None, rows_match=None,
               schema_match=None, hash_match=None, err=None):
        records[name] = {
            "rows_match": rows_match,
            "schema_match": schema_match,
            "hash_match": hash_match,
            "spark_rows": spark_rows,
            "oracle_rows": oracle_rows,
            "err": err,
        }

    names = sorted(
        d for d in os.listdir(out_dir)
        if os.path.isdir(os.path.join(out_dir, d))
    )
    def check(name):
        """Compares one query's dump with its oracle; returns the oracle's
        seconds (None when it has no oracle)."""
        spark_df = pd.read_parquet(os.path.join(out_dir, name))
        if name not in oracles:
            results[name] = f"ROWS_ONLY rows={len(spark_df)}"
            record(name, spark_rows=len(spark_df), rows_match=len(spark_df) > 0)
            return None
        t0 = time.monotonic()
        try:
            oracle_df = con.sql(oracles[name]).df()
        except Exception as e:
            results[name] = f"ORACLE_ERROR {str(e).splitlines()[0][:160]}"
            record(name, spark_rows=len(spark_df), err=results[name])
            return time.monotonic() - t0
        oracle_s = time.monotonic() - t0
        s, o = canon(spark_df), canon(oracle_df)
        if list(s.columns) != list(o.columns):
            results[name] = f"SCHEMA_MISMATCH spark={list(s.columns)} oracle={list(o.columns)}"
            record(name, spark_rows=len(s), oracle_rows=len(o),
                   rows_match=len(s) == len(o), schema_match=False,
                   hash_match=False, err=results[name])
            return oracle_s
        if len(s) != len(o):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(s)} oracle={len(o)}"
            record(name, spark_rows=len(s), oracle_rows=len(o),
                   rows_match=False, schema_match=True, hash_match=False,
                   err=results[name])
            return oracle_s
        # Dtype-strict: the driver's hash is REPRESENTATION-sensitive
        # (int64 123 != float64 123.0 != Decimal('123')). DuckDB surfaces
        # HUGEINT and DECIMAL(38,x) results as float64 while Spark parquet
        # arrives int64/Decimal — value-equal results still hash-fail. Fail
        # here, before any float coercion can mask it (round-6 lesson:
        # 5 queries shipped "green" locally and failed the driver's hash).
        bad = None
        for col in s.columns:
            sd, od = s[col].dtype, o[col].dtype
            if str(sd) != str(od):
                bad = f"DTYPE_MISMATCH col={col} spark={sd} oracle={od}"
                break
        if bad:
            results[name] = bad
            record(name, spark_rows=len(s), oracle_rows=len(o), rows_match=True,
                   schema_match=True, hash_match=False, err=bad)
            return oracle_s
        for col in s.columns:
            sv, ov = s[col].tolist(), o[col].tolist()
            for i, (x, y) in enumerate(zip(sv, ov)):
                x = None if (isinstance(x, float) and math.isnan(x)) else x
                y = None if (isinstance(y, float) and math.isnan(y)) else y
                if not values_equal(x, y, tol):
                    bad = f"VALUE_MISMATCH col={col} row={i} spark={x!r} oracle={y!r}"
                    break
            if bad:
                break
        results[name] = bad or f"OK rows={len(s)}"
        record(name, spark_rows=len(s), oracle_rows=len(o), rows_match=True,
               schema_match=True, hash_match=bad is None, err=bad)
        return oracle_s

    # one line per query as it finishes, so a stalled oracle shows
    for i, name in enumerate(names, 1):
        oracle_s = check(name)
        records[name]["oracle_s"] = None if oracle_s is None else round(oracle_s, 3)
        took = "no oracle" if oracle_s is None else f"oracle {oracle_s:.2f} s"
        print(f"[{i}/{len(names)}] {verdict(results[name]):4} {name} ({took}): {results[name]}",
              file=sys.stderr, flush=True)

    if not results:
        # Round-8 lesson: an empty results map is indistinguishable from a
        # round where everything broke. If Verify wrote zero query dirs
        # (wrong outDir, killed before any dump), say so and fail loudly
        # instead of emitting `{}`.
        print(
            f"FATAL: no query output directories under {out_dir} — "
            "graft.Verify produced nothing to compare (empty gate artifact "
            "refused)",
            file=sys.stderr,
        )
        sys.exit(3)

    if json_out:
        with open(json_out, "w") as f:
            json.dump(records, f, indent=1, sort_keys=True)
        print(f"wrote {len(records)}-entry driver-shape record to {json_out}",
              file=sys.stderr)

    n_ok = sum(1 for v in results.values() if verdict(v) == "PASS")
    for name in sorted(results):
        print(f"{verdict(results[name]):4} {name}: {results[name]}")
    print(f"\n{n_ok}/{len(results)} pass")
    sys.exit(0 if n_ok == len(results) else 1)


if __name__ == "__main__":
    main()
