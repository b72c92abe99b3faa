"""Output check of the `catalog` workload against the DuckDB oracle twins.

The catalog slice reads the engine's reference test tables at scale 0.01
(documents, events and lineitem), kept as they are under `data/sf0.01`.
Each query's result is compared with its twin (`SparkEntry.oracleSql`) run
by DuckDB over the same files. The twins of q58 and q43 take minutes, so
those two are compared with digests of their twins' results, derived once
into oracle_digests.json. After a change to either twin, derive them again
from a finished catalog run (which writes oracle.json):

    python3 perfbench/catalog_oracle.py derive .bench_build/perfbench/catalog/oracle.json
"""
import hashlib
import json
import math
import os

import duckdb
import pandas as pd

BENCH = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(BENCH, "data", "sf0.01")
DIGESTS = os.path.join(BENCH, "oracle_digests.json")
DIGEST_QUERIES = ("q43_minhash_lsh", "q58_dup_clusters")


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "M":
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def _digest(df):
    df = _canon(df)
    rows = list(zip(*[df[c].tolist() for c in df.columns]))
    payload = json.dumps([list(df.columns), [str(t) for t in df.dtypes], rows], default=repr)
    return hashlib.sha256(payload.encode()).hexdigest()


def _connect(data_dir):
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    return con


def _same(a, b):
    if isinstance(a, float) and math.isnan(a):
        a = None
    if isinstance(b, float) and math.isnan(b):
        b = None
    return a == b


def check(out_dir, oracle_path):
    """Compares each query's written result with its DuckDB oracle twin:
    columns sorted by name, rows by value, dtypes and values exact (for
    DIGEST_QUERIES, with the twin's stored digest). Returns {query: error}
    for the queries that differ."""
    con = _connect(DATA)
    with open(oracle_path) as fh:
        oracles = json.load(fh)
    with open(DIGESTS) as fh:
        digests = json.load(fh)
    errors = {}
    for name, sql in sorted(oracles.items()):
        path = os.path.join(out_dir, name)
        if not os.path.isdir(path):
            errors[name] = "no output written"
            continue
        if name in DIGEST_QUERIES:
            got = _digest(pd.read_parquet(path))
            want = digests.get(name, "none")
            if got != want:
                errors[name] = f"digest {got[:12]} != oracle digest {want[:12]}"
            continue
        try:
            s = _canon(pd.read_parquet(path))
            o = _canon(con.sql(sql).df())
        except Exception as e:  # noqa: BLE001 - any oracle failure fails the query
            errors[name] = f"oracle error: {str(e).splitlines()[0][:160]}"
            continue
        if list(s.columns) != list(o.columns):
            errors[name] = f"columns {list(s.columns)} != {list(o.columns)}"
        elif len(s) != len(o):
            errors[name] = f"rows {len(s)} != {len(o)}"
        else:
            for c in s.columns:
                if str(s[c].dtype) != str(o[c].dtype):
                    errors[name] = f"dtype of {c}: {s[c].dtype} != {o[c].dtype}"
                    break
                bad = next((i for i, (x, y) in enumerate(zip(s[c].tolist(), o[c].tolist()))
                            if not _same(x, y)), None)
                if bad is not None:
                    errors[name] = f"{c}[{bad}]: {s[c][bad]!r} != {o[c][bad]!r}"
                    break
    return errors


def derive(oracle_path):
    """Writes oracle_digests.json from the DuckDB twins of DIGEST_QUERIES
    (their SQL read from a finished catalog run's oracle.json)."""
    con = _connect(DATA)
    with open(oracle_path) as fh:
        oracles = json.load(fh)
    digests = {q: _digest(con.sql(oracles[q]).df()) for q in DIGEST_QUERIES}
    with open(DIGESTS, "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    import sys
    if len(sys.argv) != 3 or sys.argv[1] != "derive":
        sys.exit("usage: catalog_oracle.py derive <oracle.json of a catalog run>")
    derive(sys.argv[2])
