"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and compare against oracle_sql() via DuckDB (row count +
schema width + order-insensitive value hash).

Usage: python tools/check_correctness.py [--json OUT.json] [query ...]

The tables come from $SPARK_GRAFT_SF_DIR (default sf0.01), and Spark
runs on local[$SPARK_GRAFT_CPUS] (default 8), as in bench.py:
  SPARK_GRAFT_SF_DIR=<testdata>/sf0.001 python tools/check_correctness.py

--json writes a driver-format record per query (rows/schema/hash
match + row counts + err; rows-only queries get mode="rows_only"), so
each round can commit the local gate log (CORRECTNESS_local_rNN.json)
covering the queries the driver's frozen list does not run.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif str(pdf[c].dtype).startswith("float"):
            pdf[c] = pdf[c].round(6)
    rows = sorted(tuple(map(str, r)) for r in pdf.itertuples(index=False, name=None))
    return hashlib.md5(str(rows).encode()).hexdigest()


def main(only: list[str]) -> int:
    import json

    json_out = None
    if only and only[0] == "--json":
        json_out = only[1]
        only = only[2:]
    import __spark_entry__ as entrymod
    from hex2vec_spark.plans.session import get_spark

    spark = get_spark(
        "correctness", master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    record: dict = {}
    try:
        for name, fn in qs.items():
            if only and name not in only:
                continue
            t0 = time.time()
            try:
                sdf = fn(spark, SF_DIR)
                spdf = sdf.toPandas()
            except Exception as e:  # noqa: BLE001
                print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
                record[name] = {"err": f"{type(e).__name__}: {e}"[:300]}
                failures += 1
                continue
            el = time.time() - t0
            if name not in oracles:
                print(f"ok-   {name}: rows-only {len(spdf)} rows ({el:.1f}s)")
                record[name] = {"mode": "rows_only", "spark_rows": len(spdf),
                                "err": None if len(spdf) else "zero rows"}
                if len(spdf) == 0:
                    print(f"WARN  {name}: zero rows")
                continue
            try:
                opdf = con.sql(oracles[name]).df()
            except Exception as e:  # noqa: BLE001 — a broken oracle is one failure, not an abort
                print(f"FAIL  {name}: oracle error {type(e).__name__}: {e}")
                record[name] = {"err": f"oracle {type(e).__name__}: {e}"[:300]}
                failures += 1
                continue
            n_ok = len(spdf) == len(opdf)
            cols_ok = sorted(spdf.columns) == sorted(opdf.columns)
            h_ok = cols_ok and value_hash(spdf) == value_hash(opdf)
            record[name] = {"rows_match": n_ok, "schema_match": cols_ok,
                            "hash_match": h_ok, "spark_rows": len(spdf),
                            "oracle_rows": len(opdf), "err": None}
            if n_ok and cols_ok and h_ok:
                print(f"OK    {name}: {len(spdf)} rows ({el:.1f}s)")
            else:
                failures += 1
                print(
                    f"FAIL  {name}: rows {len(spdf)} vs {len(opdf)}, cols_ok={cols_ok}, hash_ok={h_ok}"
                )
                if cols_ok and len(spdf) and len(opdf):
                    s = spdf[sorted(spdf.columns)].sort_values(sorted(spdf.columns)).head(3)
                    o = opdf[sorted(opdf.columns)].sort_values(sorted(opdf.columns)).head(3)
                    print("  spark:", s.to_dict("records"))
                    print("  duck :", o.to_dict("records"))
    finally:
        spark.stop()
    if json_out:
        with open(json_out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        print("wrote", json_out)
    print("failures:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
