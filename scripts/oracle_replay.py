#!/usr/bin/env python3
"""Replay the DuckDB oracles against a `graft.Verify` output directory.

`graft.Verify DATA_DIR OUT_DIR` writes one parquet directory per query
plus `oracle_sql.json` (query name -> DuckDB SQL). This script registers
every `DATA_DIR/*.parquet` file as a DuckDB view named after the file,
runs each oracle query, and compares it with the Spark output:

- `schema_match`: the same column names (order and case ignored);
- `rows_match`: the same row count;
- `hash_match`: the same SHA-256 over the rows, after ordering columns
  by name, normalising values (integral floats and decimals become
  ints, other numbers their float repr, bytes hex) and sorting rows.

It prints one JSON object, query name -> {rows_match, schema_match,
hash_match, spark_rows, oracle_rows, err}; stderr gets one progress
line per query and a summary line.
The exit status is 1 when any compared query does not match.

Run it once per scale factor, for example:

    sbt "runMain graft.Verify /data/sf0.01 /tmp/vout-sf0.01"
    python3 scripts/oracle_replay.py /data/sf0.01 /tmp/vout-sf0.01

`SPARK_GRAFT_ONLY=q_a,q_b` limits what `graft.Verify` writes; `--only`
limits what this script compares (by default, every query that has
both an oracle and a Spark output directory).
"""

import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import sys
import time

import duckdb
import pyarrow.parquet as pq


def norm(v):
    """A value in a form that compares equal across Spark and DuckDB."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if math.isfinite(f) and f == int(f) and (
                isinstance(v, decimal.Decimal) or abs(f) < 2 ** 53):
            return int(v)
        return repr(f)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, (datetime.date, datetime.datetime, datetime.time)):
        return v.isoformat()
    return repr(v)


def digest(rows):
    """(row count, sha256) of a list of row dicts."""
    cols = sorted(rows[0].keys(), key=str.lower) if rows else []
    lines = sorted(repr(tuple(norm(r[c]) for c in cols)) for r in rows)
    return len(rows), hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


def failed(err):
    return {"rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": err}


def compare(con, sql, spark_dir):
    spark_tbl = pq.read_table(spark_dir)
    spark_cols = sorted(n.lower() for n in spark_tbl.schema.names)
    oracle_tbl = con.execute(sql).arrow()
    oracle_cols = sorted(n.lower() for n in oracle_tbl.schema.names)
    n_spark, h_spark = digest(spark_tbl.to_pylist())
    n_oracle, h_oracle = digest(oracle_tbl.to_pylist())
    return {
        "rows_match": n_spark == n_oracle,
        "schema_match": spark_cols == oracle_cols,
        "hash_match": spark_cols == oracle_cols and h_spark == h_oracle,
        "spark_rows": n_spark,
        "oracle_rows": n_oracle,
        "err": None,
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("data_dir", help="scale-factor directory of *.parquet inputs")
    ap.add_argument("verify_out", help="graft.Verify output directory")
    ap.add_argument("--only", default="", help="comma-separated query names")
    args = ap.parse_args()

    with open(os.path.join(args.verify_out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    only = {q.strip() for q in args.only.split(",") if q.strip()}
    con = duckdb.connect()
    for name in sorted(os.listdir(args.data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(args.data_dir, name).replace("'", "''")
            con.execute(f"CREATE VIEW {name[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{path}')")

    report = {}
    for q in sorted(oracle):
        spark_dir = os.path.join(args.verify_out, q)
        if only and q not in only:
            continue
        if not os.path.isdir(spark_dir):
            if only:
                report[q] = failed("no Spark output")
            continue
        t0 = time.time()
        try:
            report[q] = compare(con, oracle[q], spark_dir)
        except Exception as e:  # one failing query must not stop the replay
            report[q] = failed(f"{type(e).__name__}: {e}")
        print(f"{q}: hash_match={report[q]['hash_match']} "
              f"{time.time() - t0:.1f} s", file=sys.stderr)
    json.dump(report, sys.stdout, indent=2, sort_keys=True)
    print()
    ok = sum(r["hash_match"] and r["rows_match"] and r["schema_match"]
             for r in report.values())
    print(f"oracle replay: {ok}/{len(report)} hash-exact", file=sys.stderr)
    sys.exit(0 if ok == len(report) else 1)


if __name__ == "__main__":
    main()
