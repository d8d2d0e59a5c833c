#!/usr/bin/env python3
"""Derives perfbench/expected.json: the canonical row hash of each sql_mix
query's DuckDB oracle result, per fixture scale.

Usage (from the root of a checkout): python3 perfbench/make_expected.py

The oracle SQL comes from graft.SparkEntry.oracleSql (dumped by
perfbench.OracleDump); the tables are perfbench/data/<scale>. Cells are
canonicalized exactly as perfbench/src/perfbench/Canon.scala does on the
Spark side: the policy of tools/check_oracle.py, with floats rendered as
their IEEE-754 bits. Run it again only when a query, its oracle or the
fixtures change.
"""
import datetime
import hashlib
import json
import os
import struct
import subprocess
import sys
import tempfile
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SCALES = ["sf0.01", "sf0.001"]


def cell(v):
    if v is None:
        return "\0N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == 0.0:
            return "0.0"
        return struct.pack(">d", v).hex()
    if isinstance(v, Decimal):
        return format(v, "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def row_hash(tbl):
    cols = sorted(tbl.schema.names)
    data = {c: tbl.column(c).to_pylist() for c in cols}
    h = hashlib.sha256((";".join(cols) + "\n").encode())
    for i in range(tbl.num_rows):
        h.update(("\x01".join(cell(data[c][i]) for c in cols) + "\n").encode())
    return tbl.num_rows, h.hexdigest()


def connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    ts_type = {r[0]: r[1] for r in con.execute("DESCRIBE events").fetchall()}
    if ts_type.get("ts") == "BIGINT":
        con.execute("CREATE OR REPLACE VIEW events AS SELECT * REPLACE "
                    f"(make_timestamp(ts // 1000) AS ts) FROM '{sf_dir}/events.parquet'")
    return con


def main():
    root = os.getcwd()
    jar = build.build(root)
    with tempfile.TemporaryDirectory(dir=os.path.join(root, ".bench_build")) as tmp:
        out = os.path.join(tmp, "oracle.json")
        cp = jar + os.pathsep + os.path.join(build.spark_jars(), "*")
        subprocess.run(["java", "-cp", cp, "perfbench.OracleDump", out], check=True)
        oracle = json.load(open(out))
    expected = {}
    for scale in SCALES:
        con = connect(os.path.join(build.BENCH_DIR, "data", scale))
        expected[scale] = {}
        for name, sql in sorted(oracle.items()):
            if sql is None:
                raise SystemExit(f"{name} has no oracle SQL")
            n, h = row_hash(con.execute(sql).arrow())
            expected[scale][name] = {"rows": n, "sha256": h}
            print(f"{scale} {name}: {n} rows {h[:12]}")
    with open(os.path.join(build.BENCH_DIR, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
