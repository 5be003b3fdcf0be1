#!/usr/bin/env python3
"""Pins sql_mix's results from the DuckDB oracle.

    python3 perfbench/pin_sql.py

Run from the root of a graft checkout. Takes the oracle SQL of every key in
the sql_mix sample from graft's SparkEntry.oracleSql (through the
benchmark program), runs it with DuckDB over the benchmark's base tables,
and writes each key's row count and order-insensitive hash into the
"sql_mix" section of pins.json. The hash is the one SqlMix.hash computes
on Spark's result: the wrapping sum over the rows of the first 8 bytes of
each row's SHA-256, over the values in canonical text, columns in name
order.
"""
import datetime
import decimal
import hashlib
import json
import os
import subprocess
import sys
import tempfile

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

EPOCH = datetime.datetime(1970, 1, 1)


def plain(d):
    if d == 0:
        return "0"
    return format(d.normalize(), "f")


def canon(v):
    """SqlMix.canon, value for value."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return plain(v)
    if isinstance(v, float):
        with decimal.localcontext() as c:
            c.prec, c.rounding = 9, decimal.ROUND_HALF_UP
            return plain(+decimal.Decimal(v))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, str):
        return v
    raise TypeError(f"no canonical form for {type(v).__name__}")


def result_hash(columns, rows):
    by_name = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        line = "\u0001".join(canon(r[i]) for i in by_name)
        total += int.from_bytes(hashlib.sha256(line.encode()).digest()[:8], "big", signed=True)
    total %= 1 << 64
    return total - (1 << 64) if total >= 1 << 63 else total


def main():
    root = os.getcwd()
    cp = build.classpath(root)
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", os.pathsep.join(cp), "graftbench.SqlMix", out], check=True)
        oracle = json.load(open(out))
    missing = sorted(k for k, sql in oracle.items() if sql is None)
    if missing:
        sys.exit(f"pin_sql: no oracle SQL for {', '.join(missing)}")
    con = duckdb.connect()
    data = os.path.join(root, run.DATA)
    for f in sorted(os.listdir(data)):
        con.sql(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{data}/{f}'")
    pins = {}
    for k in sorted(oracle):
        rel = con.sql(oracle[k])
        rows = rel.fetchall()
        pins[f"{k}.rows"] = len(rows)
        pins[f"{k}.hash"] = result_hash(rel.columns, rows)
    path = os.path.join(root, run.PINS)
    allpins = json.load(open(path))
    allpins["sql_mix"] = pins
    with open(path, "w") as f:
        json.dump(allpins, f, indent=1)
        f.write("\n")
    print(f"pinned {len(oracle)} keys into {run.PINS}")


if __name__ == "__main__":
    main()
