#!/usr/bin/env python3
"""Pin the catalog workload's expected outputs from the DuckDB oracles.

Runs `SparkEntry.oracleSql` of each catalog query in DuckDB over the tables
in perfbench/data/sf0.01 and writes perfbench/oracle_pins.json: the row
count and an order-insensitive digest per query. The digest renders each
value exactly as `perfbench.Catalog.render` does on the Spark side.

Usage: python3 perfbench/pin_oracle.py     (needs the duckdb module)
"""
import datetime
import decimal
import hashlib
import json
import subprocess
import sys
from pathlib import Path

import duckdb

sys.dont_write_bytecode = True  # leave no __pycache__ in the benchmark dir
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
TABLES = ROOT / "perfbench" / "data" / "sf0.01"
CTX = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)


def render_double(x):
    if x != x:
        return "nan"
    if x in (float("inf"), float("-inf")):
        return "inf" if x > 0 else "-inf"
    if x == 0.0:
        return "0"
    return format(CTX.plus(decimal.Decimal(x)).normalize(CTX), "f")


def render(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return "'" + v + "'"
    if isinstance(v, float):
        return render_double(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        return "0" if v == 0 else format(v.normalize(decimal.Context(prec=60)), "f")
    if isinstance(v, datetime.datetime):
        raise ValueError("timestamps have no canonical form here")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(render(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    raise ValueError(f"no canonical form for {type(v).__name__}")


def sha256(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    hashes = sorted(
        sha256("\u0001".join(f"{columns[i]}={render(r[i])}" for i in order))
        for r in rows)
    return sha256("\n".join(hashes))


def main():
    classes = build.build(ROOT / ".bench_build")
    jars = build.spark_jars()
    sql = json.loads(subprocess.run(
        ["java", "-cp", f"{classes}:{jars}/*", "perfbench.Catalog"],
        check=True, capture_output=True, text=True).stdout.splitlines()[-1])
    con = duckdb.connect()
    for t in sorted(TABLES.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    pins = {}
    for q, s in sql.items():
        cur = con.execute(s)
        columns = [d[0] for d in cur.description]
        rows = cur.fetchall()
        pins[q] = {"rows": len(rows), "digest": digest(columns, rows)}
        print(f"{q}: {len(rows)} rows", file=sys.stderr)
    (ROOT / "perfbench" / "oracle_pins.json").write_text(
        json.dumps(pins, indent=1) + "\n")


if __name__ == "__main__":
    main()
