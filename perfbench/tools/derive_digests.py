#!/usr/bin/env python3
"""Derive the expected gate digests from each gate's DuckDB oracle SQL.

Usage (from the repository root; it builds the program and generates the
tables under .bench_build/ first when they are not there):
  python3 perfbench/tools/derive_digests.py > perfbench/expected/digests.tsv

It asks the benchmark for the oracle SQL of every benchmarked gate
(`perfbench.Main oracles`), runs it in DuckDB over the generated tables of
the gate's scale factor, and prints one `<sf>/<gate>\t<digest>` line per
gate. The digest is the same function as perfbench/src/.../Digest.scala:
columns in name order, each row encoded as text and hashed with MD5, the
first 8 bytes of the row hashes summed modulo 2^64. Needs the duckdb Python
package; the benchmark itself does not.
"""
import datetime
import decimal
import hashlib
import json
import math
import struct
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import run  # noqa: E402  (the benchmark command: build and java launcher)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TWO53 = 2.0 ** 53
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def num(d):
    if math.isnan(d):
        return "FNaN"
    if d == 0.0:
        return "I0"
    if d == math.floor(d) and abs(d) < TWO53:
        return f"I{int(d)}"
    return "F%016x" % struct.unpack(">Q", struct.pack(">d", d))[0]


def encode(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, str):
        return f"S{len(v.encode('utf-16-le')) // 2}:{v}"
    if isinstance(v, int):
        return f"I{v}" if abs(float(v)) < TWO53 else num(float(v))
    if isinstance(v, (float, decimal.Decimal)):
        return num(float(v))
    if isinstance(v, datetime.datetime):
        base = EPOCH_TZ if v.tzinfo is not None else EPOCH
        return f"T{(v - base) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return f"D{(v - datetime.date(1970, 1, 1)).days}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(encode(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(encode(x) for x in v.values()) + "}"
    if isinstance(v, (bytes, bytearray)):
        return "X" + v.hex()
    raise TypeError(f"no digest encoding for {type(v)}")


def row_hash(encoded):
    return struct.unpack(">q", hashlib.md5(encoded.encode("utf-8")).digest()[:8])[0]


def digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        total = (total + row_hash("|".join(encode(r[i]) for i in order))) % (1 << 64)
    return f"cols={','.join(columns[i] for i in order)};rows={len(rows)};sum={total:016x}"


def main():
    cp = run.build()
    data = run.ensure_data(cp)
    with tempfile.TemporaryDirectory(dir=run.BUILD) as tmp:
        out = Path(tmp) / "oracles.json"
        code, _ = run.java(cp, ["oracles", str(out)], run.GEN_TIMEOUT_S)
        if code != 0:
            run.fail("could not list the oracle SQL")
        oracles = json.loads(out.read_text())
    print("# <sf>/<gate>\\t<digest of the DuckDB oracle result>; "
          "written by perfbench/tools/derive_digests.py")
    for o in oracles:
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        sf_dir = data / f"sf{o['sf']}"
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'")
        res = con.execute(o["sql"])
        columns = [d[0] for d in res.description]
        print(f"{o['key']}\t{digest(columns, res.fetchall())}")
        con.close()


if __name__ == "__main__":
    main()
