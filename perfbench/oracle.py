#!/usr/bin/env python3
"""Record the DuckDB oracle's result hashes that the benchmark checks
graft's query results against.

    python3 perfbench/oracle.py

For every query workload in workloads.json: builds the harness, makes the
tables, has the harness write `SparkEntry.oracleSql` and graft's own
result hash for each query, runs each oracle query in DuckDB over the same
parquet tables and writes the oracle's hashes to the workload's
`expected` file. Rows are hashed exactly as `graftbench.Canon` hashes
Spark rows, following tools/compare_oracle.py's normalization with
doubles compared by their exact bits. A query whose Spark hash differs
from the oracle's is listed and makes the script exit 1. Run it again
only when the tables, a query list or an oracle changes.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import struct
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def sha256(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def cell(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        return "fNaN" if math.isnan(v) else "f%d" % struct.unpack("<q", struct.pack("<d", v))[0]
    if isinstance(v, decimal.Decimal):
        return "d" + format_decimal(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        d = v - EPOCH
        return f"t{(d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds}"
    if isinstance(v, datetime.date):
        return "D" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(cell(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return "?" + str(v)


def format_decimal(v):
    # java.math.BigDecimal.stripTrailingZeros().toString()
    v = v.normalize()
    sign, digits, exp = v.as_tuple()
    unscaled = ("-" if sign else "") + "".join(map(str, digits))
    scale = -exp
    if scale == 0:
        return unscaled
    adjusted = len(digits) - 1 - scale
    if scale > 0 and adjusted >= -6:
        s = "".join(map(str, digits)).rjust(scale + 1, "0")
        return ("-" if sign else "") + s[:-scale] + "." + s[-scale:]
    mant = str(digits[0]) + ("." + "".join(map(str, digits[1:])) if len(digits) > 1 else "")
    return ("-" if sign else "") + mant + "E" + ("+" if adjusted > 0 else "") + str(adjusted)


def result_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    digests = sorted(sha256("\u0001".join(cell(r[i]) for i in order)) for r in rows)
    return sha256(",".join(cols[i] for i in order) + "\n" + "\n".join(digests))


def connect(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def record(data_dir, oracle, spark, out_file):
    con = connect(data_dir)
    out, bad = {}, []
    for q in sorted(oracle):
        rel = con.sql(oracle[q])
        cols, rows = rel.columns, rel.fetchall()
        out[q] = {"hash": result_hash(cols, rows), "rows": len(rows)}
        ok = spark[q]["hash"] == out[q]["hash"]
        if not ok:
            bad.append(q)
        print(f"{'OK  ' if ok else 'DIFF'} {q} ({len(rows)} rows)", file=sys.stderr)
    with open(out_file, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return bad


def main():
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import run
    start = time.monotonic()
    cp, _ = run.build(start + run.BUILD_LIMIT_S)
    workloads = json.load(open(os.path.join(run.HERE, "workloads.json")))
    bad = []
    for name, w in workloads.items():
        if "queries" not in w:
            continue
        data, _ = run.tables(w["data"].removeprefix("sf"))
        work = os.path.join(run.WORK, "oracle")
        os.makedirs(work, exist_ok=True)
        files = {m: os.path.join(work, f"{name}-{m}.json") for m in ("oracle-sql", "hashes")}
        for mode, path in files.items():
            cmd = ["java", *run.JVM_OPTS, "-cp", cp, "graftbench.Main", mode, "--work", work,
                   "--data", data, "--out", path, *w["queries"]]
            with open(os.path.join(work, f"{mode}.log"), "w") as log:
                if run.run_bounded(cmd, log, time.monotonic() + 600) != 0:
                    run.fail(f"harness {mode} failed; see {work}/{mode}.log")
        bad += record(data, json.load(open(files["oracle-sql"])), json.load(open(files["hashes"])),
                      os.path.join(run.HERE, w["expected"]))
    if bad:
        print("spark differs from the oracle: " + " ".join(bad), file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
