#!/usr/bin/env python3
"""Pins the expected result of every catalog query the benchmark runs.

    python3 perfbench/pin_digests.py

Run from the root of the source tree. Builds the engine like run.py, runs
each query of perfbench/queries.tsv once over perfbench/data/sf0.01 and
writes its result to parquet together with the engine-side result hash
that run.py checks on every execution (ResultHash in src/Main.scala). The
engine's result is then compared, through DuckDB, with a DuckDB run of the
query's oracle SQL (SparkEntry.oracleSql): same column names and types,
same rows, values normalised as tools/selfcheck.py does. Only when every
query agrees is perfbench/expected_digests.json rewritten. Re-pin only when
the tables or a query's defined result change.
"""
import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# Value normalisation of tools/selfcheck.py (the DuckDB-oracle compare):
# rows and column names sorted, exact values, signed zero visible.
def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def digest(rel):
    """Order-insensitive digest of a DuckDB relation: sorted column names,
    their types, and the sorted normalised rows."""
    cols = list(rel.columns)
    types = [str(t) for t in rel.types]
    rows = rel.fetchall()
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(tuple(norm(r[i]) for i in idx) for r in rows)
    blob = json.dumps([[cols[i] for i in idx], [types[i] for i in idx], body])
    return hashlib.sha256(blob.encode()).hexdigest(), len(rows)


def harness(classpath, *args):
    work = os.path.join(run.BUILD, "pin")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    subprocess.run(run.java_cmd(classpath, work, "2g") + list(args), check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    return work


def main():
    classpath, _ = run.build(run.spark_jars())
    tsv = os.path.join(run.BENCH_DIR, "queries.tsv")
    data = os.path.join(run.BENCH_DIR, "data", "sf0.01")
    work = harness(classpath, "--catalog-info", tsv, os.path.join(run.BUILD, "pin", "info.json"))
    with open(os.path.join(work, "info.json")) as fh:
        info = json.load(fh)
    out = os.path.join(work, "results")
    harness(classpath, "--pin", tsv, data, out)
    with open(os.path.join(out, "engine_hashes.json")) as fh:
        engine = json.load(fh)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    digests, bad = {}, []
    for q, v in sorted(info.items()):
        oracle, rows = digest(con.sql(v["oracle_sql"]))
        got, got_rows = digest(con.sql(f"SELECT * FROM '{out}/{q}/*.parquet'"))
        ok = got == oracle and got_rows == rows
        print(f"{'OK  ' if ok else 'FAIL'} {q}: {rows} rows")
        if not ok:
            bad.append(q)
        digests[q] = {"rows": rows, "oracle_sha256": oracle, "engine_hash": engine[q]}
    if bad:
        raise SystemExit(f"engine results differ from the oracle: {bad}; nothing pinned")
    doc = {
        "source": f"DuckDB {duckdb.__version__} run of SparkEntry.oracleSql over "
                  "perfbench/data/sf0.01, matched by the engine's own result",
        "oracle_sha256": "sha256 of sorted column names, their DuckDB types and the "
                         "sorted rows, values normalised as tools/selfcheck.py does",
        "engine_hash": "rows:hi:lo|schema of ResultHash (src/Main.scala), checked by "
                       "run.py on every execution",
        "digests": digests,
    }
    with open(os.path.join(run.BENCH_DIR, "expected_digests.json"), "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
