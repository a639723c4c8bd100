#!/usr/bin/env python3
"""Record the reference fingerprints of the query_mix workload.

    python3 perfbench/record_query_mix.py

Runs each of the 29 query_mix registry keys once over the bundled
perfbench/data/sf0.01 tables, records its (rows, hash) fingerprint, and
compares its rows with the key's DuckDB oracle where the registry has
one, the same sorted-value comparison the repo's correctness check
makes. Writes perfbench/query_mix_expected.json. Run it only on a commit
whose registry is oracle-green: the benchmark treats these fingerprints
as the right answers.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    import __spark_entry__ as E
    from perfbench import box
    from perfbench.workloads import (QUERY_DATA, QUERY_EXPECTED, QUERY_KEYS,
                                     fingerprint)

    cpus, heap_mb = box.fit(1, 1024)
    shutil.rmtree(WORK, ignore_errors=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = box.start_session(cpus, heap_mb, WORK)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{QUERY_DATA}/{t}.parquet')")
    registry, oracles = E.queries(), E.oracle_sql()
    out = {}
    try:
        for key in QUERY_KEYS:
            df = registry[key](spark, QUERY_DATA)
            rows, h = fingerprint(df)
            oracle = "none"
            if key in oracles:
                rel = con.sql(oracles[key])
                ocols = [d[0] for d in rel.description]
                cols = sorted(df.columns)
                got = sorted(tuple(r[c] for c in cols) for r in df.collect())
                want = sorted(tuple(r[ocols.index(c)] for c in cols)
                              for r in rel.fetchall())
                oracle = "match" if got == want else "mismatch"
            out[key] = {"rows": rows, "hash": h, "oracle": oracle}
            print(key, out[key], flush=True)
    finally:
        box.stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                            capture_output=True, text=True).stdout.strip()
    with open(QUERY_EXPECTED, "w") as f:
        json.dump({"recorded_at_commit": commit, "local_cores": cpus,
                   "data": os.path.relpath(QUERY_DATA, ROOT),
                   "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    bad = [k for k, v in out.items() if v["oracle"] == "mismatch"]
    if bad:
        print("oracle mismatch:", bad, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
