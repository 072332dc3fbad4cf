#!/usr/bin/env python3
"""Record ``expected.json``: the order-insensitive output hash of every
benchmark query on the benchmark's input tables (``perfbench/data``).

    python3 perfbench/record_expected.py

Run from the repository root.  A registered query's expected hash comes
from its DuckDB ``oracle_sql()`` twin, and the Spark result must match
it before it is written.  A blocked-path fold query's expected hash is
the hash of its broadcast-path twin, and the blocked result must match
that too.  Exits non-zero, writing nothing, on any disagreement.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    repo = os.getcwd()
    sys.path[:0] = [HERE, repo, os.path.join(repo, "tools")]
    from run import prepare_env
    from workloads import SF_DIR, TABLES, WORKLOADS, _blocked_builders

    root = prepare_env(repo)
    try:
        import duckdb
        from driver_check import table_hash

        import __spark_entry__
        from gemmsql import get_spark

        sf_dir = SF_DIR
        os.environ["GEMMSQL_ORACLE_SF_DIR"] = sf_dir
        spark = get_spark("perfbench-record")
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        oracles = __spark_entry__.oracle_sql()
        twins = _blocked_builders(True)
        expected, bad = {}, []
        for wname, w in WORKLOADS.items():
            expected[wname] = {}
            for qname, build in w.queries().items():
                got = table_hash(build(spark, sf_dir).toPandas())
                if qname in oracles:
                    want = table_hash(con.execute(oracles[qname]).df())
                else:
                    want = table_hash(twins[qname](spark, sf_dir).toPandas())
                status = "OK  " if got == want else "FAIL"
                print(f"{status} {wname}/{qname}", flush=True)
                if got != want:
                    bad.append(qname)
                expected[wname][qname] = want
        spark.stop()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if bad:
        print(f"mismatches, expected.json not written: {bad}")
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
