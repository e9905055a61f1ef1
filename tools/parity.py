#!/usr/bin/env python
"""Spot parity check for touched queries: run each named query against
its DuckDB oracle at sf0.01 (the driver's exact compare path).

Usage: python tools/parity.py q1 q2 ...
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xeloader_spark import queries as q
from xeloader_spark.operators.dedup import release_persisted
from xeloader_spark.session import get_spark
from xeloader_spark.testing import check_query

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_DIR", "/root/testdata/sf0.01")


def main() -> None:
    names = sys.argv[1:]
    spark = get_spark(app_name="parity")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.all_queries()
    oracles = q.all_oracles()
    bad = []
    for name in names:
        res = check_query(spark, SF_DIR, name, registry[name], oracles.get(name))
        release_persisted()
        flag = "OK " if res.ok else "FAIL"
        print(f"[parity] {flag} {name} spark={res.spark_rows} "
              f"oracle={res.oracle_rows} {res.detail}", flush=True)
        if not res.ok:
            bad.append(name)
            for m in res.mismatches[:5]:
                print(f"    {m}")
    spark.stop()
    if bad:
        print("FAILED:", bad)
        sys.exit(1)
    print(f"all {len(names)} green")


if __name__ == "__main__":
    main()
