#!/usr/bin/env python
"""Full-registry oracle parity sweep → PARITY_SWEEP.json (VERDICT r8 #4).

The driver rotation verifies ≤50 queries per round; the FULL registry
check previously lived only in pytest runs that leave no committed
artifact. This tool runs the exact `testing.check_query` compare path
(the same one `tests/test_oracle_parity.py` parametrizes) over every
registered query and writes a per-query ok/fail artifact, committed
each round like SHUFFLE_AUDIT.json — so the ledger can distinguish
"driver row is stale" from "unverified".

Usage: python tools/parity_sweep.py [sf_dir]   (default sf0.001 — the
pytest gate's scale; the driver's own rotation covers sf0.01.)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "PARITY_SWEEP.json")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entry
    from xeloader_spark.session import get_spark
    from xeloader_spark.testing import check_query

    queries, oracles = entry.queries(), entry.oracle_sql()
    spark = get_spark(app_name="parity-sweep", shuffle_partitions=8)
    t0 = time.time()
    results: dict[str, dict] = {}
    n_fail = 0
    for i, name in enumerate(sorted(queries)):
        t = time.time()
        try:
            r = check_query(spark, sf_dir, name, queries[name], oracles.get(name))
            results[name] = {
                "ok": bool(r.ok),
                "spark_rows": int(r.spark_rows),
                "oracle_rows": int(r.oracle_rows),
                "seconds": round(time.time() - t, 2),
                "detail": r.detail or None,
            }
        except Exception as ex:  # a crash is a failure, not a skip
            results[name] = {
                "ok": False,
                "spark_rows": -1,
                "oracle_rows": -1,
                "seconds": round(time.time() - t, 2),
                "detail": f"{type(ex).__name__}: {ex}"[:300],
            }
        if not results[name]["ok"]:
            n_fail += 1
            print(f"[{i + 1}/{len(queries)}] {name}: FAIL "
                  f"{results[name]['detail']}", flush=True)
    spark.stop()
    git_head = subprocess.run(
        ["git", "-C", REPO, "describe", "--always", "--dirty", "--abbrev=7"],
        capture_output=True, text=True,
    ).stdout.strip()
    artifact = {
        "sf_dir": sf_dir,
        "run_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "git_head": git_head,
        "total_seconds": round(time.time() - t0, 1),
        "summary": {
            "registered": len(queries),
            "checked": len(results),
            "ok": len(results) - n_fail,
            "fail": n_fail,
            "failures": sorted(
                n for n, r in results.items() if not r["ok"]
            ),
        },
        "queries": results,
    }
    with open(OUT, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=False)
        f.write("\n")
    print(f"PARITY_SWEEP.json: {len(results)} checked, {n_fail} fail, "
          f"{artifact['total_seconds']}s @ loadavg {artifact['loadavg_1m']}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
