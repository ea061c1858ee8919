"""Re-run the FULL driver-contract oracle parity sweep at a chosen SF
(default sf0.1 = 10x the external driver's sf0.01 gate) and write the
summary artifact CORRECTNESS_SCALE.json (r6 produced it ad hoc; this
pins the recipe).

Usage: python scripts/correctness_scale.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out = sys.argv[2] if len(sys.argv) > 2 else "CORRECTNESS_SCALE.json"
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("correctness-scale")
        # the default 1g driver heap OOMed mid-sweep at 241 entries
        # (r12): persisted intermediates accumulate across entries and
        # the driver IS the executor in local mode — size it like the
        # real bench harness does
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as m
    from tests.parity import compare, duck_connection

    con = duck_connection(sf_dir)
    oracles = m.oracle_sql()
    n_pass = n_fail = 0
    rows_only: list[str] = []
    failures: dict[str, str] = {}
    for name, fn in m.queries().items():
        try:
            # entries legitimately persist shared subtrees and rely on
            # the harness clearing between entries (EXECUTION PROTOCOL)
            spark.catalog.clearCache()
            df = fn(spark, sf_dir)
            if name in oracles:
                ok, msg = compare(df, con, oracles[name])
                if ok:
                    n_pass += 1
                else:
                    n_fail += 1
                    failures[name] = msg[:300]
                print(f"{'PASS' if ok else 'FAIL'} {name}: {msg[:120]}", flush=True)
            else:
                df.count()
                rows_only.append(name)
                print(f"ROWS-ONLY {name}", flush=True)
        except Exception as e:  # keep sweeping; record the wreck
            n_fail += 1
            failures[name] = f"exception: {e}"[:300]
            print(f"FAIL {name}: exception {e}", flush=True)
    spark.stop()

    sha = subprocess.run(
        ["git", "rev-parse", "HEAD"], capture_output=True, text=True
    ).stdout.strip()
    artifact = {
        "sf_dir": sf_dir,
        "note": (
            "full driver-contract oracle parity re-run at 10x the driver's "
            "sf0.01 gate: every queries() entry vs its DuckDB oracle_sql(), "
            "value-hash compare (tests/parity.compare)"
        ),
        "n_pass": n_pass,
        "n_rows_only": len(rows_only),
        "n_fail": n_fail,
        "rows_only": sorted(rows_only),
        "failures": failures,
        "git_sha": sha,
        "wall_clock_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps({k: artifact[k] for k in ("n_pass", "n_rows_only", "n_fail")}))
    return 0 if n_fail == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
