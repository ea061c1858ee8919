"""Dump `.explain("formatted")` for registry entries to plans/<round>/.

Usage: python scripts/dump_plans.py <suffix> [entry ...]
Round dir from $SPARK_GRAFT_PLANS_ROUND (default r16).
Writes plans/<round>/<entry>_<suffix>.txt for each named entry (default:
every entry named on the command line; no default sweep — formatted
explain on 254 entries is slow and the optimization round only needs
the audited ones).

The plan is captured on the DataFrame the registry entry RETURNS, at
$SPARK_GRAFT_SF_DIR (default sf0.1) — the same frame the bench times —
so the committed before/after files are checkable against the code.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from milan_telecom_etl__spark.session import get_spark


def main() -> int:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(
        repo, "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r16")
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as m

    qs = m.queries()
    rc = 0
    for name in names:
        if name not in qs:
            print(f"SKIP {name}: not in registry", file=sys.stderr)
            rc = 1
            continue
        try:
            spark.catalog.clearCache()
            df = qs[name](spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {e}", file=sys.stderr)
            rc = 1
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
