"""Spill-lever A/B (SCALE.md r13): which knob removes the sf30 spill?

Runs one entry cold at one tier under three configs and prints the
saturation counters for each:
  leg 1: shuffle.partitions=32,  default.parallelism unset (=cores)
  leg 2: shuffle.partitions=128, default.parallelism unset
  leg 3: shuffle.partitions=32,  default.parallelism=128

Measured result (semdedup_auto, .scaledata/sf30, 8 g, local[32]):
legs 1/2 spill byte-identically (17,450 MB mem / ~1,060 MB disk) —
the docs/embedding pipelines bound task counts with
`repartition(defaultParallelism)`, so shuffle width is not the lever —
while leg 3 drops spill to 862 MB / 12 MB (20x/90x). On a cluster
defaultParallelism = total executor cores, so the spill onset
disappears as executors are added.

Usage: python scripts/spill_ab.py [entry] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

LEGS = [
    {"spark.sql.shuffle.partitions": "32"},
    {"spark.sql.shuffle.partitions": "128"},
    {"spark.sql.shuffle.partitions": "32", "spark.default.parallelism": "128"},
]


def main() -> int:
    entry = sys.argv[1] if len(sys.argv) > 1 else "semdedup_auto"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else ".scaledata/sf30"
    import saturation_counters as SC

    for i, confs in enumerate(LEGS, 1):
        b = (
            SparkSession.builder.master("local[32]")
            .appName(f"spill-ab-leg{i}")
            .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
            .config("spark.ui.enabled", "false")
        )
        for k, v in confs.items():
            b = b.config(k, v)
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        import __spark_entry__ as m

        rec = SC.run_entry(spark, m.queries()[entry], sf_dir)
        rec["confs"] = confs
        rec["default_parallelism"] = spark.sparkContext.defaultParallelism
        print(f"leg{i}", json.dumps(rec), flush=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
