"""Single-JVM-saturation COUNTERS for the sf10 saturation cluster
(VERDICT r10 #6 / r11 "Next" #8): SCALE.md root-caused the residual
sf3->sf10 super-linearity of `exact_dup_groups`, `simhash`,
`minhash_signatures`, `tfidf_top_terms` as single-JVM memory-pressure
onset (plans identical across tiers) — this script replaces that
inference with measured counters.

Per entry and tier it runs the query once (cold) and records, via
`perfbench.probe.StageMeter` (the in-process status store — no UI, no
HTTP), over the stages the run created:
  - disk shuffle-spill bytes
  - task GC time (in local mode the executors ARE the driver JVM, so
    this is the JVM's collection time under the query)
  - executor run time
  - shuffle write bytes

Merges a "saturation_counters" block into BENCH_SCALE_SF10.json.

Usage: python scripts/saturation_counters.py [small_dir] [big_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from perfbench.probe import StageMeter

ENTRIES = [
    n
    for n in os.environ.get(
        "SPARK_GRAFT_SAT_ENTRIES",
        "exact_dup_groups,simhash,minhash_signatures,tfidf_top_terms",
    ).split(",")
    if n
]


def run_entry(spark, fn, sf_dir) -> dict:
    spark.catalog.clearCache()
    meter = StageMeter(spark)
    start = meter.mark()
    t0 = time.perf_counter()
    n = fn(spark, sf_dir).count()
    wall = time.perf_counter() - t0
    c = meter.delta(start, meter.mark())
    return {
        "wall_sec": round(wall, 3),
        "rows": n,
        "disk_spill_mb": round(c["spill_mb"], 1),
        "gc_sec": round(c["gc_s"], 2),
        "executor_run_sec": round(c["task_s"], 1),
        "shuffle_write_mb": round(c["shuffle_mb"], 1),
    }


def main() -> int:
    small = sys.argv[1] if len(sys.argv) > 1 else ".scaledata/sf3"
    big = sys.argv[2] if len(sys.argv) > 2 else ".scaledata/sf10"
    from milan_telecom_etl__spark.session import (
        DP_LAW_VERSION,
        derived_dp_for_dir,
    )

    # tier-derived spill lever (VERDICT r13 #6; law v2 uncompressed
    # bytes since r15) — overridable so the fixed-dp legacy
    # measurements stay reproducible
    dp = int(
        os.environ.get("SPARK_GRAFT_DP", "0")
    ) or derived_dp_for_dir(big, 32)
    # width of SQL shuffles (the band self-join / distinct / hash-agg
    # side) — a separate lever from dp, overridable for per-lever
    # attribution. DEFAULT follows the tier law like scale_bench.py
    # (both levers a cluster moves by construction); legacy blocks that
    # ran at the old fixed-32 default record their widths in-block.
    sp = int(os.environ.get("SPARK_GRAFT_SP", "0")) or dp
    spark = (
        SparkSession.builder.master("local[32]")
        .appName("saturation-counters")
        .config("spark.default.parallelism", str(dp))
        .config("spark.sql.shuffle.partitions", str(sp))
        # AQE's own width lever: start every shuffle wide and let the
        # runtime coalesce to advisory size — the Spark-native form of
        # the sp lever. Always set; the default mirrors the SP knob (or
        # its 32 fallback, == the unset-default behavior), so legacy
        # blocks stay reproducible while SPARK_GRAFT_IPN can move it
        # independently for attribution (ADVICE r14: the old comment
        # claimed env-gating the .config, which it never did).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_IPN", str(sp)),
        )
        # match the bench harness's heap (session.get_spark default 8g)
        # so the counters describe the SAME memory envelope the sweep
        # numbers came from — the default 1g OOMs tfidf at sf10 anyway
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as m

    qs = m.queries()
    out: dict[str, dict] = {}
    for name in ENTRIES:
        out[name] = {
            "small": run_entry(spark, qs[name], small),
            "big": run_entry(spark, qs[name], big),
        }
        print(name, json.dumps(out[name]), flush=True)
    spark.stop()

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        os.environ.get("SPARK_GRAFT_SAT_OUT", "BENCH_SCALE_SF10.json"),
    )
    blob = json.load(open(path)) if os.path.exists(path) else {}
    # SPARK_GRAFT_SAT_BLOCK names the merge key so a re-sweep under a
    # different config (e.g. the derived-dp legs) lands BESIDE the
    # legacy counters instead of clobbering them (the r13
    # BENCH_SCALE_SF30 restore incident)
    block = os.environ.get("SPARK_GRAFT_SAT_BLOCK", "saturation_counters")
    blob[block] = {
        "entries": out,
        "small_dir": small,
        "big_dir": big,
        "default_parallelism": dp,
        "shuffle_partitions": sp,
        "dp_law_version": DP_LAW_VERSION,
        "method": "status-store stage sums (StageMeter, new stages per run); "
        "cold single run per tier, local[32]",
    }
    json.dump(blob, open(path, "w"), indent=1, sort_keys=True)
    print("merged into", path)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
