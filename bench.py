"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect-to-count),
median of 3 repetitions (VERDICT r5 #3: min-of-2 was noise-prone)
taken AFTER $SPARK_GRAFT_BENCH_WARMUP untimed warmup reps (default 1
— steady-state protocol since r9: cold first reps sit on the
Janino/C2 warmup curve, which made medians drift with registry size
rather than code, VERDICT r8 #1); a warmup pass on the flagship
additionally amortizes JVM/session startup out of the numbers. Between queries the Spark block cache is cleared so one
entry's persisted intermediates (shingle/bigram tables) can't steal
executor memory from — and so flatter the reps of — unrelated queries
(VERDICT r5 #3 drift hypothesis). Sidecars are stamped with the git
sha + wall-clock so commit messages can't diverge from artifacts
(VERDICT r5 #8), and carry each entry's job/stage counters (tasks,
shuffle, spill, GC) read in-process by `perfbench.probe.StageMeter`.
The walls are a report: the suite gates on plan work
(tests/test_plan_lint.py), not on a committed timing.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

from milan_telecom_etl__spark.session import get_spark
from perfbench.probe import StageMeter

REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
WARMUP = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1"))


def _git_sha(repo: str) -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=repo,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
    except Exception:
        return "unknown"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # StageMeter reads each entry's stages back from the status store,
    # whose cleanup evicts skipped stages first once it holds
    # retainedStages (default 1000): hold a whole sweep so no entry
    # loses a stage between its marks
    spark = get_spark(
        app_name="bench", extra_conf={"spark.ui.retainedStages": "100000"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # Sweep in stable REGISTRATION order, not gate order (VERDICT r13
    # #3): entrymod.queries() is gate-ordered for the driver's ~50-entry
    # correctness cap, which re-shuffles every round — r13's
    # oldest-gate-first head put a block of small entries at sweep
    # position 1-19 where they absorbed the early-sweep JIT ramp plus
    # post-correctness contention (4-15x spikes, refuted in isolation).
    # Registration order is fixed by module import order, so each
    # entry's sweep position — and therefore its share of positional
    # noise — is comparable round-over-round.
    from milan_telecom_etl__spark.queries_registry import QUERIES as _reg_order

    qs = {n: qs[n] for n in _reg_order if n in qs}
    # smoke-subset knob: comma-separated entry names. Subset runs skip
    # the sidecar writes so a quick check can never clobber the
    # committed full-registry BENCH_DETAIL artifacts.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if only:
        want = {n.strip() for n in only.split(",") if n.strip()}
        qs = {n: f for n, f in qs.items() if n in want}

    # warmup: trigger JVM + parquet footer reads once
    try:
        qs["top_cells"](spark, sf_dir).count()
    except Exception:
        pass

    meter = StageMeter(spark)
    timings: dict[str, float] = {}
    counters: dict[str, dict] = {}
    for name, fn in qs.items():
        reps: list[float] = []
        try:
            start = meter.mark()
            # clear ONCE per query: leaked persists from earlier queries
            # can't steal memory (the r4->r5 drift), while a query's own
            # persisted intermediates stay warm across its reps — the
            # same within-query protocol r1-r5 measured, so means stay
            # comparable round-over-round
            spark.catalog.clearCache()
            # untimed warmup rep(s): a cold first run sits on the
            # Janino-compile + C2-JIT warmup curve, which made r7→r8
            # medians drift with REGISTRY SIZE, not code (PLANS.md r9:
            # the five "drifted" entries ran FASTER mid-sweep than
            # isolated — cross-entry warm-JIT subsidy). Discarding the
            # warmup measures steady state.
            for _ in range(WARMUP):
                fn(spark, sf_dir).count()
            for _ in range(REPS):
                t0 = time.perf_counter()
                fn(spark, sf_dir).count()
                reps.append(time.perf_counter() - t0)
            timings[name] = round(statistics.median(reps), 4)
            # job/stage work over the entry's warmup+reps in aggregate,
            # read in-process from the status store (perfbench/probe.py)
            counters[name] = {
                k: round(v, 3) for k, v in meter.delta(start, meter.mark()).items()
            }
        except Exception as e:  # never let one query sink the whole bench
            print(f"bench: {name} failed: {e}", file=sys.stderr)
            timings[name] = -1.0

    spark.catalog.clearCache()

    ok = {k: v for k, v in timings.items() if v >= 0}
    total = round(sum(ok.values()), 4)
    # The stdout line must stay SHORT: the driver captures a bounded tail
    # and failed to parse the 140-entry map in r1/r2 ("parsed": null).
    # Full per-query timings go to a sidecar instead (VERDICT r2 #4).
    repo = os.path.dirname(os.path.abspath(__file__))
    if only:
        print(
            json.dumps(
                {
                    "metric": "total_query_wall_seconds",
                    "value": total,
                    "unit": "sec",
                    "queries": dict(sorted(ok.items(), key=lambda kv: -kv[1])[:5]),
                    "n_queries": len(timings),
                    "n_failed": len(timings) - len(ok),
                    "mean_sec": round(total / max(len(ok), 1), 4),
                    "subset": sorted(timings),
                    "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                }
            )
        )
        spark.stop()
        return
    # JVM pressure telemetry (PLANS.md r8 drift root cause): code-cache /
    # metaspace occupancy after the sweep, so BENCH_DETAIL records whether
    # the generated-class footprint fits the reserved JIT cache.
    jvm_pools: dict[str, float] = {}
    try:
        beans = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        for p in beans:
            n = p.getName()
            if "Code" in n or "Metaspace" in n:
                jvm_pools[n] = round(p.getUsage().getUsed() / 1e6, 1)
    except Exception:
        pass

    detail = {
        "sf": sf,
        "queries": timings,
        "counters": counters,
        "jvm_pools_mb": jvm_pools,
        "git_sha": _git_sha(repo),
        "wall_clock_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "reps": REPS,
        "warmup": WARMUP,
        "stat": "median",
    }
    with open(os.path.join(repo, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, sort_keys=True)
    # round-stamped sidecar too (VERDICT r3 #8): BENCH_DETAIL_r{N}.json
    # holds the detail of a bench run DURING round N, so per-query timings
    # can be diffed across rounds from git history alone. The round is
    # inferred as one past the newest driver CORRECTNESS artifact; that
    # heuristic is wrong for a bench run AFTER the driver drops the
    # end-of-round artifact (r8's final detail landed as _r09 — VERDICT
    # r8 #4), so SPARK_GRAFT_ROUND overrides it explicitly.
    import glob as _glob
    import re as _re

    env_round = os.environ.get("SPARK_GRAFT_ROUND")
    if env_round:
        cur_round = int(env_round)
    else:
        rounds = [
            int(m.group(1))
            for p in _glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
            if (m := _re.search(r"r(\d+)\.json$", p))
        ]
        cur_round = max(rounds, default=0) + 1
    # Sidecar NAMESPACE (VERDICT r14 #6): BENCH_DETAIL_r{N}.json belongs
    # to the DRIVER's judge-time sweep — it is the comparable
    # round-over-round series PLANS.md cites, and r13's was clobbered by
    # builder closing sweeps reusing the name (recovered via git show
    # 5175744:BENCH_DETAIL_r14.json). Builder-initiated sweeps set
    # SPARK_GRAFT_BENCH_CLOSE=1 and land in BENCH_CLOSE_r{N}.json.
    side = "CLOSE" if os.environ.get("SPARK_GRAFT_BENCH_CLOSE") else "DETAIL"
    with open(
        os.path.join(repo, f"BENCH_{side}_r{cur_round:02d}.json"), "w"
    ) as f:
        json.dump(detail, f, sort_keys=True)
    # core-count-suffixed sidecar too (VERDICT r15 #4): the driver runs
    # a 32-core judge sweep THEN an 8-core scaling sweep in the same
    # round, and the un-suffixed name made the second overwrite the
    # first (the r15 32-core per-query detail is lost). Both sweeps'
    # details now survive side by side.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    with open(
        os.path.join(repo, f"BENCH_{side}_r{cur_round:02d}_c{int(cpus):02d}.json"),
        "w",
    ) as f:
        json.dump(detail, f, sort_keys=True)
    slowest = dict(sorted(ok.items(), key=lambda kv: -kv[1])[:5])
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(timings),
                "n_failed": len(timings) - len(ok),
                "mean_sec": round(total / max(len(ok), 1), 4),
                "detail": "BENCH_DETAIL.json",
                "git_sha": _git_sha(repo)[:12],
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
