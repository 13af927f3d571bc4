"""Benchmark harness: run the full query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (driver keeps only a ~2000-char stdout TAIL, so the
LAST line must be a complete, compact JSON summary — the full
per-query map printed first was truncated out of rounds 5-6's
BENCH_r{N}.json, leaving "parsed": null):
  line 1: full JSON {"metric", "value", "unit", "queries": {name: sec},
          "sf", "runs", "timing"} — also written to
          BENCH_full_latest.json next to this script.
  last line: compact JSON <=200 chars {"metric", "value", "unit",
          "sf", "runs", "queries_n", "per_query_sec"}.

Each query materializes through the `noop` sink — full execution
(scan -> shuffle -> agg), no driver collect, no output I/O skew.
Each query runs twice and reports the best run: the first execution of
a plan pays one-off costs (codegen/JIT compilation, AQE statistics, GC
warm-up, OS page cache) that are not plan properties and made earlier
single-shot runs unrepresentative under host contention.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nyc_etl_pipeline_spark import get_spark, suite  # noqa: E402


def _host_driver_mem() -> str:
    """~30% of host RAM within [1, 16] GiB. In local mode the driver
    heap is the executor heap, and the host is shared with other
    processes; 16g (headroom for sf0.1) is reached from ~54 GiB up."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(16, int(mem_kb * 0.3 / (1 << 20))))}g"


BENCH_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

# Drift canaries (VERDICT r11 item 6): ten queries whose code and plans
# have been untouched since the early rounds, spanning scan/agg, window,
# sessionize, string, array, and TPC-H join families. Three straight
# rounds spent effort proving uniform host-speed multipliers (r9 1.39x,
# r10 cluster, r11 1.20x); the median of THESE queries' per-round ratio
# IS that multiplier, so a real plan regression stands out on first
# read as movement relative to canary_median, not relative to the wall
# clock. Do not touch these queries' implementations without moving
# them off this list.
CANARIES = [
    "q08_top_customers", "q09_window_rank", "q10_rollup",
    "q13_events_tumbling", "q15_sessionize", "q39_string_gauntlet",
    "q43_tpch_q1", "q45_array_ops", "q61_tpch_q3", "q102_tpch_q6",
]


def _median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def _bench_only(only_env: str, names: list[str]) -> set[str] | None:
    """The SPARK_GRAFT_BENCH_ONLY subset: comma-separated full query
    names, plus the canaries (so canary_median stays well-defined);
    None when unset (the full suite). A name that matches no query
    exits before anything runs, listing every such name."""
    if not only_env:
        return None
    only = set(filter(None, only_env.split(",")))
    unknown = sorted(only - set(names))
    if unknown:
        raise SystemExit(
            "SPARK_GRAFT_BENCH_ONLY: no suite query named " + ", ".join(unknown)
        )
    return only | set(CANARIES)


def main() -> None:
    specs = suite.all_specs()
    only = _bench_only(
        os.environ.get("SPARK_GRAFT_BENCH_ONLY", ""), [s.name for s in specs]
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark(
        app_name="nyc-etl-pipeline-spark-bench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # an explicit SPARK_GRAFT_DRIVER_MEM wins over the host default
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or _host_driver_mem(),
        },
    )

    # Warm the JVM + parquet footers once so the first timed query
    # isn't charged for session initialization.
    from nyc_etl_pipeline_spark.io import read_testdata
    from nyc_etl_pipeline_spark.schemas import TESTDATA

    spark.range(1000).selectExpr("sum(id)").collect()
    for name in TESTDATA:
        read_testdata(spark, sf_dir, name).limit(1).count()

    timings: dict[str, float] = {}
    for spec in specs:
        if only is not None and spec.name not in only:
            continue
        best = None
        for _ in range(max(1, BENCH_RUNS)):
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            best = elapsed if best is None else min(best, elapsed)
        timings[spec.name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    canary_median = round(
        _median([timings[c] for c in CANARIES if c in timings]), 3
    )
    full = {
        "metric": "suite_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # host-drift normalizer: median canary time this run; compare
        # across BENCH_r{N}.json to separate host multipliers from
        # plan regressions (ratio of canary_medians = the multiplier)
        "canary_median": canary_median,
        "canaries": CANARIES,
        "sf": sf,
        # methodology markers: per-query time is best of
        # `runs` executions. Numbers are NOT comparable to a
        # single-shot harness (run 2 benefits from JIT/page
        # cache) — measure any baseline with identical settings.
        "runs": max(1, BENCH_RUNS),
        "timing": "best_of_n",
    }
    full_line = json.dumps(full)
    print(full_line)
    # Durable copy of the per-query map (stdout tail may truncate it).
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_full_latest.json"), "w") as f:
        f.write(full_line + "\n")
    # ALSO keep a per-core-count copy: the driver benches at two CPU
    # counts and the second run used to clobber the first's per-query
    # data in BENCH_full_latest.json, which is why PERF_r{11,12}'s
    # per_query and scaling blocks came back empty (VERDICT r12 item 3).
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "all")
    with open(os.path.join(here, f"BENCH_full_{cpus}c.json"), "w") as f:
        f.write(full_line + "\n")
    # The driver records only a ~2000-char stdout tail: end with a
    # compact summary line that always fits and parses on its own.
    print(
        json.dumps(
            {
                "metric": "suite_total_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "runs": max(1, BENCH_RUNS),
                "queries_n": len(timings),
                "per_query_sec": round(total / max(1, len(timings)), 3),
                "canary_median": canary_median,
            }
        )
    )


if __name__ == "__main__":
    main()
