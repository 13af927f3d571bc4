"""Benchmark of the medallion pipeline and the query suite.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline_incremental --seed 1 --seconds 10 --trace 0

Load: one driver process on local[<cores>], one client, closed loop.

- ``pipeline_incremental``: six seeded yellow-taxi months plus a
  zone CSV. Set-up builds the warehouse from empty (the first
  ``run_all``, which is also the warm-up pass); each timed pass
  re-delivers one month with changed content (alternating between two
  seeded variants) and runs the four Engine layers in ``run_all`` order
  with ``incremental=True``.
- ``suite_mix``: a fixed, ordered list of suite queries over seeded
  TPC-H-like tables; each pass builds every query once and runs it once
  through the ``noop`` sink. The warm-up pass collects every result and
  checks it against the query's DuckDB oracle.

Set-up (``setup_s``) is everything before the first timed pass:
interpreter and session start, input generation, the warm-up pass (for
the pipeline, the initial build), the suite's output checks and the
canary warm-up. Then whole passes are timed until ``--seconds`` have
elapsed (at least one); pipeline outputs are checked after every timed
pass, outside the timed region. ``wall_rel`` divides each pass time by
a fixed plain-Spark canary job timed before the pass and between its
steps, and ``setup_s`` is scaled by the same canary (see ``Canary``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics of the
traced ones plus the tracing overhead; the spans are echoed as one JSON
line. The last stdout line is always one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; a run-info line (cores, heap,
Spark version, input sizes, seed, per-pass times) precedes it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The second half of 2023: six monthly files rather than twelve keeps a
# run (cold build + timed pass) inside the benchmark's time budget.
MONTHS = range(7, 13)
ROWS_PER_MONTH = 2000
CHANGED_MONTH = 9
SUITE_SCALE = 1500
# Fixed order, owned here rather than taken from suite.all_specs(): the
# reference monthly mart shape (star join + wide aggregate), an
# execution-bound text op, a builder-bound iterative op (eager fixpoint
# jobs inside the builder) and interval overlap.
SUITE_MIX = [
    "q01_monthly_sales_report",
    "q128_containment_pairs",
    "q41_neardup_clusters",
    "q129_interval_overlap",
]
SUITE_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
LAYERS = ("silver", "dims", "fact", "reports")
LAYER_TABLES = {
    "silver": ("trips_silver",), "dims": (), "fact": ("fact_nyc",),
    "reports": ("monthly_report", "weekly_report"),
}
TABLES = ("trips_silver", "fact_nyc", "monthly_report", "weekly_report")

# Median warm canary time (s) on the host the baseline was taken on: set-up
# time is reported scaled to that host's speed (see ``main``).
CANARY_REF_S = 0.205


def declared_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Failures:
    """Operations attempted and failed: a layer call or query that
    raises, or an output check that finds a problem."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, name: str, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # counted and reported; the run goes on
            self.failed += 1
            print(f"[perfbench] {name} raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def check(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                print(f"[perfbench] check failed: {p}", file=sys.stderr)


def retained_heap_bytes(spark) -> int:
    """Heap still live in the session's JVM after a full collection: what
    the session keeps between queries (cached scratch, plans, listener
    state)."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return int(jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed())


class Canary:
    """A fixed Spark job that uses no package code: planning, codegen,
    one shuffle, 2 x cores tasks per stage. Pass and set-up times are
    divided by its time, so that a shared host running slower or faster
    for a while moves both alike.

    It runs in its own session over the same SparkContext, with every
    modifiable SQL setting that ``get_spark`` made reset to Spark's
    default, so a change to the package's session settings does not move
    it. The group timed before a pass starts after a full GC, so heap
    the previous pass left behind does not slow it either.
    """

    def __init__(self, spark, cores: int):
        session = spark.newSession()
        for key in list(session.conf.getAll):
            if key.startswith("spark.sql.") and session.conf.isModifiable(key):
                session.conf.unset(key)
        session.conf.set("spark.sql.shuffle.partitions", str(2 * cores))
        self.session, self.cores = session, cores
        self.jvm = spark.sparkContext._jvm

    def times(self, reps: int, gc: bool = False) -> list[float]:
        """``reps`` timings, each planning the job afresh."""
        from pyspark.sql import functions as F

        if gc:
            self.jvm.java.lang.System.gc()
        out = []
        for _ in range(reps):
            t0 = time.perf_counter()
            self.session.range(0, 400_000, numPartitions=2 * self.cores).groupBy(
                (F.col("id") % 1000).alias("k")).agg(F.sum("id")).collect()
            out.append(time.perf_counter() - t0)
        return out


def host_info() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # ~30% of host RAM within [1, 6] GiB: in local mode the driver heap
    # is the executor heap, and the host is shared with other processes
    heap_gb = max(1, min(6, int(mem_kb * 0.3 / (1 << 20))))
    return {"cores": cores, "host_mem_gb": round(mem_kb / (1 << 20), 1), "heap": f"{heap_gb}g"}


def start_session(work: str, info: dict):
    from nyc_etl_pipeline_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{info['cores']}]",
        # 2x cores, the sizing get_spark's docstring gives for clusters
        shuffle_partitions=2 * info["cores"],
        extra_conf={
            "spark.driver.memory": info["heap"],
            # C1 only: with C2 a pass keeps getting faster for minutes
            # (11.4 s to 5.2 s over six suite passes on a 4-core host), so
            # a short run would time the warm-up curve; with C1 the timed
            # passes are level from the first
            "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                                              "-XX:TieredStopAtLevel=1"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# warehouse accounting (outside every timed region)


def file_snapshot(root: str) -> dict[str, tuple[int, int, int]]:
    """relative path -> (inode, mtime_ns, size) of every data file."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            if name.startswith((".", "_")):
                continue
            p = os.path.join(d, name)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def written(before: dict, after: dict, tables: tuple[str, ...] | None = None) -> tuple[int, int]:
    """(bytes, partition directories) of files new since ``before``, in
    ``tables`` (default: every table)."""
    nbytes, parts = 0, set()
    for rel, key in after.items():
        table = rel.split(os.sep, 1)[0]
        if (tables is None or table in tables) and before.get(rel) != key:
            nbytes += key[2]
            parts.add(os.path.dirname(rel))
    return nbytes, len(parts)


def dir_bytes(path: str) -> int:
    return sum(k[2] for k in file_snapshot(path).values())


# ---------------------------------------------------------------------------
# workloads


class PipelineIncremental:
    def __init__(self, spark, work: str, seed: int, fails: Failures):
        import gen
        from nyc_etl_pipeline_spark.engine import Engine

        self.spark, self.seed, self.fails, self.gen = spark, seed, fails, gen
        self.raw = os.path.join(work, "raw")
        self.zone = os.path.join(work, "taxi_zone.csv")
        self.wh = os.path.join(work, "warehouse")
        self.passes = 0
        gen.write_yellow_months(self.raw, seed, ROWS_PER_MONTH, MONTHS)
        gen.write_zone_csv(self.zone, seed)
        self.raw_bytes = dir_bytes(self.raw)
        self.input = {"rows_per_month": ROWS_PER_MONTH, "months": len(MONTHS),
                      "changed_month": CHANGED_MONTH, "raw_bytes": self.raw_bytes}
        # warm-up pass: the first run_all, which builds every table; its
        # outputs are covered by the check after each timed pass
        self.run_pass(Engine(spark, self.wh))

    def prepare(self):
        """Untimed: re-deliver the changed month, variants 1, 2, 1, ...,
        so that every pass sees exactly one changed month."""
        from nyc_etl_pipeline_spark.engine import Engine

        self.passes += 1
        self.gen.write_month_variant(self.raw, self.seed, ROWS_PER_MONTH, CHANGED_MONTH, 2 - self.passes % 2)
        return Engine(self.spark, self.wh)

    def run_pass(self, eng, tracer=None, acct: dict | None = None, before_step=None) -> None:
        """The four layers in ``Engine.run_all`` order, incremental."""
        calls = {
            "silver": lambda: eng.run_silver(yellow_dir=self.raw),
            "dims": lambda: eng.run_dims(zone_csv=self.zone),
            "fact": lambda: eng.run_fact(incremental=True),
            "reports": eng.run_reports,
        }
        for layer in LAYERS:
            if before_step is not None:
                before_step()
            if tracer is None:
                self.fails.run(layer, calls[layer])
                continue
            before = file_snapshot(self.wh)
            with tracer.span(layer) as span:
                self.fails.run(layer, calls[layer])
            acct[layer] = (span, before, file_snapshot(self.wh))

    def check(self) -> None:
        import checks

        self.fails.check(checks.check_fact(self.wh, self.raw))
        self.fails.check(checks.check_marts(self.wh, self.raw, self.zone))

    def layer_metrics(self, acct: dict) -> dict[str, float]:
        out: dict[str, float] = {}
        for layer in LAYERS:
            span, before, after = acct[layer]
            nbytes, parts = written(before, after, LAYER_TABLES[layer])
            out.update({f"{layer}.{k}": v for k, v in span.counters.items()})
            out.update({f"{layer}.s": span.seconds, f"{layer}.partitions_written": float(parts),
                        f"{layer}.bytes_written": float(nbytes)})
        first, final = acct["silver"][1], acct["reports"][2]
        for t in TABLES:
            files = [k for rel, k in final.items() if rel.split(os.sep, 1)[0] == t]
            out[f"io.bytes.{t}"] = float(sum(k[2] for k in files))
            out[f"io.files.{t}"] = float(len(files))
        out["io.stored_bytes_per_raw_byte"] = sum(k[2] for k in final.values()) / self.raw_bytes
        changed = os.path.getsize(self.gen.month_path(self.raw, CHANGED_MONTH))
        out["io.written_bytes_per_changed_byte"] = written(first, final)[0] / changed
        return out


class SuiteMix:
    def __init__(self, spark, work: str, seed: int, fails: Failures):
        import checks
        import gen
        from nyc_etl_pipeline_spark import suite

        self.spark, self.fails = spark, fails
        self.data = os.path.join(work, "suite_data")
        gen.write_suite_tables(self.data, seed, SUITE_SCALE)
        specs = {s.name: s for s in suite.all_specs()}
        self.specs = [specs[name] for name in SUITE_MIX]
        self.input = {"scale_orders": SUITE_SCALE, "queries": len(self.specs),
                      "data_bytes": dir_bytes(self.data)}
        self.hygiene_max = {"registered": 0, "persisted_rdds": 0}
        # warm-up pass: build and collect every query, check each result
        con = checks.suite_connection(self.data, SUITE_TABLES)
        for spec in self.specs:
            pdf = self.fails.run(spec.name, lambda s=spec: s.fn(self.spark, self.data).toPandas())
            if pdf is not None:
                self.fails.check(checks.check_query(spec.name, pdf, con, spec.oracle))
        con.close()

    def prepare(self):
        return None

    def check(self) -> None:
        """Timed passes write to the noop sink; results were checked on
        the warm-up pass."""

    def run_pass(self, _, tracer=None, acct: dict | None = None, before_step=None) -> None:
        for spec in self.specs:
            if before_step is not None:
                before_step()
            if tracer is None:
                self.fails.run(spec.name, self._query, spec)
            else:
                self._traced_query(spec, tracer, acct)

    def _query(self, spec) -> None:
        spec.fn(self.spark, self.data).write.format("noop").mode("overwrite").save()

    def _traced_query(self, spec, tracer, acct: dict) -> None:
        from nyc_etl_pipeline_spark import hygiene

        with tracer.span(spec.name):
            with tracer.span(f"{spec.name}.build") as build:
                df = self.fails.run(spec.name, spec.fn, self.spark, self.data)
            with tracer.span(f"{spec.name}.exec") as run:
                if df is not None:
                    self.fails.run(spec.name, df.write.format("noop").mode("overwrite").save)
        acct[spec.name] = (build, run)
        registered = hygiene.registered_count()
        persisted = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        self.hygiene_max["registered"] = max(self.hygiene_max["registered"], registered)
        self.hygiene_max["persisted_rdds"] = max(self.hygiene_max["persisted_rdds"], persisted)

    def layer_metrics(self, acct: dict) -> dict[str, float]:
        out: dict[str, float] = {}
        tot = dict.fromkeys(("build_s", "exec_s", "build_jobs", "exec_jobs", "tasks",
                             "shuffle_write_bytes", "spill_bytes", "gc_s", "py4j_calls"), 0.0)
        for spec in self.specs:
            build, run = acct[spec.name]
            q = spec.name.split("_", 1)[0]
            out[f"{q}.build_s"], out[f"{q}.exec_s"] = build.seconds, run.seconds
            out[f"{q}.build_jobs"] = build.counters["jobs"]
            tot["build_s"] += build.seconds
            tot["exec_s"] += run.seconds
            tot["build_jobs"] += build.counters["jobs"]
            tot["exec_jobs"] += run.counters["jobs"]
            for k in ("tasks", "shuffle_write_bytes", "spill_bytes", "gc_s", "py4j_calls"):
                tot[k] += build.counters[k] + run.counters[k]
        out.update({f"suite.{k}": v for k, v in tot.items()})
        out["hygiene.registered_max"] = float(self.hygiene_max["registered"])
        out["hygiene.persisted_rdds_max"] = float(self.hygiene_max["persisted_rdds"])
        return out


WORKLOADS = {"pipeline_incremental": PipelineIncremental, "suite_mix": SuiteMix}


def measure(spark, wl, canary: Canary, args, info: dict) -> dict[str, float]:
    """Whole passes until ``args.seconds`` have elapsed (at least one);
    with tracing, untraced and traced passes alternate."""
    walls, refs, traced_walls, layer_runs = [], [], [], []
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer(spark)
    deadline = time.perf_counter() + args.seconds
    while True:
        # traced first: while passes still warm up, the overhead reads high, not low
        for traced in ([True, False] if args.trace else [False]):
            eng = wl.prepare()
            ref = canary.times(4, gc=True)
            t0 = time.perf_counter()
            if traced:
                acct: dict = {}
                with tracer.span("pass"):
                    wl.run_pass(eng, tracer, acct)
                wall = time.perf_counter() - t0
            else:
                # more canary samples between the pass's steps, so that a
                # host slowing down mid-pass shows in both; their time is
                # taken out of the pass time
                mid: list[float] = []
                wl.run_pass(eng, before_step=lambda: mid.extend(canary.times(2)))
                mid += canary.times(2)
                wall = time.perf_counter() - t0 - sum(mid)
                ref += mid
            wl.check()
            if traced:
                traced_walls.append(wall)
                layer_runs.append(wl.layer_metrics(acct))
            else:
                walls.append(wall)
                refs.append(statistics.median(ref))
        if time.perf_counter() >= deadline:
            break
    info["pass_walls_s"] = walls
    info["pass_canary_s"] = refs
    if not args.trace:
        return {"wall_rel": statistics.median(w / c for w, c in zip(walls, refs))}
    tracer.close()
    print(json.dumps({"spans": tracer.records()}))
    out = {k: statistics.median(r[k] for r in layer_runs) for k in layer_runs[0]}
    out["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)
    out["jvm.retained_heap_mb"] = retained_heap_bytes(spark) / 1e6
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "nyc_etl_pipeline_spark", "__init__.py")):
        print(f"perfbench: no nyc_etl_pipeline_spark package under {ROOT}; "
              "run it from the root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True

    # every file the run writes, Spark's and Python's scratch included,
    # stays under the checkout and is removed at exit
    scratch_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(scratch_root, f"{args.workload}-{os.getpid()}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    spark = None
    try:
        info = host_info()
        t0 = time.perf_counter()
        spark = start_session(work, info)
        session_s = time.perf_counter() - t0
        import pyspark

        info.update({"spark": pyspark.__version__, "workload": args.workload, "seed": args.seed,
                     "seconds": args.seconds, "trace": args.trace})
        fails = Failures()
        t0 = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, work, args.seed, fails)
        info.update({"input": wl.input, "session_start_s": session_s,
                     "workload_setup_s": time.perf_counter() - t0})
        canary = Canary(spark, info["cores"])
        canary.times(5, gc=True)  # its own warm-up: the timed-region canaries are warm
        info["setup_wall_s"] = time.perf_counter() - T_START
        measured = measure(spark, wl, canary, args, info)
        if args.trace:
            measured["session.start_s"] = session_s
        else:
            # set-up seconds at the speed of the host the baseline was
            # taken on: divided by this run's (warm) canary time, as
            # ``wall_rel`` is, and scaled back by that host's canary time
            measured["setup_s"] = info["setup_wall_s"] / statistics.median(info["pass_canary_s"]) * CANARY_REF_S
        # the declared metrics only; a layer the workload does not run reports 0
        units = declared_units("per_layer" if args.trace else "end_to_end")
        metrics = {k: {"value": float(measured.get(k, 0.0)), "unit": u} for k, u in units.items()}
        print(json.dumps({"info": info}))
        print(json.dumps({"correct": fails.failed == 0, "attempted": fails.attempted,
                          "failed": fails.failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(scratch_root) and not os.listdir(scratch_root):
            os.rmdir(scratch_root)


if __name__ == "__main__":
    sys.exit(main())
