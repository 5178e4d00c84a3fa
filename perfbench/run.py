"""Benchmark: two closed-loop, single-client workloads on local[nproc].

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. One run is one fresh process: it generates
the workload's inputs from the seed (the measured one and a smaller one
of the same shape for warm-up), computes the expected outputs with
DuckDB, starts the session, runs the warm-up pass, then runs passes for
``--seconds`` and checks every timed pass's output (outside the timed
calls). The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}``; the line before it is the host fingerprint.
``--trace 1`` then starts a second session in the same JVM with Spark's
event log on, runs one more timed pass there and reports the per-layer
metrics instead of the end-to-end ones. ``--smoke`` runs
each workload once on a small input and checks it. See README.md for the
metrics and how they relate.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import numpy as np  # noqa: E402

from spans import CallFailed, Calls, CallTimeout, fold_event_log  # noqa: E402

# Warm-up passes before timing. The first pass of a fresh JVM runs 2-3x
# slower (class loading, JIT, codegen); later passes level off.
WARMUP_PASSES = 1
SETTLE_S = 0.5
CALL_TIMEOUT_S = 60.0
RUN_DEADLINE_S = 170.0
CALIBRATION_REPEATS = 2

GENERIC = ("wall_s", "jobs", "tasks", "exec_run_s", "gc_s", "shuffle_mb")
LAYER_EXTRAS = {
    "session": ("start_s", "job_floor_s", "shuffle_floor_s", "retained_rdds"),
    "pipeline.ingest": ("written_mb",),
    "pipeline.dimensions": ("written_mb",),
    "pipeline.fact": ("written_mb",),
    "pipeline.aggregates": ("written_mb",),
    "pipeline.quality": (),
    "curation.curate_documents": ("construct_s",),
    "dedup.embedding_near_dup_clusters": ("construct_s",),
    "dedup.minhash_lsh_pairs": ("construct_s",),
    "similarity.ann_pq_topk": ("construct_s",),
    "similarity.semantic_dedup": ("construct_s",),
    "txlog.load": ("written_mb",),
    "txlog.merge": ("written_mb", "files_rewritten", "files_live", "commits", "p50_s",
                    "tail_s"),
    "txlog.read": ("files_read_ratio", "p50_s", "tail_s"),
    "txlog.time_travel": ("files_read_ratio",),
    "txlog.optimize": ("written_mb", "files_rewritten"),
    "txlog.vacuum": (),
}
BENCH_EXTRAS = ("trace_overhead", "spill_mb")
UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "exec_run_s": "s", "gc_s": "s",
         "shuffle_mb": "MB", "written_mb": "MB", "construct_s": "s", "start_s": "s",
         "job_floor_s": "s", "shuffle_floor_s": "s", "retained_rdds": "count",
         "trace_overhead": "ratio", "spill_mb": "MB", "files_rewritten": "count",
         "files_live": "count", "commits": "count", "p50_s": "s", "tail_s": "s",
         "files_read_ratio": "ratio"}
END_TO_END = {"setup_s": "s", "wall_s": "s", "jobs": "count", "heap_retained_mb": "MB",
              "write_amp": "ratio", "space_amp": "ratio"}


# layers that run no Spark job, so only their wall time is recorded
DRIVER_ONLY = ("txlog.vacuum",)


def per_layer_names() -> list[str]:
    names = [f"{layer}.{m}" for layer, extras in LAYER_EXTRAS.items()
             for m in (("wall_s",) if layer in DRIVER_ONLY else GENERIC) + extras]
    return names + [f"bench.{m}" for m in BENCH_EXTRAS]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def driver_heap_mb() -> int:
    """An eighth of the host's memory, within 1-4 GiB: the inputs are
    tens of MB, and the host is shared."""
    return max(1024, min(4096, mem_total_mb() // 8))


def start_session(work: str, event_dir: str | None = None):
    from complex_data_pipeline_with_joins_and_multi_table_operations_spark import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            # Spark 4 defaults to zstd, which no installed Python module reads
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    stopper = threading.Thread(target=spark.stop, daemon=True)
    stopper.start()
    stopper.join(30)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(30)
        except Exception:
            proc.kill()
            proc.wait()


def remove_work(work: str) -> None:
    """Delete the run's directory, and ``.bench_run`` once it is empty."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


def probe_retained(spark) -> tuple[float, int]:
    """Driver heap in use (MB) and persistent RDDs left once caches are
    cleared and a full GC is forced. The pause between the two GCs lets
    Spark's ContextCleaner drop the shuffle and broadcast state the
    first GC found unreachable; without it the heap read is bimodal."""
    spark.catalog.clearCache()
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(0.5)
    jvm.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = (rt.totalMemory() - rt.freeMemory()) / 2**20
    return heap, len(spark.sparkContext._jsc.getPersistentRDDs())


def calibrate(spark, calls: Calls) -> tuple[float, float]:
    """Median wall of a one-stage job and of a two-stage shuffle job,
    after one unrecorded repeat of each."""
    from pyspark.sql import functions as F

    def one_stage():
        spark.range(0, 100_000, 1, nproc()).write.format("noop").mode("overwrite").save()

    def shuffle():
        (spark.range(0, 100_000, 1, nproc()).groupBy((F.col("id") % 64).alias("k")).count()
         .write.format("noop").mode("overwrite").save())

    floors = []
    for fn in (one_stage, shuffle):
        fn()
        walls = []
        for _ in range(CALIBRATION_REPEATS):
            calls.run("session", fn)
            walls.append(calls.records[-1]["wall_s"])
        floors.append(statistics.median(walls))
    return floors[0], floors[1]


class Runner:
    """One workload's inputs, expected outputs and checked passes."""

    def __init__(self, workload_cls, seed: int, work: str, t0: float):
        self.cls = workload_cls
        self.seed = seed
        self.work = work
        self.deadline = t0 + RUN_DEADLINE_S

    def deadline_left(self) -> float:
        return self.deadline - time.perf_counter()

    def input_dir(self, size: str) -> str:
        return os.path.join(self.work, f"input-{size}")

    def workload(self, spark, calls: Calls, size: str):
        return self.cls(spark, calls, self.input_dir(size), os.path.join(self.work, size), size)

    def one_pass(self, wl, calls: Calls, i: int, expected: dict | None) -> dict | None:
        """Run one pass, then check its output against ``expected``
        (warm-up passes have none)."""
        first = len(calls.records)
        calls.timeout_s = max(5.0, min(CALL_TIMEOUT_S, self.deadline_left()))
        try:
            result = wl.run_pass(i)
        except CallFailed:  # counted by Calls; the pass is lost
            return None
        except CallTimeout:
            raise
        except Exception as e:  # the benchmark's own bookkeeping failed
            calls.fail(f"{self.cls.name} pass {i}: {type(e).__name__}: {str(e)[:300]}")
            return None
        recs = calls.records[first:]
        result["wall_s"] = sum(r["wall_s"] for r in recs)
        result["jobs"] = sum(r["jobs"] for r in recs)
        result["groups"] = [r["group"] for r in recs]
        print(f"pass {i}: {result['wall_s']:.3f} s, {result['jobs']} jobs", file=sys.stderr,
              flush=True)
        if expected is not None:
            for line in wl.check(result, expected):
                calls.fail(f"{self.cls.name} pass {i} output: {line}")
        return result

    def prepare(self, sizes: tuple[str, ...]) -> float:
        """Generate the input of every size from the seed and compute
        the expected outputs of the first; returns the time it took."""
        t0 = time.perf_counter()
        rng = np.random.default_rng(self.seed)
        for size in sizes:
            os.makedirs(self.input_dir(size), exist_ok=True)
            self.cls.generate(rng, self.input_dir(size), size)
        self.expected = self.cls.expected(self.input_dir(sizes[0]), sizes[0])
        return time.perf_counter() - t0


def host_fingerprint(spark, floors: tuple[float, float]) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "java": jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "python": platform.python_version(),
        "driver_heap_mb": driver_heap_mb(),
        "job_floor_s": floors[0],
        "shuffle_floor_s": floors[1],
    }


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    from workloads import WORKLOADS

    work = os.path.join(os.getcwd(), ".bench_run", f"{name}-{os.getpid()}")
    runner = Runner(WORKLOADS[name], seed, work, T_START)
    spark = None
    calls = None
    try:
        # input generation and the DuckDB oracle run before the session
        # starts, and their time is not set-up time
        prep_s = runner.prepare(("full", "warm"))
        spark, start_s = start_session(work)
        calls = Calls(spark, CALL_TIMEOUT_S)
        warm = runner.workload(spark, calls, "warm")
        i = 0
        for i in range(WARMUP_PASSES):
            runner.one_pass(warm, calls, i, None)
        setup_s = time.perf_counter() - T_START - prep_s
        # start the timed passes from a collected heap and an idle JIT
        # compile queue, as every later pass does
        probe_retained(spark)
        time.sleep(SETTLE_S)

        wl = runner.workload(spark, calls, "full")
        measured = []
        retained = []
        t_measure = time.perf_counter()
        while (not measured or time.perf_counter() - t_measure < seconds) \
                and runner.deadline_left() > 40:
            i += 1
            result = runner.one_pass(wl, calls, i, runner.expected)
            if result is not None:
                measured.append(result)
                retained.append(probe_retained(spark))
        floors = calibrate(spark, calls)
        print(json.dumps({"host": host_fingerprint(spark, floors), "workload": name,
                          "seed": seed, "passes": len(measured),
                          "failures": calls.failures[:10]}), flush=True)
        if not measured:
            raise RuntimeError("no pass completed")

        if not trace:
            metrics = end_to_end(setup_s, measured, retained)
        else:
            untraced_wall = statistics.median(r["wall_s"] for r in measured)
            calls.close()
            spark.stop()
            event_dir = os.path.join(work, "events")
            spark, _ = start_session(work, event_dir)
            calls.rebind(spark)
            # the first pass on the new SparkContext: it also pays for the
            # context's Python workers and session state (see README.md)
            traced = runner.one_pass(runner.workload(spark, calls, "full"), calls, i + 1,
                                     runner.expected)
            if traced is None:
                raise RuntimeError("traced pass failed")
            first_cal = len(calls.records)
            t_floors = calibrate(spark, calls)
            cal_groups = [r["group"] for r in calls.records[first_cal:]]
            folded = fold_event_log(event_dir)
            metrics = per_layer(calls.records, folded, traced, cal_groups, start_s, t_floors,
                                retained, untraced_wall, measured + [traced])
        correct = calls.failed == 0
        print(json.dumps({"correct": correct, "attempted": calls.attempted,
                          "failed": calls.failed, "metrics": metrics}), flush=True)
        return 0 if correct else 1
    except CallTimeout:
        print(json.dumps({"error": calls.failures[-1]}), file=sys.stderr, flush=True)
        print(json.dumps({"correct": False, "attempted": calls.attempted,
                          "failed": calls.failed, "metrics": {}}), flush=True)
        if spark is not None:
            stop_session(spark)
        remove_work(work)
        os._exit(1)
    finally:
        if calls is not None:
            calls.close()
        if spark is not None:
            stop_session(spark)
        remove_work(work)


def end_to_end(setup_s: float, measured: list[dict], retained: list[tuple]) -> dict:
    med = statistics.median
    values = {
        "setup_s": setup_s,
        "wall_s": med(r["wall_s"] for r in measured),
        "jobs": med(r["jobs"] for r in measured),
        "heap_retained_mb": med(h for h, _ in retained),
        "write_amp": med(r["written_bytes"] / r["user_bytes"] for r in measured),
        "space_amp": med(r["disk_bytes"] / r["live_bytes"] for r in measured),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def tail(samples: list[float]) -> float:
    """The highest percentile with at least 10 samples beyond it; the
    largest sample when there are no more than 10."""
    s = sorted(samples)
    return s[len(s) - 11] if len(s) > 10 else s[-1]


def per_layer(records, folded, traced, cal_groups, start_s, floors, retained,
              untraced_wall, passes) -> dict:
    """Per-layer rows of the traced pass (plus the session's calibration
    jobs), folded from the event log by job group. A layer the workload
    does not call reports 0. ``p50_s`` is the median latency of one MERGE
    or pruned read in the traced pass; ``tail_s`` pools those of every
    timed pass of the run."""
    groups = set(traced["groups"]) | set(cal_groups)
    values = {n: 0.0 for n in per_layer_names()}
    for r in records:
        if r["group"] not in groups:
            continue
        layer = r["layer"]
        f = folded.get(r["group"], {})
        row = {"wall_s": r["wall_s"], "jobs": r["jobs"],
               **{m: f.get(m, 0) for m in ("tasks", "exec_run_s", "gc_s", "shuffle_mb")}}
        if r["part"] == "construct":
            row["construct_s"] = r["wall_s"]
        for m, v in row.items():
            if f"{layer}.{m}" in values:
                values[f"{layer}.{m}"] += v
        values["bench.spill_mb"] += f.get("spill_mb", 0)
    for layer, extra in traced["layer_extra"].items():
        for m, v in extra.items():
            if f"{layer}.{m}" in values:
                values[f"{layer}.{m}"] = v
    values["session.start_s"] = start_s
    values["session.job_floor_s"], values["session.shuffle_floor_s"] = floors
    values["session.retained_rdds"] = statistics.median(n for _, n in retained)
    values["bench.trace_overhead"] = traced["wall_s"] / untraced_wall
    for layer in ("txlog.merge", "txlog.read"):
        in_traced = [r["wall_s"] for r in records
                     if r["layer"] == layer and r["group"] in traced["groups"]]
        if in_traced:
            timed = {g for p in passes for g in p["groups"]}
            values[f"{layer}.p50_s"] = statistics.median(in_traced)
            values[f"{layer}.tail_s"] = tail([r["wall_s"] for r in records
                                             if r["layer"] == layer and r["group"] in timed])
    return {k: {"value": v, "unit": UNITS[k.rsplit(".", 1)[1]]} for k, v in values.items()}


def smoke() -> int:
    """Each workload once, on a small input, output checked."""
    from workloads import WORKLOADS

    work = os.path.join(os.getcwd(), ".bench_run", f"smoke-{os.getpid()}")
    spark, _ = start_session(work)
    calls = Calls(spark, CALL_TIMEOUT_S)
    try:
        for name, cls in WORKLOADS.items():
            runner = Runner(cls, 0, os.path.join(work, name), time.perf_counter())
            runner.prepare(("smoke",))
            before = calls.failed
            result = runner.one_pass(runner.workload(spark, calls, "smoke"), calls, 0,
                                     runner.expected)
            ok = result is not None and calls.failed == before
            print(f"{'ok  ' if ok else 'FAIL'} {name}: "
                  f"{result['jobs'] if result else '-'} jobs", flush=True)
        for f in calls.failures:
            print(f"  {f}", flush=True)
        return 0 if calls.failed == 0 else 1
    finally:
        calls.close()
        stop_session(spark)
        remove_work(work)


def main() -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args()
    try:
        import complex_data_pipeline_with_joins_and_multi_table_operations_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if not args.workload:
        p.error("--workload is required")
    return run_workload(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
