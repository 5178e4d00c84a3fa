"""Timed, bounded layer calls and the fold of Spark's event log.

Every call the benchmark makes into the program goes through
``Calls.run``: it runs on one worker thread under its own Spark job group,
is bounded by a timeout, and records its wall time and job count. With
tracing on, the session writes an uncompressed event log, and
``fold_event_log`` sums its task metrics per job group, so each recorded
call also gets its tasks, executor run time, GC time, shuffle bytes and
spill.
"""

from __future__ import annotations

import concurrent.futures as cf
import json
import os
import time
from collections import defaultdict


class CallFailed(Exception):
    """A layer call raised; the failure is already counted."""


class CallTimeout(Exception):
    """A layer call did not finish within its bound; the worker thread
    may still be blocked, so the run cannot go on."""


class Calls:
    def __init__(self, spark, timeout_s: float):
        self.sc = spark.sparkContext
        self.timeout_s = timeout_s
        self.pool = cf.ThreadPoolExecutor(max_workers=1, thread_name_prefix="layer-call")
        self.records: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._seq = 0

    def run(self, layer: str, fn, *args, part: str = "call", **kwargs):
        """Run ``fn`` as one operation of ``layer``; returns its result.

        A raised exception is counted as a failed operation and re-raised
        as CallFailed; a timeout cancels the call's Spark jobs and raises
        CallTimeout."""
        self._seq += 1
        group = f"{layer}#{self._seq}"
        self.attempted += 1

        def body():
            self.sc.setJobGroup(group, f"{layer} {part}", interruptOnCancel=True)
            return fn(*args, **kwargs)

        t0 = time.perf_counter()
        fut = self.pool.submit(body)
        try:
            result = fut.result(timeout=self.timeout_s)
        except cf.TimeoutError:
            self.sc.cancelJobGroup(group)
            self.fail(f"{layer}: no result after {self.timeout_s:.0f} s")
            raise CallTimeout(group) from None
        except Exception as e:
            self.fail(f"{layer}: {type(e).__name__}: {str(e)[:300]}")
            raise CallFailed(group) from e
        wall = time.perf_counter() - t0
        jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
        self.records.append(
            {"layer": layer, "part": part, "group": group, "wall_s": wall, "jobs": jobs}
        )
        return result

    def fail(self, cause: str) -> None:
        self.failed += 1
        self.failures.append(cause)

    def close(self) -> None:
        self.pool.shutdown(wait=False, cancel_futures=True)

    def rebind(self, spark) -> None:
        """Run later calls on ``spark``, a new session after ``close``;
        records, counts and group numbers carry on."""
        self.sc = spark.sparkContext
        self.pool = cf.ThreadPoolExecutor(max_workers=1, thread_name_prefix="layer-call")


def _event(line: str) -> dict:
    """One event; {} for the last line of a log still being written."""
    try:
        return json.loads(line)
    except ValueError:
        return {}


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Task metrics summed per job group from every event log file under
    ``log_dir`` (Spark 4 writes rolling logs, one directory per app):
    tasks, exec_run_s, gc_s, shuffle_mb (bytes written by shuffle map
    tasks) and spill_mb (bytes spilled to disk)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {"tasks": 0, "exec_run_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
    )
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs)
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    ev = _event(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = _event(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    row = out[group]
                    row["tasks"] += 1
                    row["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    row["shuffle_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    row["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
    return dict(out)
