"""Op spans, module probes and the Spark event-log reader.

`OpClock` times every foreground op of a workload's closed loop; with
tracing on it also tags the op's Spark jobs with a job group
"<workload>:<op>". `Probes` wraps public library functions with counting
timers (traced runs only) and restores them afterwards. `read_event_log`
parses Spark's uncompressed JSON event log with the stdlib and
`op_layers` turns jobs, stages and tasks into one row per op.

Spans stay in memory; nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# ops whose layer rows are per-layer metrics, in the order they are listed;
# other spans (hybrid_seed, threshold_push) keep their rows in the run record
OPS = [
    "get", "batch_get", "compute", "agg", "push", "incr_push", "compact",
    "rt_flush", "hybrid_serve", "aa_seed", "aa_serve", "corpus", "vector_join",
]
OP_FIELDS = ["jobs", "tasks", "driver_ms", "exec_cpu_ms", "pyworker_ms", "gc_ms", "shuffle_mb"]


@dataclass
class Span:
    op: str
    start: float  # epoch seconds
    end: float
    ok: bool = True

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class OpClock:
    """Closed-loop op timer. `with clock.op("get"):` records one span."""

    def __init__(self, spark, workload: str, tag_jobs: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.tag_jobs = tag_jobs
        self.spans: list[Span] = []

    @contextmanager
    def op(self, name: str):
        if self.tag_jobs:
            self.sc.setJobGroup(f"{self.workload}:{name}", name)
        span = Span(name, time.time(), 0.0)
        t0 = time.perf_counter()
        try:
            yield span
        except BaseException:
            span.ok = False
            raise
        finally:
            span.end = span.start + (time.perf_counter() - t0)
            self.spans.append(span)
            if self.tag_jobs:
                self.sc.setJobGroup(f"{self.workload}:idle", "idle")

    def walls(self, name: str) -> list[float]:
        return [s.ms for s in self.spans if s.op == name and s.ok]

    def ops(self) -> list[str]:
        return sorted({s.op for s in self.spans if s.ok})


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ probes
class _Stat:
    __slots__ = ("calls", "seconds", "depth")

    def __init__(self):
        self.calls = 0
        self.seconds = 0.0  # outermost calls only: nested calls are not re-counted
        self.depth = 0


class Probes:
    """Counting timers around public library functions, installed for a
    traced run and removed by `close()`."""

    def __init__(self):
        self.stats: dict[str, _Stat] = {}
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, layer: str) -> None:
        orig = owner.__dict__[attr]
        stat = self.stats.setdefault(layer, _Stat())

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            stat.calls += 1
            stat.depth += 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                stat.depth -= 1
                if stat.depth == 0:
                    stat.seconds += time.perf_counter() - t0

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, orig))

    def snapshot(self) -> dict[str, tuple[int, float]]:
        return {k: (s.calls, s.seconds) for k, s in self.stats.items()}

    def close(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()


def install_library_probes(probes: Probes) -> None:
    """The module boundaries the per-layer metrics name."""
    from venice_spark import partitioner
    from venice_spark.catalog import StoreCatalog
    from venice_spark.engine import StoreHandle
    from venice_spark.streaming.hybrid import HybridReplay

    for m in (
        "get_store", "current_version", "get_key_fields", "list_delta_dirs",
        "read_current", "read_version", "version_manifest", "version_dir",
        "store_dir", "deltas_dir", "update_log_dir", "get_value_schema",
    ):
        probes.wrap(StoreCatalog, m, "catalog")
    probes.wrap(partitioner, "partition_id_py", "partitioner")
    probes.wrap(StoreHandle, "df", "engine.df")
    probes.wrap(HybridReplay, "compact", "hybrid.compact")


# ---------------------------------------------------------------- event log
@dataclass
class Job:
    start_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: int = 0
    python: bool = False


_PY_SCOPES = ("Python", "Pandas", "Arrow")


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, StageTotals]]:
    """Parse every uncompressed event log in `log_dir` (one per app)."""
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], StageTotals())
                    tm = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.run_ms += tm.get("Executor Run Time", 0)
                    st.cpu_ms += tm.get("Executor CPU Time", 0) / 1e6
                    st.gc_ms += tm.get("JVM GC Time", 0)
                    st.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], StageTotals())
                    scopes = " ".join(
                        str(r.get("Scope", "")) + r.get("Name", "") for r in info.get("RDD Info", [])
                    )
                    st.python = st.python or any(s in scopes for s in _PY_SCOPES)
                elif kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(ev["Submission Time"], stages=list(ev.get("Stage IDs", [])))
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
    return jobs, stages


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_layers(spans: list[Span], jobs: dict[int, Job], stages: dict[int, StageTotals]) -> tuple[dict, float]:
    """Per op name: mean per call of jobs, tasks, driver floor, executor CPU,
    Python-worker residual, GC and shuffle MB; plus the worst reconcile error.

    A job belongs to the op whose span holds its submission time: the client
    is a single closed loop, so no two ops overlap. driver_ms is span wall
    minus the union of the op's job spans clipped to the op; the reconcile
    error is how far driver_ms + unclipped job span misses the wall."""
    ordered = sorted(jobs.values(), key=lambda j: j.start_ms)
    rows: dict[str, dict[str, float]] = {}
    counted: set[int] = set()  # a reused shuffle stage is listed by later jobs too
    worst = 0.0
    for sp in spans:
        lo, hi = sp.start * 1000.0, sp.end * 1000.0
        mine = [j for j in ordered if lo - 1 <= j.start_ms <= hi + 1]
        spans_ms = [(j.start_ms, max(j.end_ms, j.start_ms)) for j in mine]
        clipped = _union_ms([(max(s, lo), min(e, hi)) for s, e in spans_ms if min(e, hi) > max(s, lo)])
        driver = max(0.0, sp.ms - clipped)
        if sp.ms > 0:
            worst = max(worst, abs(driver + _union_ms(spans_ms) - sp.ms) / sp.ms)
        row = rows.setdefault(sp.op, {f: 0.0 for f in OP_FIELDS} | {"calls": 0})
        row["calls"] += 1
        row["jobs"] += len(mine)
        row["driver_ms"] += driver
        for j in mine:
            for sid in j.stages:
                st = stages.get(sid)
                if st is None or sid in counted:
                    continue
                counted.add(sid)
                row["tasks"] += st.tasks
                row["exec_cpu_ms"] += st.cpu_ms
                row["gc_ms"] += st.gc_ms
                row["shuffle_mb"] += st.shuffle_bytes / 1e6
                if st.python:
                    row["pyworker_ms"] += max(0.0, st.run_ms - st.cpu_ms)
    for row in rows.values():
        n = row.pop("calls")
        for f in OP_FIELDS:
            row[f] /= n
    return rows, worst * 100.0
