"""Measurement helpers for the streaming benchmark.

- ``ProcTree`` samples the benchmark's process tree (this Python process,
  the JVM, the Python workers) from ``/proc``: peak RSS and Python-worker
  CPU seconds.
- ``Tracer`` keeps spans in memory and writes them out at the end. Spans
  are recorded in the benchmark's own files, around calls into the
  engine's public classes (``TracedSink`` / ``TracedLedger``), and from
  Spark's ``StreamingQueryProgress.durationMs`` phases.
- ``progress_layers`` / ``exec_layers`` turn progress records and stage
  snapshots into the per-layer metrics.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

from arroyo_spark.streaming import ExactlyOnceSink, OffsetsLedger

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile (``q`` in (0, 1])."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[min(len(xs), max(1, math.ceil(q * len(xs)))) - 1])


# -- process tree -----------------------------------------------------------
def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields resume after the closing parenthesis
    return raw[raw.rindex(")") + 2:].split()


def _comm(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _is_pyworker(pid: str) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class ProcTree:
    """Background sampler over this process and all its descendants."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.root = str(os.getpid())
        self.interval_s = interval_s
        self.peak_rss_bytes = 0
        self.pids_seen: set[str] = set()
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="perfbench-proctree", daemon=True)

    def descendants(self) -> dict[str, list[str]]:
        """pid -> stat fields (after comm) for the root and its descendants."""
        stats, children = {}, {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                st = _stat(pid)
                if st is not None:
                    stats[pid] = st
                    children.setdefault(st[1], []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
                todo.extend(children.get(pid, ()))
        return out

    def sample(self) -> dict[str, list[str]]:
        procs = self.descendants()
        pids = self._memory_pids(procs)
        rss = sum(int(procs[p][21]) for p in pids) * _PAGE
        with self._lock:
            self.peak_rss_bytes = max(self.peak_rss_bytes, rss)
            self.pids_seen.update(pids)
        return procs

    def _memory_pids(self, procs: dict[str, list[str]]) -> list[str]:
        """This Python process, the JVM it launched and the Python workers.
        Other descendants are helpers the JVM spawns for a moment; until they
        exec they share the JVM's memory, so their RSS would count it twice."""
        out = [self.root]
        for pid, st in procs.items():
            if pid == self.root:
                continue
            if (st[1] == self.root and _comm(pid) == "java") or _is_pyworker(pid):
                out.append(pid)
        return out

    def pyworker_cpu_s(self) -> float:
        """CPU seconds of the pyspark daemon (including its reaped forked
        workers) plus its live workers."""
        procs = self.sample()
        workers = {p for p in procs if _is_pyworker(p)}
        ticks = 0
        for p in workers:
            st = procs[p]
            utime, stime, cutime, cstime = (int(x) for x in st[11:15])
            is_daemon = st[1] not in workers
            ticks += utime + stime + ((cutime + cstime) if is_daemon else 0)
        return ticks / _TICK

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def wait_exited(self, timeout_s: float = 60.0) -> bool:
        """Wait until the JVM and every Python worker seen have ended."""
        others = self.pids_seen - {self.root}
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            if all((_stat(p) or ["Z"])[0] == "Z" for p in others):
                return True
            time.sleep(0.1)
        return False


# -- spans ------------------------------------------------------------------
class Tracer:
    """In-memory spans: name, start, end, parent span, and a trace id shared
    by every span of one epoch (the batch id) or one set-up phase."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float, trace, parent: int | None = None, **attrs) -> dict:
        with self._lock:
            span = {"id": len(self.spans), "name": name, "trace": trace,
                    "parent": parent, "start": start, "end": end, **attrs}
            self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, trace):
        """Record a span around the block, nested in the thread's open span."""
        stack = self._local.__dict__.setdefault("stack", [])
        span = self.add(name, time.time(), None, trace, stack[-1]["id"] if stack else None)
        stack.append(span)
        try:
            yield span
        finally:
            span["end"] = time.time()
            stack.pop()

    def add_epoch(self, query: str, progress: dict, sink_spans: dict[int, list[dict]]) -> None:
        """An epoch span from one ``StreamingQueryProgress`` with a child per
        ``durationMs`` phase. Spark reports phase durations, not their start
        times, so the children are laid out in MicroBatchExecution's order;
        the recorded sink spans of the epoch are re-parented under addBatch."""
        dur = progress.get("durationMs") or {}
        start = _iso_s(progress["timestamp"])
        trace = f"{query}/{progress['batchId']}"
        epoch = self.add("epoch", start, start + dur.get("triggerExecution", 0) / 1e3,
                          trace, None, rows=progress.get("numInputRows", 0))
        t = start
        for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
            if phase in dur:
                child = self.add(phase, t, t + dur[phase] / 1e3, trace, epoch["id"])
                if phase == "addBatch":
                    spans = sink_spans.get(progress["batchId"], [])
                    for s in spans:
                        s["trace"] = trace
                    if spans:
                        spans[0]["parent"] = child["id"]
                t = child["end"]

    def _named(self, name: str, traces: set | None) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and (traces is None or s["trace"] in traces)]

    def duration_ms(self, name: str, traces: set | None = None) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self._named(name, traces)]

    def self_ms(self, name: str, traces: set | None = None) -> list[float]:
        """Self time of every span called ``name`` (within ``traces``): its
        duration minus the part its children cover."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + (s["end"] - s["start"])
        return [max(0.0, (s["end"] - s["start"]) - kids.get(s["id"], 0.0)) * 1e3
                for s in self._named(name, traces)]

    def dump(self, path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        tmp = path.with_name(path.name + ".tmp")
        tmp.write_text(json.dumps(self.spans))
        os.replace(tmp, path)


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# -- traced engine classes ---------------------------------------------------
@dataclass
class TracedLedger(OffsetsLedger):
    """``OffsetsLedger`` whose ``commit`` is recorded as a span."""

    tracer: Tracer | None = None

    def commit(self, epoch_id, next_offsets, metrics=None) -> None:
        with self.tracer.span("ledger.commit", epoch_id):
            super().commit(epoch_id, next_offsets, metrics)


@dataclass
class TracedSink(ExactlyOnceSink):
    """``ExactlyOnceSink`` whose call is recorded as a span and whose Spark
    jobs are counted through a job group set around the call."""

    tracer: Tracer | None = None
    jobs: dict = field(default_factory=dict)
    spans: dict = field(default_factory=dict)

    def __call__(self, batch_df, epoch_id) -> None:
        sc = batch_df.sparkSession.sparkContext
        group = f"perfbench-sink-{id(self)}-{epoch_id}"
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            with self.tracer.span("sink.call", epoch_id) as span:
                super().__call__(batch_df, epoch_id)
        finally:
            # the stream's own job group (its run id) must come back: stop()
            # cancels the query's jobs through it
            sc.setLocalProperty("spark.jobGroup.id", prev)
        self.spans[epoch_id] = [span] + [
            s for s in self.tracer.spans if s["parent"] == span["id"]
        ]
        self.jobs[epoch_id] = len(sc.statusTracker().getJobIdsForGroup(group))


# -- per-layer metrics --------------------------------------------------------
_PHASES = {
    "source.latest_offset_ms_p50": "latestOffset",
    "source.get_batch_ms_p50": "getBatch",
    "plan.query_planning_ms_p50": "queryPlanning",
    "processor.wal_commit_ms_p50": "walCommit",
    "processor.commit_offsets_ms_p50": "commitOffsets",
}


def progress_layers(progress: list[dict]) -> dict[str, float]:
    """Processor, source, planning and state-store metrics from the
    ``StreamingQueryProgress`` records of the measured queries."""
    dur = [p.get("durationMs") or {} for p in progress]
    out = {
        "processor.trigger_ms_p50": median(d.get("triggerExecution", 0) for d in dur),
        "processor.serial_ms_p50": median(
            d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur
        ),
        "processor.epochs": float(len(progress)),
        "processor.turns_per_epoch": median(
            p["numInputRows"] for p in progress if p["numInputRows"]
        ),
    }
    for name, phase in _PHASES.items():
        out[name] = median(d.get(phase, 0) for d in dur)
    agg = [so for p in progress for so in p.get("stateOperators", [])
           if so.get("operatorName") != "applyInPandasWithState"]
    cep = [so for p in progress for so in p.get("stateOperators", [])
           if so.get("operatorName") == "applyInPandasWithState"]
    out.update({
        "state.commit_ms_p50": median(so.get("commitTimeMs", 0) for so in agg),
        "state.rows_max": float(max((so.get("numRowsTotal", 0) for so in agg), default=0)),
        "state.memory_mb_max": max((so.get("memoryUsedBytes", 0) for so in agg), default=0) / 2**20,
        "state.rows_dropped_by_watermark": float(
            sum(so.get("numRowsDroppedByWatermark", 0) for so in agg + cep)
        ),
        "cep.state_commit_ms_p50": median(so.get("commitTimeMs", 0) for so in cep),
        "cep.state_rows_max": float(max((so.get("numRowsTotal", 0) for so in cep), default=0)),
    })
    return out


def stage_ids(spark) -> set[int]:
    from arroyo_spark.streaming.profiler import stage_metrics

    return {s["stage_id"] for s in stage_metrics(spark)}


def exec_layers(spark, before: set[int], turns: int) -> dict[str, float]:
    """Task time, shuffle and spill of the stages run since ``before``."""
    from arroyo_spark.streaming.profiler import stage_metrics

    new = [s for s in stage_metrics(spark) if s["stage_id"] not in before]
    cpu_s = sum(s["executor_cpu_time_ms"] for s in new) / 1e3
    return {
        "exec.task_cpu_s": cpu_s,
        "exec.task_run_s": sum(s["executor_run_time_ms"] for s in new) / 1e3,
        "exec.cpu_us_per_turn": cpu_s * 1e6 / max(turns, 1),
        "exec.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in new) / 2**20,
        "exec.shuffle_read_mb": sum(s["shuffle_read_bytes"] for s in new) / 2**20,
        "exec.spill_mb": sum(s["memory_spilled_bytes"] + s["disk_spilled_bytes"] for s in new) / 2**20,
        "exec.tasks": float(sum(s["num_complete_tasks"] for s in new)),
        "exec.failed_tasks": float(sum(s["num_failed_tasks"] for s in new)),
    }
