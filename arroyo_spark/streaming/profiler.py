"""The engine's one streaming listener: per-epoch profile, healthcheck and
stuck watchdog.

The reference (arroyo) has three operational utilities, each its own piece
of code:

- the profiler (``arroyo/utils/profiler.py:16-58``) wraps a strategy in
  cProfile and dumps the stats on close;
- the Healthcheck strategy (``arroyo/processing/strategies/
  healthcheck.py:11-55``) touches a file on every poll(), debounced to 1/s;
- the stuck detector (``arroyo/utils/stuck_detector.py:1-58``,
  ``arroyo/processing/processor.py:370-392``) watches the main loop's last
  activity and, past a timeout, dumps every thread's stack and increments
  ``arroyo.consumer.stuck``.

In this engine the per-message work runs on executors, so a driver-side
cProfile would profile nothing but Py4J waits, and the main loop is Spark's
micro-batch runner. All three read the same signal, the query's listener
events, so one ``StreamingQueryListener`` serves them:

- every event is activity: it records the query's last-event time for the
  watchdog and touches the healthcheck file (debounced to
  ``HEALTHCHECK_DEBOUNCE_S``). A healthy query emits progress (batch done)
  or idle (no data) events; a wedged micro-batch emits nothing.
- every progress event appends one JSON line to ``<dump_dir>/<query>.jsonl``:
  the ``durationMs`` phases, rows, the event-time watermark, per state
  operator its rows, memory, commit time and watermark drops, and the
  ``observe()`` metrics. Nothing is held in memory, so a 24/7 stream does not
  grow the listener, and a killed driver keeps every epoch written so far.
- termination appends one closing line with the exception and the per-stage
  task-time snapshot (``stage_metrics``) from the JVM ``AppStatusStore``,
  the store the Spark UI reads, available headless.
"""

from __future__ import annotations

import faulthandler
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

HEALTHCHECK_DEBOUNCE_S = 1.0  # the reference Healthcheck's touch interval
STUCK_POLL_S = 1.0  # how often the watchdog thread checks for silence


def stage_metrics(spark) -> list[dict]:
    """Per-stage task-time snapshot from the JVM AppStatusStore.

    Works with the UI disabled: the status store is populated regardless —
    this is ``/api/v1/.../stages`` without an HTTP server. Fields are the
    totals across the stage's tasks; executor_run_time_ms is the "task
    time" column of the UI's stage table.
    """
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    out = []
    for i in range(stages.size()):
        s = stages.apply(i)
        out.append(
            {
                "stage_id": s.stageId(),
                "attempt": s.attemptId(),
                "status": str(s.status()),
                "name": s.name(),
                "num_tasks": s.numTasks(),
                "num_complete_tasks": s.numCompleteTasks(),
                "num_failed_tasks": s.numFailedTasks(),
                "executor_run_time_ms": s.executorRunTime(),
                "executor_cpu_time_ms": s.executorCpuTime() // 1_000_000,
                "input_bytes": s.inputBytes(),
                "input_records": s.inputRecords(),
                "output_bytes": s.outputBytes(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "memory_spilled_bytes": s.memoryBytesSpilled(),
                "disk_spilled_bytes": s.diskBytesSpilled(),
            }
        )
    return out


def _epoch_record(p: dict) -> dict:
    return {
        "run_id": p.get("runId"),
        "batch_id": p.get("batchId"),
        "timestamp": p.get("timestamp"),
        "num_input_rows": p.get("numInputRows"),
        "duration_ms": p.get("durationMs", {}),
        "watermark": p.get("eventTime", {}).get("watermark"),
        "state_operators": [
            {
                "operator": so.get("operatorName"),
                "rows_total": so.get("numRowsTotal"),
                "rows_updated": so.get("numRowsUpdated"),
                "rows_dropped_by_watermark": so.get("numRowsDroppedByWatermark"),
                "commit_time_ms": so.get("commitTimeMs"),
                "memory_used_bytes": so.get("memoryUsedBytes"),
            }
            for so in p.get("stateOperators", [])
        ],
        "observed_metrics": p.get("observedMetrics", {}),
    }


class QueryProfiler(StreamingQueryListener):
    """Session-scoped listener; the caller attaches and closes it::

        prof = QueryProfiler(dump_dir, spark=spark, healthcheck_file=hc,
                             stuck_timeout_s=300)
        spark.streams.addListener(prof)
        ...
        spark.streams.removeListener(prof)  # or stop the session
        prof.close()

    ``spark`` (optional) adds the ``stage_metrics`` snapshot to the closing
    line; stage totals are session-wide, which for a single query is the
    query's own work. ``healthcheck_file`` (optional) is touched on every
    event, at most once per ``HEALTHCHECK_DEBOUNCE_S``. ``stuck_timeout_s``
    (optional) starts a daemon watchdog: a query silent for longer is
    flagged once until its next event, its Python thread stacks are
    appended to ``<dump_dir>/<query>.stuck`` and ``n_stuck_detected`` (the
    ``arroyo.consumer.stuck`` counter) goes up. ``clock`` is injectable so
    the debounce and staleness logic is testable without sleeps.
    """

    def __init__(
        self,
        dump_dir: str,
        spark=None,
        healthcheck_file: str | None = None,
        stuck_timeout_s: float | None = None,
        clock=time.time,
    ) -> None:
        self.dump_dir = dump_dir
        self.spark = spark
        self.healthcheck_file = healthcheck_file
        self.stuck_timeout_s = stuck_timeout_s
        self.clock = clock
        self.n_stuck_detected = 0
        os.makedirs(dump_dir, exist_ok=True)
        self._names: dict[str, str] = {}  # query id -> file stem
        self._last_event: dict[str, float] = {}  # query id -> last activity
        self._stuck: set[str] = set()
        self._last_touch = float("-inf")
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = None
        if stuck_timeout_s is not None:
            self._thread = threading.Thread(target=self._watch, daemon=True, name="stuck-detector")
            self._thread.start()

    # -- listener events: every one is activity ----------------------------
    def _activity(self, qid: str) -> None:
        now = self.clock()
        with self._lock:
            self._last_event[qid] = now
            self._stuck.discard(qid)  # recovered (the .stuck file stays as evidence)
        if self.healthcheck_file and now - self._last_touch >= HEALTHCHECK_DEBOUNCE_S:
            self._last_touch = now
            with open(self.healthcheck_file, "a"):
                os.utime(self.healthcheck_file, None)

    def onQueryStarted(self, event) -> None:
        qid = str(event.id)
        self._names[qid] = event.name or qid
        self._activity(qid)

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        qid = str(p["id"])
        self._names.setdefault(qid, p.get("name") or qid)
        self._activity(qid)
        self._append(qid, _epoch_record(p))

    def onQueryIdle(self, event) -> None:
        self._activity(str(event.id))

    def onQueryTerminated(self, event) -> None:
        qid = str(event.id)
        with self._lock:
            self._last_event.pop(qid, None)
            self._stuck.discard(qid)
        rec = {"run_id": str(event.runId), "terminated_at": self.clock(), "exception": event.exception}
        if self.spark is not None:
            try:
                rec["stages"] = stage_metrics(self.spark)
            except Exception as e:  # noqa: BLE001 — profiling must not kill the app
                rec["stages_error"] = repr(e)
        self._append(qid, rec)
        self._names.pop(qid, None)

    def _path(self, qid: str, suffix: str) -> str:
        return os.path.join(self.dump_dir, self._names.get(qid, qid) + suffix)

    def _append(self, qid: str, rec: dict) -> None:
        with open(self._path(qid, ".jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")

    # -- watchdog -----------------------------------------------------------
    def check(self) -> list[str]:
        """Flag queries silent past the timeout; returns the newly stuck
        query ids (each dumps stacks once until it recovers)."""
        now = self.clock()
        with self._lock:  # held through the dump: a flagged query's stacks are on disk
            newly = [
                qid
                for qid, last in self._last_event.items()
                if now - last > self.stuck_timeout_s and qid not in self._stuck
            ]
            self._stuck.update(newly)
            self.n_stuck_detected += len(newly)
            for qid in newly:
                with open(self._path(qid, ".stuck"), "a") as f:
                    f.write(
                        f"=== stuck query {qid}: no listener event for > "
                        f"{self.stuck_timeout_s}s (now={now}) ===\n"
                    )
                    f.flush()
                    faulthandler.dump_traceback(f, all_threads=True)
        return newly

    def is_stuck(self) -> bool:
        with self._lock:
            return bool(self._stuck)

    def _watch(self) -> None:
        while not self._stop.wait(STUCK_POLL_S):
            self.check()

    def close(self) -> None:
        """Stop the watchdog thread (the listener itself holds no buffer)."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
