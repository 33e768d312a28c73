"""StreamProcessor — the driver loop, Spark-first.

Reference (/root/reference/arroyo/processing/processor.py): a poll/submit
loop with backpressure pause/resume, rebalance-driven strategy recreation,
and staged->committed offsets. Spark mapping (SURVEY.md §3.1):

- run()                  -> writeStream.foreachBatch(sink).start() + await
- pause/resume/rebalance -> checkpoint stop/restart (the committed row set
                            must be identical across restarts — tested)
- backpressure           -> source admission (maxFilesPerTrigger /
                            maxOffsetsPerTrigger), not exceptions
- commit policy          -> trigger interval (time-based) — each epoch
                            commits exactly once in the ledger

``FileStreamSource`` gives deterministic epoch slicing for tests and the
sandbox: one parquet file per micro-batch stands in for a broker/Iceberg
offset range. On a real cluster the same processor runs over
``spark.readStream.format("iceberg"|"kafka")`` unchanged.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from arroyo_spark.streaming.commit import CommitPolicy
from arroyo_spark.streaming.sink import ExactlyOnceSink


@dataclass
class FileStreamSource:
    """Parquet-directory stream with bounded admission (backpressure knob)."""

    path: str
    schema: T.StructType
    max_files_per_trigger: int = 1

    def __call__(self, spark: SparkSession) -> DataFrame:
        return (
            spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", self.max_files_per_trigger)
            .parquet(self.path)
        )


@dataclass
class StreamProcessor:
    """Run a pipeline over a stream with an exactly-once sink.

    ``pipeline`` (optional) is applied to the STREAMING DataFrame — use for
    watermarked windowed aggs / stateful ops whose state lives in the
    checkpoint. ``sink.transform`` is applied per epoch INSIDE foreachBatch
    — use for per-batch (arroyo-Reduce-style) semantics and relational ops.
    """

    spark: SparkSession
    source: Callable[[SparkSession], DataFrame]
    sink: ExactlyOnceSink
    checkpoint_dir: str
    pipeline: Callable[[DataFrame], DataFrame] | None = None
    trigger: dict | None = None
    # append: sink.read_output unions committed epoch dirs, so each group key
    # must be emitted exactly once (update mode would re-emit live windows
    # every epoch and read_output would return stale duplicates)
    output_mode: str = "append"
    query_name: str = "arroyo_spark"
    commit_policy: CommitPolicy | None = None
    # stuck watchdog (reference: StreamProcessor(stuck_detector_timeout=...)
    # at arroyo/processing/processor.py:145,370): a wedged micro-batch emits
    # no listener events — after stuck_timeout_s of silence, thread stacks
    # are dumped to stuck_file and arroyo.consumer.stuck increments
    stuck_timeout_s: float | None = None
    stuck_file: str | None = None
    _query: object = field(default=None, repr=False)
    _stuck_detector: object = field(default=None, repr=False)

    def _resolve_trigger(self) -> dict:
        if self.trigger is not None:
            return self.trigger
        interval = (
            self.commit_policy.trigger_interval() if self.commit_policy is not None else None
        )
        # a frequency policy maps to a processing-time trigger (epochs —
        # hence ledger commits — happen at most once per interval);
        # otherwise drain everything available and stop
        return {"processingTime": interval} if interval else {"availableNow": True}

    def start(self, drain: bool = False):
        df = self.source(self.spark)
        if self.pipeline is not None:
            df = self.pipeline(df)
        if self.commit_policy is not None and self.sink.commit_policy is None:
            # the policy throttles offset-commit cadence: wire the same
            # policy into the sink's flush state machine
            self.sink.set_commit_policy(self.commit_policy)
        writer = (
            df.writeStream.queryName(self.query_name)
            .foreachBatch(self.sink)
            .outputMode(self.output_mode)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        trigger = self._resolve_trigger()
        if drain and "processingTime" in trigger:
            # run_until_complete must terminate: a processingTime trigger
            # (explicit or derived from a frequency commit_policy) never
            # does — awaitTermination() would hang forever. Drain instead;
            # the commit-policy flush state machine still throttles by its
            # own clock inside the sink.
            trigger = {"availableNow": True}
        writer = writer.trigger(**trigger)
        # a second start() without stop() must not orphan a previous
        # detector's thread/listener on the shared session (ADVICE r3)
        self._teardown_stuck_detector()
        if self.stuck_timeout_s is not None:
            from arroyo_spark.streaming.stuck import StuckDetector

            if self.stuck_file is None:
                raise ValueError("stuck_timeout_s requires stuck_file")
            self._stuck_detector = StuckDetector(self.stuck_timeout_s, self.stuck_file)
            self.spark.streams.addListener(self._stuck_detector)
            self._stuck_detector.start()
        try:
            self._query = writer.start()
        except Exception:
            # bad options / checkpoint conflict: don't leave the detector
            # thread + listener attached to the shared SparkSession
            self._teardown_stuck_detector()
            raise
        return self._query

    def _teardown_stuck_detector(self) -> None:
        if self._stuck_detector is not None:
            self._stuck_detector.stop()
            try:
                self.spark.streams.removeListener(self._stuck_detector)
            except Exception:  # noqa: BLE001 — listener already gone
                pass
            self._stuck_detector = None

    def run_until_complete(self, timeout: float | None = None) -> None:
        """Process everything currently available, then stop (join()).

        Always uses a draining trigger: a processingTime trigger (from an
        explicit ``trigger`` or a frequency-based ``commit_policy``) is
        replaced by availableNow so awaitTermination() returns.
        """
        q = self.start(drain=True)
        try:
            q.awaitTermination(timeout) if timeout else q.awaitTermination()
        finally:
            if q.isActive:
                q.stop()
            self._teardown_stuck_detector()

    def stop(self) -> None:
        if self._query is not None and self._query.isActive:
            self._query.stop()
        self._teardown_stuck_detector()
