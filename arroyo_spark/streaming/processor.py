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

import contextlib
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from arroyo_spark.streaming.commit import CommitPolicy
from arroyo_spark.streaming.sink import ExactlyOnceSink

# a checkpoint manager's temp file: ".<final name>.<uuid>.tmp"
_CHECKPOINT_TMP = re.compile(r"\.(.+)\.[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}\.tmp")


def _sweep_refused_renames(checkpoint_dir: str) -> None:
    """Delete checkpoint temp files whose final file exists, with their
    Hadoop ``.crc``.

    A replayed epoch rewrites its state deltas with
    ``createAtomic(overwriteIfPossible=True)``; the local ``file`` scheme
    refuses the rename onto the existing file, Spark keeps that file and
    never deletes the temp. Sweeping at start bounds the leftovers to the
    latest replay. A temp whose final file is missing is left alone. Paths
    that are not local directories are not walked.
    """
    for root, _, files in os.walk(checkpoint_dir):
        names = set(files)
        for f in files:
            m = _CHECKPOINT_TMP.fullmatch(f)
            if m and m.group(1) in names:
                for leftover in (f, f".{f}.crc"):
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(os.path.join(root, leftover))


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
    _query: object = field(default=None, repr=False)

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
        _sweep_refused_renames(self.checkpoint_dir)
        self._query = writer.start()
        return self._query

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

    def stop(self) -> None:
        if self._query is not None and self._query.isActive:
            self._query.stop()
