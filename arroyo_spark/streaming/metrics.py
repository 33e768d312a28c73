"""Metrics vocabulary — the full reference inventory, mapped Spark-first.

The reference declares its complete metric vocabulary in
/root/reference/arroyo/utils/metric_defs.py:3-159. This module is the
engine's equivalent contract: every reference name, with where the same
signal lives in this engine. Three classes:

- EMITTED: recorded per epoch into the offsets ledger by ExactlyOnceSink
  (queryable via OffsetsLedger.metrics_df).
- ENGINE: the signal exists natively in Spark's instrumentation
  (StreamingQueryProgress / task metrics) — re-emitting it would duplicate
  the engine; the mapping documents where to look.
- N/A: mechanics Spark subsumes by design (librdkafka internals,
  multiprocessing pool shared-memory block management) — there is no
  equivalent signal because the mechanism doesn't exist here.

The ENGINE-class signals of a running query are written per epoch by the
one streaming listener, ``profiler.QueryProfiler``, to
``<dump_dir>/<query>.jsonl``; ``jobs.py stream`` writes them by default.
"""

from __future__ import annotations

EMITTED = "emitted"  # written to the ledger per epoch by the sink
ENGINE = "engine"  # native Spark instrumentation (StreamingQueryProgress)
NA = "n/a"  # mechanism subsumed by Spark; no equivalent signal

# name -> (class, where / why)
METRIC_MAP: dict[str, tuple[str, str]] = {
    # -- consumer loop ------------------------------------------------------
    "arroyo.consumer.run.count": (EMITTED, "rows processed per epoch (sink)"),
    "arroyo.consumer.processing.time": (EMITTED, "epoch wall time inside foreachBatch (sink)"),
    "arroyo.consumer.latency": (EMITTED, "now - max event ts per epoch (sink)"),
    "arroyo.consumer.invalid_message.count": (EMITTED, "DLQ-routed rows per epoch (sink)"),
    "arroyo.consumer.commit.count": (EMITTED, "CommitPolicy flushes (sink, policy-gated)"),
    "arroyo.consumer.poll.time": (ENGINE, "progress.durationMs['triggerExecution'] - addBatch"),
    "arroyo.consumer.callback.time": (ENGINE, "progress.durationMs['addBatch']"),
    "arroyo.consumer.backpressure.time": (
        ENGINE,
        "admission control (maxFilesPerTrigger/maxOffsetsPerTrigger) replaces "
        "MessageRejected; pressure shows as inputRowsPerSecond < processedRowsPerSecond",
    ),
    "arroyo.consumer.join.time": (ENGINE, "availableNow drain: query.awaitTermination wall"),
    "arroyo.consumer.shutdown.time": (ENGINE, "query.stop() wall"),
    "arroyo.consumer.commit_status": (EMITTED, "ledger commit success implies 1 (atomic rename)"),
    "arroyo.consumer.pause": (ENGINE, "no explicit pause; trigger gap = idle time"),
    "arroyo.consumer.resume": (ENGINE, "see pause"),
    "arroyo.consumer.stuck": (
        EMITTED,
        "profiler.QueryProfiler(stuck_timeout_s=): listener-event gap > timeout -> "
        "stack dump to <dump_dir>/<query>.stuck + n_stuck_detected",
    ),
    "arroyo.consumer.partitions_assigned.count": (
        ENGINE,
        "rebalance is engine-owned: progress.sources[*].{start,end}Offset ranges",
    ),
    "arroyo.consumer.partitions_revoked.count": (ENGINE, "see partitions_assigned"),
    "arroyo.consumer.run.callback": (ENGINE, "StreamingQueryListener onQueryProgress"),
    "arroyo.consumer.run.create_strategy": (ENGINE, "plan (re)build: query start"),
    "arroyo.consumer.run.close_strategy": (ENGINE, "query stop / restart"),
    "arroyo.consumer.librdkafka.total_queue_size": (NA, "no client-side queue; source pulls"),
    # -- DLQ ----------------------------------------------------------------
    "arroyo.consumer.dlq.time": (EMITTED, "inside processing.time; dlq write precedes commit"),
    "arroyo.consumer.dlq.dropped_messages": (EMITTED, "DlqLimitExceeded fail-stop (epoch fails)"),
    "arroyo.consumer.dlq_buffer.assigned_partitions": (NA, "no driver-side buffer of originals"),
    "arroyo.consumer.dlq_buffer.exceeded": (NA, "originals re-read from the source, not buffered"),
    "arroyo.consumer.dlq_buffer.len": (NA, "see dlq_buffer.exceeded"),
    # -- healthcheck ---------------------------------------------------------
    "arroyo.processing.strategies.healthcheck.touch": (
        EMITTED,
        "profiler.QueryProfiler(healthcheck_file=) mtime, touched per listener event (1/s)",
    ),
    # -- producer (Produce step) ---------------------------------------------
    "arroyo.producer.produce_status": (EMITTED, "epoch data write success precedes ledger commit"),
    "arroyo.producer.callback_latency": (ENGINE, "sink write task metrics"),
    "arroyo.producer.worker.poll": (NA, "no background producer thread"),
    "arroyo.producer.librdkafka.message_count": (NA, "librdkafka internals"),
    "arroyo.producer.librdkafka.message_count_max": (NA, "librdkafka internals"),
    "arroyo.producer.librdkafka.message_size": (NA, "librdkafka internals"),
    "arroyo.producer.librdkafka.message_size_max": (NA, "librdkafka internals"),
    "arroyo.producer.librdkafka.reply_queue_size": (NA, "librdkafka internals"),
    "arroyo.producer.librdkafka.broker_txerrs": (NA, "librdkafka internals"),
    "arroyo.producer.librdkafka.broker_txretries": (NA, "librdkafka internals"),
    "arroyo.producer.librdkafka.p99_int_latency": (NA, "librdkafka internals"),
    "arroyo.producer.librdkafka.p99_outbuf_latency": (NA, "librdkafka internals"),
    "arroyo.producer.librdkafka.p99_rtt": (NA, "librdkafka internals"),
    # -- strategy internals ---------------------------------------------------
    "arroyo.strategies.filter.dropped_messages": (EMITTED, "run.count delta across filter stages"),
    "arroyo.strategies.reduce.batch_time": (ENGINE, "stateful operator time in progress"),
    "arroyo.strategies.buffer.join.backpressure": (NA, "pull scheduling; no submit blocking"),
    "arroyo.strategies.run_task.join.backpressure": (NA, "pull scheduling; no submit blocking"),
    # RunTaskWithMultiprocessing block mechanics: Arrow batches replace the
    # pickle5+SharedMemory blocks wholesale — sizes are engine-tuned by
    # spark.sql.execution.arrow.maxRecordsPerBatch, never overflow/resize.
    "arroyo.strategies.run_task_with_multiprocessing.batch.backpressure": (NA, "Arrow streaming"),
    "arroyo.strategies.run_task_with_multiprocessing.batch.input.overflow": (NA, "Arrow batches"),
    "arroyo.strategies.run_task_with_multiprocessing.batch.input.resize": (NA, "Arrow batches"),
    "arroyo.strategies.run_task_with_multiprocessing.batch.output.overflow": (NA, "Arrow batches"),
    "arroyo.strategies.run_task_with_multiprocessing.batch.output.resize": (NA, "Arrow batches"),
    "arroyo.strategies.run_task_with_multiprocessing.batch.size.bytes": (
        ENGINE,
        "task metrics: bytes through PythonRunner",
    ),
    "arroyo.strategies.run_task_with_multiprocessing.batch.size.msg": (
        ENGINE,
        "arrow.maxRecordsPerBatch bounds it",
    ),
    "arroyo.strategies.run_task_with_multiprocessing.batch.submit.time": (NA, "no submit queue"),
    "arroyo.strategies.run_task_with_multiprocessing.batches_in_progress": (
        ENGINE,
        "running tasks with Python workers",
    ),
    "arroyo.strategies.run_task_with_multiprocessing.output_batch.size.bytes": (NA, "Arrow"),
    "arroyo.strategies.run_task_with_multiprocessing.output_batch.size.msg": (NA, "Arrow"),
    "arroyo.strategies.run_task_with_multiprocessing.pool.create": (NA, "reused Python workers"),
    "arroyo.strategies.run_task_with_multiprocessing.processes": (
        ENGINE,
        "spark.python.worker count = executor cores",
    ),
}
