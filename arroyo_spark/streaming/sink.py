"""Exactly-once foreachBatch sink (Produce + CommitOffsets fused).

Per epoch, in this order (the reference's delivery-before-commit ordering,
/root/reference/arroyo/processing/processor.py:330-337):
  1. skip the whole epoch if the ledger already has it (idempotent replay)
  2. split DLQ rows, check DLQ limits (fail-stop BEFORE anything is written)
  3. write DLQ rows (dlq writes precede offset commit, arroyo/dlq.py:423-436)
  4. apply the per-epoch transform, write result data
  5. atomically commit the epoch to the offsets ledger with per-partition
     next-offsets + lineage metrics

Metric names mirror the reference's vocabulary
(/root/reference/arroyo/utils/metric_defs.py): arroyo.consumer.latency,
arroyo.consumer.run.count, arroyo.consumer.invalid_message.count,
arroyo.consumer.processing.time.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arroyo_spark.streaming.commit import CommitPolicy
from arroyo_spark.streaming.dlq import (
    DlqLimit,
    DlqLimitState,
    consecutive_invalid_runs,
    split_dlq,
)
from arroyo_spark.streaming.ledger import OffsetsLedger


@dataclass
class ExactlyOnceSink:
    output_dir: str
    ledger: OffsetsLedger
    transform: Callable[[DataFrame], DataFrame] | None = None
    valid: Column | None = None
    dlq_limit: DlqLimit | None = None
    reason: str = "invalid"
    payload_col: str = "text"
    commit_policy: "CommitPolicy | None" = None
    clock: Callable[[], float] = time.time
    # bounded retry for the driver-side write effects (data/DLQ parquet,
    # ledger commit) — all idempotent overwrites, so a transient FS error
    # retries instead of failing the epoch (see streaming/retries.py;
    # reference: arroyo/utils/retries.py)
    write_retry: "object | None" = None
    # store compaction (epoch-over-store sinks, e.g. incremental dedup):
    # every `compact_every` committed epochs the per-epoch dirs are
    # rewritten into ONE dir hash-partitioned by `compact_keys`, recorded
    # in the ledger, and the covered epoch dirs pruned — read_output then
    # touches O(1 + tail) dirs instead of O(committed epochs). None = off.
    compact_every: int | None = None
    compact_keys: "tuple[str, ...] | None" = None
    _dlq_state: DlqLimitState | None = field(default=None, repr=False)
    _policy_state: object = field(default=None, repr=False)
    n_policy_commits: int = field(default=0, repr=False)
    # synthetic message counter for lineage-less (pre-aggregated) batches:
    # without partition/offset columns next_offsets stays {} and a
    # min_commit_messages policy would see messages_since=0 forever; this
    # feeds the policy n_total per epoch on a synthetic partition -1
    _synthetic_next: int = field(default=0, repr=False)
    # cached copy of schema.json (None until first commit or first read)
    _schema_json: str | None = field(default=None, repr=False)
    # partitions seen so far (lineage epochs): None until first lineage
    # epoch, then recovered from the ledger + grown on rebalance
    _known_partitions: set | None = field(default=None, repr=False)

    def __post_init__(self) -> None:
        if self.dlq_limit is not None:
            self._dlq_state = DlqLimitState(self.dlq_limit)
        if self.commit_policy is not None:
            self.set_commit_policy(self.commit_policy)

    def set_commit_policy(self, policy: "CommitPolicy") -> None:
        """Wire an offset-commit throttling policy (reference CommitPolicy,
        /root/reference/arroyo/commit.py:10-58). The ledger row is still
        written per epoch (exactly-once requires it); the policy gates the
        *offset flush* cadence — the observable should_commit/did_commit
        contract that the reference goldens assert."""
        self.commit_policy = policy
        self._policy_state = policy.get_state_machine(now=self.clock())

    # -- paths ---------------------------------------------------------
    def data_dir(self, epoch_id: int) -> str:
        return f"{self.output_dir}/data/epoch={epoch_id}"

    def _retry(self, fn):
        """Run a driver-side write through the retry policy (default: 3
        attempts, 0.2s apart — a transient FS error must not fail an epoch
        whose replay would succeed; every wrapped write is idempotent)."""
        if self.write_retry is None:
            from arroyo_spark.streaming.retries import RetryPolicy

            self.write_retry = RetryPolicy()
        return self.write_retry.call(fn)

    def dlq_dir(self, epoch_id: int) -> str:
        return f"{self.output_dir}/dlq/epoch={epoch_id}"

    def _write_schema_once(self, out: DataFrame) -> None:
        """Persist the output schema next to data/ on the first commit, so a
        downstream PipeTopic.source (or any reader) can build its stream
        without a driver-side batch-inference scan over every epoch dir —
        at 10^5 committed epochs that listing alone is minutes.

        Later epochs must match: a silently-evolved transform output would
        otherwise be read back with the stale persisted schema (new columns
        nulled) — fail loudly instead (ADVICE r3). The persisted schema is
        cached in memory so steady-state epochs cost zero FS reads."""
        import os

        path = f"{self.output_dir}/schema.json"
        cached = self._schema_json
        if cached is None and os.path.exists(path):
            with open(path) as f:
                cached = self._schema_json = f.read()
        if cached is not None:
            if out.schema.json() != cached:
                raise ValueError(
                    f"sink output schema changed mid-stream: {self.output_dir} "
                    f"committed epochs use {cached}, this epoch produced "
                    f"{out.schema.json()} — evolve the topic by writing to a "
                    "new output_dir (readers pin the persisted schema)"
                )
            return
        tmp = f"{path}.tmp"
        with open(tmp, "w") as f:
            f.write(out.schema.json())
        os.replace(tmp, path)  # atomic, idempotent across replays
        self._schema_json = out.schema.json()

    # -- the foreachBatch callable --------------------------------------
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if self.ledger.is_committed(epoch_id):
            return  # replay after restart: already fully committed
        t0 = time.time()
        from arroyo_spark.operators.map import INVALID_REASON_COL

        has_lineage = "partition" in batch_df.columns and "offset" in batch_df.columns
        needs_dlq = self.valid is not None or INVALID_REASON_COL in batch_df.columns
        if not needs_dlq:
            # FAST PATH — one Spark job per epoch. The stats the ledger
            # needs (row count, per-partition next-offsets, max event time)
            # are folded into the write job itself with observe()/
            # CollectMetrics: no persist, no separate stats action.
            # Per-epoch driver actions are serial cost that caps scaling
            # efficiency (measured ~2.3s/epoch fixed cost in the r3
            # scaling runs, partly this extra pass). The DLQ-splitting
            # configuration stays on the two-pass path: its limit check
            # must fail-stop BEFORE anything is written.
            self._commit_fast(batch_df, epoch_id, t0, has_lineage)
            self._maybe_compact(batch_df.sparkSession)
            return
        batch_df = batch_df.persist()
        try:
            # ONE stats action on the persisted batch, before any write: the
            # DLQ-limit check below needs n_total and must fail-stop first
            aggs, known = self._stats_aggs(batch_df, has_lineage)
            n_total, max_ts, next_offsets = self._decode_stats(
                batch_df, batch_df.agg(*aggs).collect()[0].asDict(), known, has_lineage
            )

            n_invalid = 0
            data_in = batch_df
            # mid-pipeline InvalidMessage capture (operators.map.run_task_safe
            # writes _invalid_reason; originals pass through untouched)
            captured = INVALID_REASON_COL in batch_df.columns
            valid_cond = self.valid
            reason: Column | str = self.reason
            if captured:
                is_ok = F.col(INVALID_REASON_COL).isNull()
                valid_cond = is_ok if valid_cond is None else (valid_cond & is_ok)
                reason = F.coalesce(F.col(INVALID_REASON_COL), F.lit(self.reason))
            if valid_cond is not None:
                data_in, dlq_df = split_dlq(batch_df, valid_cond, reason, self.payload_col)
                dlq_df = dlq_df.persist()
                n_invalid = dlq_df.count()
                if self._dlq_state is not None:
                    runs = consecutive_invalid_runs(batch_df, valid_cond, self._dlq_state)
                    self._dlq_state.check_epoch(n_total, n_invalid, runs)  # raises -> epoch fails
                if n_invalid:
                    self._retry(
                        lambda: dlq_df.write.mode("overwrite").parquet(self.dlq_dir(epoch_id))
                    )
                dlq_df.unpersist()
            if captured:
                data_in = data_in.drop(INVALID_REASON_COL)

            out = self.transform(data_in) if self.transform is not None else data_in
            self._retry(lambda: out.write.mode("overwrite").parquet(self.data_dir(epoch_id)))
            self._write_schema_once(out)
            self._finalize(epoch_id, t0, n_total, n_invalid, max_ts, next_offsets, has_lineage)
            self._maybe_compact(batch_df.sparkSession)
        finally:
            batch_df.unpersist()

    def _commit_fast(
        self, batch_df: DataFrame, epoch_id: int, t0: float, has_lineage: bool
    ) -> None:
        """Single-job epoch commit: observe() folds the ledger stats into
        the data write itself — the epoch costs exactly one Spark job and
        zero persists (plus a rare rebalance pass, see ``_decode_stats``).

        The observe node sits BELOW the transform, so counts reflect the
        epoch's input rows exactly as the two-pass path measured them;
        predicate pushdown does not cross CollectMetrics, so a filtering
        transform cannot shrink them. (A transform containing LIMIT could
        under-run the scan — not a streaming-transform shape; the DLQ path
        keeps explicit counting anyway.)

        Lineage batches need per-partition next-offsets, which a global
        observe cannot group — but the partition set is small and nearly
        static (it changes only on rebalance), so the sink keeps a
        known-partition set and observes `max(offset) WHERE partition = p`
        per known partition, plus a count of rows from UNKNOWN partitions.
        Steady state: one job. An unknown partition (first epoch after
        start/rebalance) costs one extra pass, then joins the known set."""
        from pyspark.sql import Observation

        aggs, known = self._stats_aggs(batch_df, has_lineage)
        obs = Observation()
        observed = batch_df.observe(obs, *aggs)
        out = self.transform(observed) if self.transform is not None else observed
        self._retry(lambda: out.write.mode("overwrite").parquet(self.data_dir(epoch_id)))
        self._write_schema_once(out)
        try:
            vals = obs.get
            if vals.get("n", 0) == 0:
                # a zeroed observation is UNVERIFIABLE, not trustworthy: a
                # transform that lazily localCheckpoints the observed scan
                # without an intervening shuffle makes obs.get silently
                # return all-zero metrics (reproduced on Spark 4.1) rather
                # than raise. Re-measure; genuinely empty epochs make this
                # a no-op-priced agg over zero rows.
                raise ValueError("zeroed observation — re-measure")
        except Exception:  # noqa: BLE001 — see below
            # the optimizer can REMOVE the CollectMetrics node when the
            # transform folds to an empty relation (e.g. filter(lit(False))
            # — PropagateEmptyRelation replaces the whole subtree), leaving
            # the observation unset. Rare and cheap by construction (the
            # plan that triggers it does no scan work): fall back to the
            # explicit stats pass over batch_df.
            vals = batch_df.agg(*aggs).collect()[0].asDict()
        n_total, max_ts, next_offsets = self._decode_stats(batch_df, vals, known, has_lineage)
        self._finalize(epoch_id, t0, n_total, 0, max_ts, next_offsets, has_lineage=has_lineage)

    def _stats_aggs(
        self, batch_df: DataFrame, has_lineage: bool
    ) -> tuple[list[Column], list[int]]:
        """The ledger's epoch stats as one aggregation list, shared by the
        fast path (observe) and the DLQ path (a plain agg): row count
        ``n``, max event time ``mts`` and, for lineage batches, ``no_<p>``
        = max offset per known partition plus ``unknown_n`` = rows from
        partitions outside the known set. Returns (aggs, known)."""
        ts_col = next((c for c in ("ts", "win_end", "win_start") if c in batch_df.columns), None)
        aggs = [F.count(F.lit(1)).alias("n")]
        if ts_col is not None:
            aggs.append(F.max(ts_col).alias("mts"))
        known: list[int] = []
        if has_lineage:
            if self._known_partitions is None:
                # restart recovery: partitions seen by committed epochs
                self._known_partitions = set(self.ledger.committed_offsets())
            known = sorted(self._known_partitions)
            for p in known:
                aggs.append(
                    F.max(F.when(F.col("partition") == p, F.col("offset"))).alias(f"no_{p}")
                )
            # NULL partitions must land in unknown_n, not vanish: a bare
            # ~isin(known) is NULL (not true) for NULL partitions, so such
            # rows would be counted by neither branch and their offsets
            # silently dropped from next_offsets (ADVICE r4). Coalesce the
            # predicate; the fresh-partition pass in _decode_stats then
            # rejects NULLs explicitly (lineage contract: partition is
            # non-null).
            aggs.append(F.count(F.when(self._unknown_pred(known), 1)).alias("unknown_n"))
        return aggs, known

    @staticmethod
    def _unknown_pred(known: list[int]) -> Column:
        if not known:
            return F.lit(True)
        return F.col("partition").isNull() | ~F.col("partition").isin(known)

    def _decode_stats(
        self, batch_df: DataFrame, vals: dict, known: list[int], has_lineage: bool
    ) -> tuple[int, object, dict[int, int]]:
        """(n_total, max_ts, next_offsets) from the ``_stats_aggs`` values.

        Rows from unknown partitions (first epoch after start/rebalance)
        cost one extra aggregation over just those rows — batch_df is
        re-computable inside foreachBatch (pinned to this epoch's offsets,
        deterministic) — and then join the known set. ``mts`` already
        covers every row, so that pass only needs the offsets."""
        next_offsets: dict[int, int] = {}
        if has_lineage:
            for p in known:
                if vals.get(f"no_{p}") is not None:
                    next_offsets[p] = vals[f"no_{p}"] + 1
            if vals.get("unknown_n", 0):
                fresh = batch_df.filter(self._unknown_pred(known))
                for r in fresh.groupBy("partition").agg(F.max("offset").alias("mo")).collect():
                    if r["partition"] is None:
                        raise ValueError(
                            "lineage batch contains NULL partition — offsets "
                            "cannot be tracked; fix the source or drop lineage"
                        )
                    next_offsets[r["partition"]] = r["mo"] + 1
                self._known_partitions.update(next_offsets)
        return vals["n"], vals.get("mts"), next_offsets

    def _finalize(
        self,
        epoch_id: int,
        t0: float,
        n_total: int,
        n_invalid: int,
        max_ts,
        next_offsets: dict[int, int],
        has_lineage: bool,
    ) -> None:
        """Metrics + commit-policy bookkeeping + atomic ledger commit.

        The synthetic message counter (lineage-less streams) is advanced
        only AFTER the ledger commit succeeds: if the commit exhausts its
        retries the epoch fails and is replayed, and an already-advanced
        counter would double-count the batch for min_commit_messages
        policies (ADVICE r3)."""
        metrics = {
            "arroyo.consumer.run.count": float(n_total),
            "arroyo.consumer.invalid_message.count": float(n_invalid),
            "arroyo.consumer.processing.time": time.time() - t0,
        }
        if max_ts is not None:
            import calendar

            metrics["arroyo.consumer.latency"] = time.time() - calendar.timegm(
                max_ts.timetuple()
            )
        synthetic_next = self._synthetic_next
        will_commit = False
        policy_offsets = next_offsets
        policy_now = None
        if self._policy_state is not None:
            policy_now = self.clock()
            if not has_lineage:
                # lineage-less stream: advance a synthetic partition by
                # n_total so messages-based policies still see deltas
                synthetic_next = self._synthetic_next + n_total
                policy_offsets = {-1: synthetic_next}
            will_commit = self._policy_state.should_commit(policy_now, policy_offsets)
            metrics["arroyo.consumer.commit.count"] = float(
                self.n_policy_commits + (1 if will_commit else 0)
            )
        self._retry(lambda: self.ledger.commit(epoch_id, next_offsets, metrics))
        # policy state (like the synthetic counter) advances only AFTER the
        # ledger commit succeeds: a failed epoch replays, and an
        # already-recorded did_commit would double-count it (ADVICE r4)
        if self._policy_state is not None and will_commit:
            self._policy_state.did_commit(policy_now, policy_offsets)
            self.n_policy_commits += 1
        self._synthetic_next = synthetic_next

    # -- store compaction --------------------------------------------------
    def compact_dir(self, upto_epoch: int) -> str:
        return f"{self.output_dir}/compact/upto={upto_epoch}"

    def _maybe_compact(self, spark) -> None:
        if not self.compact_every:
            return
        comp = self.ledger.latest_compaction()
        covered = comp["upto_epoch"] if comp else None
        tail = [e for e in self.ledger.epochs() if covered is None or e > covered]
        if len(tail) >= self.compact_every:
            self.compact(spark)

    def compact(
        self, spark, num_buckets: int | None = None, prune: bool = True
    ) -> int | None:
        """Rewrite (previous compaction + tail epoch dirs) into ONE dir
        hash-partitioned by ``compact_keys``, then record it in the ledger
        and prune the covered inputs.

        This is the O(committed-epochs)→O(1 + tail) fix for epoch-over-
        store sinks (incremental dedup reads its own committed history
        every epoch — without compaction each epoch pays a listing/planning
        cost linear in ALL prior epochs). At 10^12 rows the compacted dir
        is an Iceberg table bucketed by the join key; ``repartition(n,
        keys)`` is the sandbox analog — the per-epoch anti/semi join's
        store side arrives pre-hash-clustered either way.

        Crash matrix (same primitive as the epoch commit — atomic marker
        after idempotent overwrite):
          crash mid-write      -> no ledger record; readers keep using the
                                  previous compaction + epoch dirs (pruning
                                  only happens after the record lands);
                                  re-running compact() overwrites.
          crash before prune   -> record exists, readers already prefer the
                                  new dir; stale inputs are ignored and the
                                  next compact()/prune removes them.
        """
        epochs = self.ledger.epochs()
        if not epochs:
            return None
        comp = self.ledger.latest_compaction()
        covered = comp["upto_epoch"] if comp else None
        tail = [e for e in epochs if covered is None or e > covered]
        if not tail:
            return covered
        upto = max(tail)
        try:
            store = self.read_output(spark)
        except FileNotFoundError:
            return covered
        if self.compact_keys:
            n = num_buckets or spark.sparkContext.defaultParallelism
            store = store.repartition(n, *[F.col(k) for k in self.compact_keys])
        target = self.compact_dir(upto)
        self._retry(lambda: store.write.mode("overwrite").parquet(target))
        self._retry(
            lambda: self.ledger.record_compaction(upto, len(epochs), target)
        )
        if prune:
            self._prune_compacted(upto, comp)
        return upto

    def _prune_compacted(self, upto: int, prev_comp: dict | None) -> None:
        """Remove inputs now covered by compact_dir(upto): epoch data dirs
        <= upto and EVERY superseded compaction dir (not just the
        immediately-previous one — a crash between record and prune in an
        earlier cycle may have stranded older ones). Best-effort — a
        leftover dir is invisible to readers (they go through the ledger
        record) and gets swept by the next cycle."""
        import shutil

        for e in self.ledger.epochs():
            if e <= upto:
                d = self.data_dir(e)
                if os.path.exists(d):
                    shutil.rmtree(d, ignore_errors=True)
        croot = f"{self.output_dir}/compact"
        keep = os.path.basename(self.compact_dir(upto))
        if os.path.isdir(croot):
            for name in os.listdir(croot):
                if name != keep:
                    shutil.rmtree(os.path.join(croot, name), ignore_errors=True)

    # -- reading back ----------------------------------------------------
    def output_paths(self) -> list[str]:
        """The concrete dirs a read_output() scan touches — latest
        compaction (if any) + committed epoch dirs past it. The compaction
        test asserts len == O(1 + tail), not O(committed epochs)."""
        comp = self.ledger.latest_compaction()
        covered = comp["upto_epoch"] if comp is not None else None
        dirs = [comp["path"]] if comp is not None else []
        for e in self.ledger.epochs():
            if covered is None or e > covered:
                d = self.data_dir(e)
                if os.path.exists(d):
                    dirs.append(d)
        return dirs

    def read_output(self, spark) -> DataFrame:
        """All committed output rows (uncommitted epoch dirs are excluded).

        Contract: valid under APPEND output mode only (the StreamProcessor
        default) — every group key is emitted exactly once across epochs.
        Update-mode aggregations re-emit live keys each epoch; unioning
        epoch dirs would then return stale duplicates.

        With compaction enabled the scan is the compacted store + the
        uncompacted tail — O(1 + tail) dirs, not O(committed epochs).
        """
        dirs = self.output_paths()
        if not dirs:
            raise FileNotFoundError(f"no committed epochs under {self.output_dir}")
        # output_paths() lists the compaction (if any) first
        compacted = self.ledger.latest_compaction() is not None
        parts = [spark.read.parquet(dirs[0])] if compacted else []
        tail = dirs[1:] if compacted else dirs
        if tail:
            parts.append(
                spark.read.option("basePath", f"{self.output_dir}/data").parquet(*tail)
            )
        return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    def read_dlq(self, spark) -> DataFrame:
        import os

        dirs = [self.dlq_dir(e) for e in self.ledger.epochs() if os.path.exists(self.dlq_dir(e))]
        if not dirs:
            from arroyo_spark.types import DLQ_SCHEMA

            return spark.createDataFrame([], DLQ_SCHEMA)
        return spark.read.option("basePath", f"{self.output_dir}/dlq").parquet(*dirs)
