"""Streaming CEP: stateful sequence-pattern detection across micro-batches.

The batch operator (operators/cep.py::match_sequence) computes the greedy
earliest chain with window functions; this is its streaming counterpart for
an unbounded keyed stream: per-key state carries the earliest chain times
found so far, each epoch advances it, and a key is emitted exactly once —
in the epoch where its pattern completes. State survives restart via the
checkpointed state store (same guarantee the reference gets from offset
replay, /root/reference/arroyo/processing/strategies/reduce.py:15-66 —
except here the partial chain itself is durable, so completion does not
re-read history).

Contract: per-key rows must arrive in non-decreasing (ts, *tiebreakers)
order across epochs (epoch boundaries are time-ordered in this engine's
PipeTopic replay; within an epoch any order is fine — rows are sorted
before folding). Under that contract the emitted (key, step times) set is
provably equal to the batch operator over the concatenated input: the
greedy chain is an online fold — step 0 keeps the minimum matching ts,
step k>0 sets once when its condition meets a row strictly after a
completed step k-1, anchored within ``within`` of the step-0 time.

State is kept per *key group*, the way Flink shards keyed state (State
Management in Apache Flink, VLDB 2017): each row's key hashes to one of
``KEY_GROUPS`` groups, ``applyInPandasWithState`` runs once per group, and
the group's one state row holds its keys column-wise — the key, the
operator's per-key fields and the key's event-time timeout. One Python call
folds every key of the group with numpy, so the per-call cost (Arrow slice,
pandas frames, state pickling) is spread over many keys instead of paid per
key (Accelerating Python UDFs in Vectorized Query Execution, CIDR 2022).
``KEY_GROUPS`` is a constant, not a parameter: the checkpoint's state rows
are keyed by group, so the count is pinned for the life of a checkpoint,
as Flink pins max parallelism. A group's state row is read and rewritten
whole whenever any of its keys has rows.

Per-key timeouts stay exact. The group's timer is the minimum of its keys'
timers, and every call expires each key that has no rows in it and whose
timer is below the watermark — what Spark's per-key timer would do in the
same micro-batch. A key with rows is folded, not expired, as in Spark.

Python-side work is O(rows) numpy over K small floats: the step
*conditions* are evaluated JVM-side and packed into one int column (bit k =
step k's condition, NULL counting as false), so no text/payload bytes cross
into Python.
"""

from __future__ import annotations

import operator
from collections.abc import Callable, Iterable, Sequence
from functools import reduce
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

Step = tuple[str, Column]

# Number of key groups. Part of the checkpoint's state layout: changing it
# re-routes keys to other groups, so a checkpoint must be resumed with the
# count it was written with.
KEY_GROUPS = 128


def _key_field(df: DataFrame, key: str) -> T.StructField:
    """Output key field with the SOURCE column's type — a bigint key must
    not be silently declared string (Arrow would reject the first emission
    at runtime)."""
    return T.StructField(key, df.schema[key].dataType)


class _Group(NamedTuple):
    """One key group's input to a fold. Keys are numbered 0..n_keys-1:
    first the keys held in state, then keys new in this call. Row arrays
    are sorted by (key, ts, *tiebreakers)."""

    code: np.ndarray  # per row: its key's number
    ts: np.ndarray  # per row: ts as double
    bits: np.ndarray  # per row: packed step-condition flags
    starts: np.ndarray  # first row of each key that has rows, in key order
    has_rows: np.ndarray  # per key
    expired: np.ndarray  # per key: no rows, and its timer is below the watermark
    wm_ms: int | None  # watermark, None without event-time timeouts
    prev: dict[str, np.ndarray]  # per key: stored fields, new keys at their fill

    def flag(self, i: int) -> np.ndarray:
        return (self.bits >> i) & 1 == 1

    def first(self, mask: np.ndarray) -> np.ndarray:
        """Per key with rows: index of its first row where ``mask`` holds,
        or ``len(rows)`` if none does."""
        n = len(self.ts)
        if n == 0:
            return np.empty(0, np.int64)
        return np.minimum.reduceat(np.where(mask, np.arange(n), n), self.starts)

    def at(self, rows: np.ndarray) -> np.ndarray:
        """``ts`` at per-key row indices; NaN where the index is ``len(rows)``."""
        n = len(self.ts)
        if n == 0:
            return np.full(len(rows), np.nan)
        return np.where(rows < n, self.ts[np.minimum(rows, n - 1)], np.nan)


# A fold returns, for every key of the group: its new stored fields, whether
# it keeps an entry, its timer in ms (0 = none), and the rows to emit as
# (key numbers, output columns). The driver keeps the stored fields and
# timers of keys with no rows that did not expire, whatever the fold says.
Fold = Callable[
    [_Group],
    tuple[dict[str, np.ndarray], np.ndarray, np.ndarray, tuple[np.ndarray, dict[str, np.ndarray]]],
]
# (name, Spark type, fill): a per-key stored field and its value for a new key
Field = tuple[str, T.DataType, object]


def _column(values: Sequence, fill: object, size: int) -> np.ndarray:
    dtype = object if fill is None else type(fill)
    out = np.full(size, fill, dtype)
    out[: len(values)] = np.fromiter(values, dtype, len(values))
    return out


def _timers(at_s: np.ndarray, wm_ms: int | None) -> np.ndarray:
    """Per-key event-time timers in ms for deadlines ``at_s`` (NaN = none,
    stored as 0): Spark rejects a timer older than the watermark, so each is
    at least ``wm_ms + 1``, as a per-key ``setTimeoutTimestamp`` would be."""
    if wm_ms is None:
        return np.zeros(len(at_s), np.int64)
    ms = np.trunc(np.nan_to_num(at_s) * 1000).astype(np.int64)
    return np.where(np.isnan(at_s), 0, np.maximum(ms, wm_ms + 1))


def _fold_group(
    fold: Fold,
    fields: Sequence[Field],
    key: str,
    prev: tuple | None,
    pdf: pd.DataFrame | None,
    n_tiebreakers: int,
    wm_ms: int | None,
) -> tuple[tuple | None, int | None, pd.DataFrame | None]:
    """Run ``fold`` over one key group. ``prev`` is the group's stored
    ``(keys, timers, *fields)`` (None if absent); ``pdf`` holds its rows of
    this micro-batch (None on a timer call). Returns the group's new state
    (None: remove it), its timer in ms (None: none) and the rows to emit."""
    prev = prev or ([], [], *([] for _ in fields))
    m = len(prev[0])
    if pdf is None or pdf.empty:
        row_keys, ts, bits, tbs = np.empty(0, object), np.empty(0), np.empty(0, np.int64), []
    else:
        row_keys = pdf["_k"].to_numpy(object)
        if "_kn" in pdf:
            row_keys = np.where(pdf["_kn"].to_numpy(bool), None, row_keys)
        ts = pdf["_ts"].to_numpy(float)
        bits = pdf["_f"].to_numpy(np.int64)
        tbs = [pdf[f"_tb{i}"].to_numpy(float) for i in range(n_tiebreakers)]
    keys = np.concatenate([np.fromiter(prev[0], object, m), row_keys])
    # NULL is a key like any other (the batch operator groups it too)
    codes = pd.factorize(keys, use_na_sentinel=False)[0]
    keys = keys[np.unique(codes, return_index=True)[1]]  # factorize's uniques turn None into NaN
    n_keys = len(keys)
    code = codes[m:]
    order = np.lexsort([*reversed(tbs), ts, code])
    code, ts, bits = code[order], ts[order], bits[order]
    starts = np.flatnonzero(np.r_[True, code[1:] != code[:-1]]) if len(code) else code
    has_rows = np.zeros(n_keys, bool)
    has_rows[code] = True
    old_timers = _column(prev[1], 0, n_keys)
    expired = np.zeros(n_keys, bool)
    if wm_ms is not None:
        expired = ~has_rows & (old_timers != 0) & (old_timers < wm_ms)
    old = {name: _column(col, fill, n_keys) for (name, _, fill), col in zip(fields, prev[2:])}

    new, keep, timers, (out_keys, out_cols) = fold(
        _Group(code, ts, bits, starts, has_rows, expired, wm_ms, old)
    )
    touched = has_rows | expired
    keep = keep | ~touched
    timers = np.where(touched, timers, old_timers)
    state, group_timer = None, None
    if keep.any():
        state = (
            keys[keep].tolist(),
            timers[keep].tolist(),
            *[np.where(touched, new[name], old[name])[keep].tolist() for name, _, _ in fields],
        )
        live = timers[keep & (timers != 0)]
        group_timer = int(live.min()) if live.size else None
    out = pd.DataFrame({key: keys[out_keys], **out_cols}) if len(out_keys) else None
    return state, group_timer, out


def _flag_bits(conds: Sequence[Column]) -> Column:
    """One int column: bit i is set iff ``conds[i]`` is true (NULL: unset)."""
    return reduce(
        operator.add,
        [F.when(c, F.lit(1 << i)).otherwise(F.lit(0)) for i, c in enumerate(conds)],
    )


def _key_cols(df: DataFrame, key: str) -> list[Column]:
    k = F.col(key)
    if isinstance(df.schema[key].dataType, T.IntegralType):
        # an integral column holding a NULL reaches pandas as float64, which
        # rounds keys past 2**53: the NULL travels as its own flag instead
        return [F.coalesce(k, F.lit(0)).alias("_k"), k.isNull().alias("_kn")]
    return [k.alias("_k")]


def _key_grouped(
    df: DataFrame,
    key: str,
    ts_col: str,
    tiebreakers: Sequence[str],
    conds: Sequence[Column],
    watermark_delay: str | None,
    fields: Sequence[Field],
    out_fields: Sequence[T.StructField],
    fold: Fold,
) -> DataFrame:
    """The key-group driver: ``fold`` runs once per key group per
    micro-batch (and on the group's timer), over every key of the group."""
    use_timeouts = watermark_delay is not None
    src = df.withWatermark(ts_col, watermark_delay) if use_timeouts else df
    flagged = src.select(
        F.pmod(F.xxhash64(F.col(key)), F.lit(KEY_GROUPS)).alias("_g"),
        *_key_cols(df, key),
        # the watermark column itself must survive the projection untouched
        # for EventTimeTimeout; _ts is its double twin for the Python fold
        *([F.col(ts_col)] if use_timeouts else []),
        F.col(ts_col).cast("double").alias("_ts"),
        *[F.col(c).cast("double").alias(f"_tb{i}") for i, c in enumerate(tiebreakers)],
        _flag_bits(conds).alias("_f"),
    )
    key_field = _key_field(df, key)
    state_schema = T.StructType(
        [
            T.StructField("keys", T.ArrayType(key_field.dataType)),
            T.StructField("timeout", T.ArrayType(T.LongType())),
            *[T.StructField(name, T.ArrayType(t)) for name, t, _ in fields],
        ]
    )
    out_schema = T.StructType([key_field, *out_fields])

    def handle(
        _: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        frames = list(pdfs)
        new, timer, out = _fold_group(
            fold,
            fields,
            key,
            state.getOption,
            pd.concat(frames, ignore_index=True) if frames else None,
            len(tiebreakers),
            state.getCurrentWatermarkMs() if use_timeouts else None,
        )
        if new is None:
            if state.exists:
                state.remove()
        else:
            state.update(new)
            if timer is not None:
                state.setTimeoutTimestamp(timer)
        if out is not None:
            yield out

    timeout = (
        GroupStateTimeout.EventTimeTimeout if use_timeouts else GroupStateTimeout.NoTimeout
    )
    return flagged.groupBy("_g").applyInPandasWithState(
        handle, out_schema, state_schema, "append", timeout
    )


def _sequence_fields(k_steps: int) -> list[Field]:
    return [("emitted", T.BooleanType(), False)] + [
        (f"t{i}", T.DoubleType(), np.nan) for i in range(k_steps)
    ]


def _sequence_fold(
    names: Sequence[str], within_s: float | None, evict_after_s: float | None
) -> Fold:
    k_steps = len(names)

    def fold(g: _Group) -> tuple:
        n = len(g.ts)
        idx = np.arange(n)
        chain = np.stack([g.prev[f"t{i}"] for i in range(k_steps)], axis=1)
        emitted = g.prev["emitted"]
        seg = g.code[g.starts]  # keys with rows
        rowseg = np.repeat(np.arange(len(seg)), np.diff(np.r_[g.starts, n]))
        c = chain[seg]
        # Each step's row is the first that the per-row loop would take,
        # which sees the chain as it stood BEFORE the row (a row never chains
        # onto its own match). Rows are time-sorted within a key, so step 0
        # moves at most once: at its first matching row, if that row is
        # older than the stored anchor (or there is none). A reported key
        # only drains its rows: its steps are all set, so none can move.
        f0 = g.first(g.flag(0) & ~emitted[g.code])
        pos = [np.where(np.isnan(c[:, 0]) | (g.at(f0) < c[:, 0]), f0, n)]
        in_window = True
        if within_s is not None:
            # the anchor a row is checked against: the stored one up to and
            # including step 0's new row, that row's time after it
            moved = idx > pos[0][rowseg]
            anchor = np.where(moved, g.at(pos[0])[rowseg], c[rowseg, 0])
            in_window = g.ts <= anchor + within_s
        for i in range(1, k_steps):
            # the first row that sees step i-1 set
            seen = np.where(np.isnan(c[:, i - 1]), pos[i - 1] + 1, g.starts)
            cand = g.flag(i) & in_window & (idx >= seen[rowseg])
            pos.append(np.where(np.isnan(c[:, i]), g.first(cand), n))
        # the loop stops at completion: a step-0 row after it changes nothing
        pos[0] = np.where(pos[0] <= pos[-1], pos[0], n)
        for i in range(k_steps):
            c[:, i] = np.where(pos[i] < n, g.at(pos[i]), c[:, i])
        chain[seg] = c

        done = ~np.isnan(chain[:, -1])
        new = {"emitted": done, **{f"t{i}": chain[:, i] for i in range(k_steps)}}
        # never-anchored keys keep no entry (re-created if an anchor arrives
        # later — exact, and O(matched keys) instead of O(keys))
        keep = ~np.isnan(chain[:, 0]) & ~g.expired
        at = np.full(len(done), np.nan)
        if evict_after_s is not None:
            at = np.where(done, chain[:, -1] + evict_after_s, at)
        if within_s is not None:
            at = np.where(done, at, chain[:, 0] + within_s)
        out = np.flatnonzero(done & ~emitted)
        cols = {f"{name}_ts": chain[out, i] for i, name in enumerate(names)}
        return new, keep, _timers(at, g.wm_ms), (out, cols)

    return fold


def stateful_match_sequence(
    df: DataFrame,
    key: str,
    steps: Sequence[Step],
    ts_col: str = "ts",
    tiebreakers: Sequence[str] = (),
    within_s: float | None = None,
    watermark_delay: str | None = None,
    evict_after_s: float | None = None,
) -> DataFrame:
    """Emit ``(key, <name>_ts...)`` once per key, in the micro-batch where
    the full pattern first completes. Output timestamps are the greedy
    earliest chain — identical to batch ``match_sequence`` under the
    in-order-per-key contract (module docstring).

    State is kept per key group (module docstring): each group's state row
    holds, per key, its chain times, whether it was emitted and its timer.
    Each call folds all of a group's keys with numpy after one sort on
    (key, ts, *tiebreakers); the K step conditions reach Python as one
    packed int column.

    State bound (the 10^12-turn concern: without eviction, state is O(keys)
    forever). With ``watermark_delay`` set (e.g. ``"10 minutes"``), keys
    are evicted from their group's state on event-time timeouts:

    - **dead chains** (``within_s`` set, anchored, incomplete): evicted once
      the watermark passes ``anchor + within_s``. The evicted chain itself
      provably can never complete (later rows cannot satisfy the within
      check). Caveat: after eviction the key looks never-anchored again, so
      a LATER step-0 row re-anchors it and can emit a match batch would
      not (batch anchors at the global earliest step-0 row, which the
      evicted chain held). Same trade as Flink CEP's state TTL: exact
      suppression requires the dead anchor kept forever; eviction bounds
      state and re-admits keys whose activity resumes past the horizon.
    - **never-anchored keys**: no entry is written in the group's state at
      all (re-created if a step-0 match arrives later). Exact.
    - **completed keys** (``evict_after_s`` set): the completion tombstone —
      kept only to suppress a second emission — is evicted once the
      watermark passes ``completion + evict_after_s``. This is the one
      knob that trades exactness for bounded state (Flink CEP state-TTL
      semantics): if a key matches AGAIN entirely after the horizon it
      re-emits, where the batch operator (anchored at the global earliest
      step-0 row) would not. Leave it ``None`` to keep tombstones forever.

    A group left with no keys has its state row removed.
    """
    if len(steps) < 2:
        raise ValueError("stateful_match_sequence needs at least 2 steps")
    if evict_after_s is not None and watermark_delay is None:
        raise ValueError("evict_after_s requires watermark_delay")
    if watermark_delay is not None and within_s is None and evict_after_s is None:
        # watermark_delay alone bounds NOTHING: dead-chain eviction needs a
        # within_s horizon and tombstone eviction needs evict_after_s —
        # with neither, anchored-incomplete state still grows O(keys)
        # forever and the knob would silently read as "bounded" (ADVICE r4)
        import warnings

        warnings.warn(
            "watermark_delay without within_s/evict_after_s registers no "
            "event-time timeouts — anchored-incomplete state remains "
            "unbounded; set within_s (dead-chain eviction) and/or "
            "evict_after_s (tombstone eviction) to bound state",
            stacklevel=2,
        )
    names = [n for n, _ in steps]
    return _key_grouped(
        df,
        key,
        ts_col,
        tiebreakers,
        [cond for _, cond in steps],
        watermark_delay,
        _sequence_fields(len(steps)),
        [T.StructField(f"{n}_ts", T.DoubleType()) for n in names],
        _sequence_fold(names, within_s, evict_after_s),
    )


_ABSENCE_FIELDS: list[Field] = [("pending", T.ArrayType(T.DoubleType()), None)]


def _absence_fold(names: tuple[str, str], within_s: float) -> Fold:
    def fold(g: _Group) -> tuple:
        n, n_keys = len(g.ts), len(g.has_rows)
        idx = np.arange(n)
        pending = [p or [] for p in g.prev["pending"]]
        stored = np.concatenate([np.empty(0), *pending])
        stored_key = np.repeat(np.arange(n_keys), [len(p) for p in pending])
        first_row = np.full(n_keys, n)
        first_row[g.code[g.starts]] = g.starts
        fa = g.flag(0)
        # every pending ``first`` (stored ones, then this call's rows in
        # order) is resolved by its key's first ``second`` row strictly after
        # it — stored ones by any of the key's rows, a row's own ``first`` not
        # by itself; the ``second`` row at or after each index:
        next_b = np.r_[np.minimum.accumulate(np.where(g.flag(1), idx, n)[::-1])[::-1], n]
        a_key = np.r_[stored_key, g.code[fa]]
        a_ts = np.r_[stored, g.ts[fa]]
        b = next_b[np.r_[first_row[stored_key], idx[fa] + 1]]
        resolved = b < n
        resolved[resolved] = g.code[b[resolved]] == a_key[resolved]
        b_ts = g.at(b)
        late = resolved & (b_ts > a_ts + within_s)
        # the deadline may already have passed (a timer call, or a timer
        # that coalesced with data arrival)
        touched = (g.has_rows | g.expired)[a_key]
        overdue = ~resolved & touched & (g.wm_ms / 1000.0 > a_ts + within_s)
        still = ~resolved & ~overdue

        counts = np.bincount(a_key[still], minlength=n_keys)
        kept = a_ts[still][np.argsort(a_key[still], kind="stable")]
        split = np.split(kept, np.cumsum(counts)[:-1])
        new = np.fromiter((p.tolist() for p in split), object, n_keys)
        earliest = np.full(n_keys, np.inf)
        np.minimum.at(earliest, a_key[still], a_ts[still])
        at = np.where(counts > 0, earliest + within_s, np.nan)
        emit = late | overdue
        cols = {
            f"{names[0]}_ts": a_ts[emit],
            f"{names[1]}_ts": np.where(late, b_ts, np.nan)[emit],
        }
        return {"pending": new}, counts > 0, _timers(at, g.wm_ms), (a_key[emit], cols)

    return fold


def stateful_match_absence(
    df: DataFrame,
    key: str,
    first: Step,
    second: Step,
    within_s: float,
    watermark_delay: str,
    ts_col: str = "ts",
    tiebreakers: Sequence[str] = (),
) -> DataFrame:
    """Streaming timeout detector: emit ``(key, <first>_ts, <second>_ts)``
    for every ``first`` match with no ``second`` match within ``within_s``
    strictly after it.

    Two emission paths, one per failure shape:

    - a too-late ``second`` arrives BEFORE the deadline timer fires ->
      emitted in that micro-batch, with its time in ``<second>_ts`` (the
      row batch produces);
    - the deadline timer fires first (watermark passes
      ``first + within_s``) -> emitted then with ``<second>_ts`` null.
      This is the alert-at-deadline behavior a monitoring pipeline
      actually wants — an alert cannot wait for a B that may never come.

    The emitted (key, first_ts) SET always equals the batch operator's;
    the ``<second>_ts`` VALUE is null on the timer path even if a
    too-late ``second`` arrives afterwards (the pending entry is already
    emitted and dropped — batch, seeing the whole history, reports the
    late time instead). Which path wins depends on timer/data
    interleaving; only the null-vs-late-time column differs.

    State is the pending-``first`` list per key, kept in the key's group
    (module docstring) and evicted as resolved / emitted — bounded by
    ``within_s`` x arrival rate, not by history. Same in-order-per-key
    contract as ``stateful_match_sequence``.
    """
    (fname, fcond), (sname, scond) = first, second
    return _key_grouped(
        df,
        key,
        ts_col,
        tiebreakers,
        [fcond, scond],
        watermark_delay,
        _ABSENCE_FIELDS,
        [T.StructField(f"{n}_ts", T.DoubleType()) for n in (fname, sname)],
        _absence_fold((fname, sname), within_s),
    )


_RUNS_FIELDS: list[Field] = [
    ("start", T.DoubleType(), np.nan),
    ("end", T.DoubleType(), np.nan),
    ("cnt", T.LongType(), 0),
]


def _runs_fold(min_len: int, idle_close_s: float | None) -> Fold:
    def fold(g: _Group) -> tuple:
        n = len(g.ts)
        start, end, cnt = g.prev["start"], g.prev["end"], g.prev["cnt"]
        hit = g.flag(0)  # NULL is a break, as in batch
        first_of_key = np.zeros(n, bool)
        first_of_key[g.starts] = True
        last_of_key = np.roll(first_of_key, -1)  # wraps row 0 onto the last row
        # runs of this call's rows: [run_first, run_last] per run, in order
        # (np.roll's wrapped value only lands on a key's first/last row)
        run_first = np.flatnonzero(hit & (first_of_key | ~np.roll(hit, 1)))
        run_last = np.flatnonzero(hit & (last_of_key | ~np.roll(hit, -1)))
        run_key = g.code[run_first]
        r_start, r_end = g.ts[run_first], g.ts[run_last]
        r_cnt = run_last - run_first + 1
        # a stored open run goes on into its key's first run when the key's
        # first row is a hit, and closes at that row when it is a break
        cont = first_of_key[run_first] & (cnt[run_key] > 0)
        r_start = np.where(cont, start[run_key], r_start)
        r_cnt = r_cnt + np.where(cont, cnt[run_key], 0)
        seg = g.code[g.starts]
        broke = seg[(cnt[seg] > 0) & ~hit[g.starts]]
        closed = ~last_of_key[run_last]
        # a key whose idle timer fired closes its stored run
        timed_out = np.flatnonzero(g.expired & (cnt > 0))

        out_key = np.r_[run_key[closed], broke, timed_out]
        out = (
            np.r_[r_start[closed], start[broke], start[timed_out]],
            np.r_[r_end[closed], end[broke], end[timed_out]],
            np.r_[r_cnt[closed], cnt[broke], cnt[timed_out]].astype(np.int64),
        )
        emit = out[2] >= min_len

        # a key's run left open by its last row is its new state
        new_start, new_end = np.full(len(cnt), np.nan), np.full(len(cnt), np.nan)
        new_cnt = np.zeros(len(cnt), np.int64)
        o = run_key[~closed]
        new_start[o], new_end[o], new_cnt[o] = r_start[~closed], r_end[~closed], r_cnt[~closed]
        at = new_end + (np.nan if idle_close_s is None else idle_close_s)
        cols = dict(zip(("run_start_ts", "run_end_ts", "run_len"), (c[emit] for c in out)))
        new = {"start": new_start, "end": new_end, "cnt": new_cnt}
        return new, new_cnt > 0, _timers(at, g.wm_ms), (out_key[emit], cols)

    return fold


def stateful_match_runs(
    df: DataFrame,
    key: str,
    cond: Column,
    ts_col: str = "ts",
    tiebreakers: Sequence[str] = (),
    min_len: int = 1,
    watermark_delay: str | None = None,
    idle_close_s: float | None = None,
) -> DataFrame:
    """Streaming Kleene-plus (``A+``): emit each MAXIMAL run of consecutive
    ``cond``-matching rows per key, in the micro-batch where the run CLOSES
    — a non-matching row arrives after it (the exact batch-``match_runs``
    break), or, with ``idle_close_s``, the event-time timer fires once the
    watermark passes ``run_end + idle_close_s`` (the alert-at-idle behavior
    a monitor wants; Flink CEP state-TTL flavor). Without ``idle_close_s``
    a run left open at stream end is never emitted — exactly the rows where
    batch and an unbounded stream genuinely differ.

    State per key is ONE open run (start, end, count), kept in the key's
    group (module docstring) — O(live keys), not O(history); closed runs
    leave no entry. Same in-order-per-key contract as
    ``stateful_match_sequence`` (module docstring); under it, the emitted
    set with a break after every run equals the batch operator with the
    same ``min_len``.
    """
    if idle_close_s is not None and watermark_delay is None:
        raise ValueError("idle_close_s requires watermark_delay")
    return _key_grouped(
        df,
        key,
        ts_col,
        tiebreakers,
        [cond],
        watermark_delay,
        _RUNS_FIELDS,
        [
            T.StructField("run_start_ts", T.DoubleType()),
            T.StructField("run_end_ts", T.DoubleType()),
            T.StructField("run_len", T.LongType()),
        ],
        _runs_fold(min_len, idle_close_s),
    )
