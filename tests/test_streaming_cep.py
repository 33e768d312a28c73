"""Streaming CEP (streaming/cep.py): cross-epoch completion, single
emission, and equivalence with the batch operator on the same input."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from arroyo_spark.operators import match_sequence
from arroyo_spark.streaming.cep import stateful_match_sequence

SCHEMA = "k string, ts timestamp, i int, ev string"


def _ts(minute: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, 0) + datetime.timedelta(minutes=minute)


STEPS = lambda: [  # noqa: E731 — fresh Columns per call
    ("a", F.col("ev") == "A"),
    ("b", F.col("ev") == "B"),
    ("c", F.col("ev") == "C"),
]

EPOCH1 = [
    ("k1", _ts(1), 0, "A"),
    ("k2", _ts(1), 0, "B"),  # B before any A — dead unless an A arrives
    ("k3", _ts(1), 0, "A"),
]
EPOCH2 = [
    ("k1", _ts(2), 1, "B"),
    ("k1", _ts(3), 2, "C"),   # k1 completes here (A in epoch 1!)
    ("k2", _ts(2), 1, "A"),
    ("k3", _ts(30), 1, "B"),  # outside within=10min of k3's anchor
]
EPOCH3 = [
    ("k1", _ts(4), 3, "C"),   # post-completion rows must not re-emit
    ("k2", _ts(3), 2, "B"),
    ("k2", _ts(4), 3, "C"),   # k2 completes (chain anchored at its A)
    ("k3", _ts(31), 2, "C"),
]


def _run_stream(spark, tmp_path, epochs, within_s):
    src = tmp_path / "src"
    for i, rows in enumerate(epochs):
        d = src / f"epoch={i}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(str(d))
        # FileStreamSource orders batches by file mtime — pin distinct,
        # increasing mtimes so epoch order is deterministic on fast writes
        for f in d.glob("*.parquet"):
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = stateful_match_sequence(
        stream, key="k", steps=STEPS(), tiebreakers=["i"], within_s=within_s
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cep_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql("SELECT * FROM cep_out").collect()


def test_eviction_bounds_state(spark, tmp_path):
    """With watermark timeouts: dead chains evicted at anchor+within (exact),
    completion tombstones at completion+evict_after_s, never-anchored keys
    write no state — the state store drains to zero rows."""
    epochs = [
        [
            ("done", _ts(0), 0, "A"),
            ("done", _ts(1), 1, "B"),
            ("done", _ts(2), 2, "C"),   # completes; tombstone until 00:02+60s
            ("dead", _ts(0), 0, "A"),   # anchored; dead once wm > 00:00+300s
            ("never", _ts(0), 0, "X"),  # never anchors -> no state at all
        ],
        [("never", _ts(60), 1, "X")],   # advances watermark to 01:00
        [("never", _ts(90), 2, "X")],   # wm=01:00 at this batch -> evict both
    ]
    src = tmp_path / "src"
    for i, rows in enumerate(epochs):
        d = src / f"epoch={i}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(str(d))
        for f in d.glob("*.parquet"):
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = stateful_match_sequence(
        stream,
        key="k",
        steps=STEPS(),
        tiebreakers=["i"],
        within_s=300.0,
        watermark_delay="0 seconds",
        evict_after_s=60.0,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cep_evict")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM cep_evict").collect()
    assert [(r["k"], r["a_ts"], r["b_ts"], r["c_ts"]) for r in got] == [
        ("done", _ts(0).timestamp(), _ts(1).timestamp(), _ts(2).timestamp())
    ]
    state = q.lastProgress["stateOperators"][0]
    assert state["numRowsTotal"] == 0, state


def test_stateful_absence_timeout_and_late_resolution(spark, tmp_path):
    """Timeout detector: on-time B resolves silently; too-late B emits with
    its time; no-B emits via the event-time timer with null; state drains."""
    from arroyo_spark.streaming.cep import stateful_match_absence

    epochs = [
        [
            ("k1", _ts(0), 0, "T"),
            ("k2", _ts(0), 0, "T"),
            ("k2", _ts(2), 1, "R"),   # on time (within 5 min) -> silent
            ("k3", _ts(0), 0, "T"),
        ],
        [("k1", _ts(40), 1, "R")],    # too late -> emit (k1, 0, 40) now
        [("x", _ts(41), 0, "X")],     # watermark 40min > k3 deadline -> timer
    ]
    src = tmp_path / "src"
    for i, rows in enumerate(epochs):
        d = src / f"epoch={i}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(str(d))
        for f in d.glob("*.parquet"):
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = stateful_match_absence(
        stream,
        key="k",
        first=("t", F.col("ev") == "T"),
        second=("r", F.col("ev") == "R"),
        within_s=300.0,
        watermark_delay="0 seconds",
        tiebreakers=["i"],
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cep_absence")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["k"], r["t_ts"], r["r_ts"]) for r in spark.sql("SELECT * FROM cep_absence").collect()}
    assert got == {
        ("k1", _ts(0).timestamp(), _ts(40).timestamp()),
        ("k3", _ts(0).timestamp(), None),
    }
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 0


def test_stateful_match_completes_across_epochs(spark, tmp_path):
    got = _run_stream(spark, tmp_path, [EPOCH1, EPOCH2, EPOCH3], within_s=600.0)
    rows = {r["k"]: (r["a_ts"], r["b_ts"], r["c_ts"]) for r in got}
    assert len(got) == len(rows) == 2  # k1 + k2, one emission each
    assert rows["k1"] == (_ts(1).timestamp(), _ts(2).timestamp(), _ts(3).timestamp())
    # k2's chain anchors at its epoch-2 A (the epoch-1 B is before any A)
    assert rows["k2"] == (_ts(2).timestamp(), _ts(3).timestamp(), _ts(4).timestamp())
    # k3 never completes: B/C fall outside within of its anchor


# degenerate rows, one list per epoch: a conversation with a NULL key (its
# chain spans epochs, so the NULL key is carried in state) and rows whose
# step condition is NULL (ev NULL: no step matches)
DEGENERATE = [
    [(None, _ts(1), 0, "A"), ("k4", _ts(1), 0, None), ("k4", _ts(2), 1, "A")],
    [(None, _ts(2), 1, None), (None, _ts(3), 2, "B")]
    + [("k4", _ts(3), 2, None), ("k4", _ts(4), 3, "B")],
    [(None, _ts(4), 3, "C"), ("k4", _ts(5), 4, None), ("k4", _ts(6), 5, "C")],
]


@pytest.mark.parametrize("within", [None, 600.0])
def test_stateful_match_equals_batch(spark, tmp_path, within):
    epochs = [rows + extra for rows, extra in zip([EPOCH1, EPOCH2, EPOCH3], DEGENERATE)]
    all_rows = [r for rows in epochs for r in rows]
    batch = match_sequence(
        spark.createDataFrame(all_rows, SCHEMA),
        key="k",
        steps=STEPS(),
        tiebreakers=["i"],
        within=None if within is None else f"{int(within)} seconds",
    ).collect()
    want = {
        r["k"]: (r["a_ts"].timestamp(), r["b_ts"].timestamp(), r["c_ts"].timestamp())
        for r in batch
    }
    assert None in want and "k4" in want
    got_rows = _run_stream(spark, tmp_path, epochs, within_s=within)
    got = {r["k"]: (r["a_ts"], r["b_ts"], r["c_ts"]) for r in got_rows}
    assert got == want and len(got_rows) == len(got)


def _write_epochs(spark, tmp_path, epochs):
    src = tmp_path / "src"
    for i, rows in enumerate(epochs):
        d = src / f"epoch={i}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(str(d))
        for f in d.glob("*.parquet"):
            os.utime(f, (1_700_000_000 + i, 1_700_000_000 + i))
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )


def test_stateful_runs_closes_on_break_and_equals_batch(spark, tmp_path):
    """A run extended across epochs emits once when its break arrives, and
    the emitted set equals batch match_runs over the concatenated input
    (every run in this fixture is followed by a break)."""
    from arroyo_spark.operators import match_runs
    from arroyo_spark.streaming.cep import stateful_match_runs

    epochs = [
        [("k1", _ts(0), 0, "A"), ("k1", _ts(1), 1, "A"), ("k2", _ts(0), 0, "A")],
        [("k1", _ts(2), 2, "A"), ("k2", _ts(1), 1, "X")],  # k2's run closes
        [("k1", _ts(3), 3, "X"), ("k1", _ts(4), 4, "A"), ("k1", _ts(5), 5, "X")],
    ]
    stream = _write_epochs(spark, tmp_path, epochs)
    out = stateful_match_runs(
        stream, key="k", cond=F.col("ev") == "A", tiebreakers=["i"], min_len=2
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cep_runs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["k"], r["run_start_ts"], r["run_end_ts"], r["run_len"])
        for r in spark.sql("SELECT * FROM cep_runs").collect()
    }
    # k1: [0,1,2] closed by the epoch-3 break; [4] filtered by min_len;
    # k2: [0] filtered by min_len
    assert got == {("k1", _ts(0).timestamp(), _ts(2).timestamp(), 3)}

    all_rows = [r for ep in epochs for r in ep]
    batch = match_runs(
        spark.createDataFrame(all_rows, SCHEMA),
        key="k",
        cond=F.col("ev") == "A",
        tiebreakers=["i"],
        min_len=2,
    ).collect()
    want = {
        (r["k"], r["run_start_ts"].timestamp(), r["run_end_ts"].timestamp(), r["run_len"])
        for r in batch
    }
    assert got == want


def test_stateful_runs_idle_timer_emits_open_run(spark, tmp_path):
    """With idle_close_s: a run with no break emits via the event-time timer
    once the watermark passes run_end + idle_close_s, and state drains."""
    from arroyo_spark.streaming.cep import stateful_match_runs

    epochs = [
        [("k1", _ts(0), 0, "A"), ("k1", _ts(1), 1, "A")],  # open run, no break
        [("x", _ts(30), 0, "X")],   # watermark -> 00:30 > 00:01 + 300s
        [("x", _ts(31), 1, "X")],   # timer fires in this batch
    ]
    stream = _write_epochs(spark, tmp_path, epochs)
    out = stateful_match_runs(
        stream,
        key="k",
        cond=F.col("ev") == "A",
        tiebreakers=["i"],
        min_len=2,
        watermark_delay="0 seconds",
        idle_close_s=300.0,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("cep_runs_idle")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["k"], r["run_start_ts"], r["run_end_ts"], r["run_len"])
        for r in spark.sql("SELECT * FROM cep_runs_idle").collect()
    }
    assert got == {("k1", _ts(0).timestamp(), _ts(1).timestamp(), 2)}
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 0


def test_stateful_match_bigint_key(spark, tmp_path):
    """Regression: the output key field carries the source column's type —
    a bigint key must emit, not crash Arrow serialization. A key past 2**53
    that shares its key group with the NULL key comes out exact (pandas
    would hold that group's keys as float64 if the NULL reached it)."""
    from arroyo_spark.streaming.cep import KEY_GROUPS

    def group(c):
        return F.pmod(F.xxhash64(c), F.lit(KEY_GROUPS))

    big = (
        spark.range(1 << 12)
        .select((F.col("id") * 2 + (1 << 60) + 1).alias("k"))  # odd: no float64 holds it
        .filter(group(F.col("k")) == group(F.lit(None).cast("bigint")))
        .first()["k"]
    )
    schema = "k bigint, ts timestamp, i int, ev string"
    rows = [(k, _ts(1 + j), j, ev) for k in (7, big, None) for j, ev in enumerate("ABC")]
    src = tmp_path / "src"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / "epoch=0"))
    stream = spark.readStream.schema(schema).parquet(str(src / "*"))
    out = stateful_match_sequence(stream, key="k", steps=STEPS(), tiebreakers=["i"])
    q = (
        out.writeStream.format("memory")
        .queryName("cep_bigint")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM cep_bigint").collect()
    assert len(got) == 3
    assert {(r["k"], r["c_ts"]) for r in got} == {(k, _ts(3).timestamp()) for k in (7, big, None)}
    assert dict(spark.sql("SELECT * FROM cep_bigint").dtypes)["k"] == "bigint"


# -- the key-group fold, without Spark ------------------------------------------
#
# Reference: the per-key state functions the key-group driver replaced, one
# call per key with its rows in (ts, tiebreaker) order, and Spark's per-key
# driver around them. The group fold must give the same state, timers and
# emissions for every key of the group.


def _timer(at_s, wm_ms):
    return max(int(at_s * 1000), wm_ms + 1)


def _ref_sequence(k, within_s, evict_after_s, use_timeouts):
    def ref(state, rows, timed_out, wm_ms):
        if timed_out:
            return None, None, []
        chain, emitted = (list(state[:-1]), state[-1]) if state else ([None] * k, False)
        if emitted:
            timer = None
            if use_timeouts and evict_after_s is not None:
                timer = _timer(chain[-1] + evict_after_s, wm_ms)
            return state, timer, []
        for ts, flags in rows:
            upd = {}
            if flags[0] and (chain[0] is None or ts < chain[0]):
                upd[0] = ts
            for i in range(1, k):
                if (
                    chain[i] is None
                    and flags[i]
                    and chain[i - 1] is not None
                    and (within_s is None or ts <= chain[0] + within_s)
                ):
                    upd[i] = ts
            for i, v in upd.items():
                chain[i] = v
            if chain[-1] is not None:
                break
        done = chain[-1] is not None
        if not done and chain[0] is None:
            return None, None, []
        timer = None
        if use_timeouts:
            if done and evict_after_s is not None:
                timer = _timer(chain[-1] + evict_after_s, wm_ms)
            elif not done and within_s is not None:
                timer = _timer(chain[0] + within_s, wm_ms)
        return (*chain, done), timer, [tuple(chain)] if done else []

    return ref


def _ref_runs(min_len, idle_close_s, use_timeouts):
    def ref(state, rows, timed_out, wm_ms):
        run, out = state, []
        if timed_out:
            return None, None, [run] if run[2] >= min_len else []
        for ts, (hit,) in rows:
            if hit:
                run = (ts, ts, 1) if run is None else (run[0], ts, run[2] + 1)
            elif run is not None:
                if run[2] >= min_len:
                    out.append(run)
                run = None
        if run is None:
            return None, None, out
        timer = None
        if use_timeouts and idle_close_s is not None:
            timer = _timer(run[1] + idle_close_s, wm_ms)
        return run, timer, out

    return ref


def _ref_absence(within_s):
    def ref(state, rows, timed_out, wm_ms):
        pending, out = list(state or ()), []
        wm = wm_ms / 1000.0
        for ts, (fa, fb) in rows:
            if fb and pending:
                out.extend((a, ts) for a in pending if ts > a + within_s)
                pending = []
            if fa:
                pending.append(ts)
        still = [a for a in pending if wm <= a + within_s]
        out.extend((a, None) for a in pending if wm > a + within_s)
        if not still:
            return None, None, out
        return tuple(still), _timer(min(still) + within_s, wm_ms), out

    return ref


def _ref_group(ref, prev, rows, wm_ms):
    """Spark's per-key driver: a key with rows is folded; a key without rows
    whose timer is below the watermark times out; any other key is kept."""
    state, out = {}, []
    for key in set(prev) | set(rows):
        st, timer = prev.get(key, (None, None))
        emitted = []
        if key in rows:
            in_order = sorted(rows[key], key=lambda r: r[:2])  # (ts, tiebreaker)
            st, timer, emitted = ref(st, [(ts, fl) for ts, _, fl in in_order], False, wm_ms)
        elif wm_ms is not None and timer is not None and timer < wm_ms:
            st, timer, emitted = ref(st, [], True, wm_ms)
        if st is not None:
            state[key] = (st, timer)
        out += [(key, *e) for e in emitted]
    return state, sorted(out, key=str)


def _run_group_fold(fold, fields, prev, rows, wm_ms, n_flags, encode, decode):
    """The key-group fold over the same input, in and out of the reference's
    per-key form (``encode``/``decode`` map one key's state)."""
    import pandas as pd

    from arroyo_spark.streaming.cep import _fold_group

    stored = [(key, encode(st), 0 if t is None else t) for key, (st, t) in prev.items()]
    table = (
        [key for key, _, _ in stored],
        [t for _, _, t in stored],
        *[[st[j] for _, st, _ in stored] for j in range(len(fields))],
    )
    flat = [(key, *r) for key, rs in rows.items() for r in rs]
    pdf = pd.DataFrame(
        {
            "_k": [r[0] for r in flat],
            "_ts": [float(r[1]) for r in flat],
            "_tb0": [float(r[2]) for r in flat],
            # bit i: flag i is TRUE (a NULL flag packs as unset, as in _flag_bits)
            "_f": [sum(1 << i for i in range(n_flags) if r[3][i] is True) for r in flat],
        }
    )
    shuffled = pdf.sample(frac=1, random_state=0)
    new, group_timer, out = _fold_group(fold, fields, "k", table, shuffled, 1, wm_ms)
    state = {}
    if new is not None:
        for j, key in enumerate(new[0]):
            state[key] = (decode(tuple(col[j] for col in new[2:])), new[1][j] or None)
        live = [t for t in new[1] if t]
        assert group_timer == (min(live) if live else None)
    got = []
    if out is not None:  # NaN (an absent second_ts) as None
        got = [tuple(None if v != v else v for v in r) for r in out.to_numpy(object).tolist()]
    return state, sorted(got, key=str)


def _random_rows(rng, keys, n_flags, p_true=0.4, t0=0.0):
    """Per key: 0-6 rows ``(ts, tiebreaker, flags)``, shuffled; a flag is
    NULL one time in ten."""
    rows = {}
    for key in keys:
        n = int(rng.integers(0, 7))
        # few distinct ts: ties, broken by the (distinct) tiebreaker
        tss = t0 + rng.integers(0, 6, n) * 10.0
        flags = [
            tuple(
                bool(rng.random() < p_true) if rng.random() > 0.1 else None
                for _ in range(n_flags)
            )
            for _ in range(n)
        ]
        if n:
            tbs = rng.permutation(n)
            rows[key] = [(float(t), float(tb), fl) for t, tb, fl in zip(tss, tbs, flags)]
    return rows


KEYS = ["a", "b", "c", "d", "e", "f", None]


@pytest.mark.parametrize("seed", range(40))
def test_group_fold_sequence_equals_per_key_loop(seed):
    """Seeded random groups: ts ties broken by the tiebreaker, within_s,
    partial chains in state, keys already emitted, rows older than a stored
    anchor, completion mid-batch, NULL flags, a NULL key, and (with
    timeouts) keys expiring in a call they have no rows in."""
    import numpy as np

    from arroyo_spark.streaming.cep import _sequence_fields, _sequence_fold

    rng = np.random.default_rng(seed)
    k = int(rng.integers(2, 5))
    within_s = [None, 20.0][seed % 2]
    use_timeouts = seed % 4 >= 2
    evict_after_s = 15.0 if use_timeouts and seed % 8 >= 6 else None
    wm_ms = int(rng.integers(0, 30)) * 1000 if use_timeouts else None
    prev = {}
    for key in KEYS:
        if rng.random() < 0.6:
            n_set = int(rng.integers(1, k + 1))  # k: emitted
            times = sorted(float(t) for t in rng.integers(0, 50, n_set))
            chain = tuple(times + [None] * (k - n_set))
            timer = int(rng.integers(1, 30)) * 1000 if use_timeouts and rng.random() < 0.7 else None
            prev[key] = ((*chain, n_set == k), timer)
    rows = _random_rows(rng, KEYS, k)
    want = _ref_group(_ref_sequence(k, within_s, evict_after_s, use_timeouts), prev, rows, wm_ms)

    def encode(st):
        return (st[-1], *[np.nan if t is None else t for t in st[:-1]])

    def decode(st):
        return (*[None if t != t else t for t in st[1:]], st[0])

    got = _run_group_fold(
        _sequence_fold([f"s{i}" for i in range(k)], within_s, evict_after_s),
        _sequence_fields(k), prev, rows, wm_ms, k, encode, decode,
    )
    assert got == want


@pytest.mark.parametrize("seed", range(20))
def test_group_fold_runs_equals_per_key_loop(seed):
    import numpy as np

    from arroyo_spark.streaming.cep import _RUNS_FIELDS, _runs_fold

    rng = np.random.default_rng(seed)
    min_len = int(rng.integers(1, 4))
    use_timeouts = seed % 2 == 1
    idle = 20.0 if use_timeouts else None
    wm_ms = int(rng.integers(0, 30)) * 1000 if use_timeouts else None
    prev = {}
    for key in KEYS:
        if rng.random() < 0.5:
            s, cnt = float(rng.integers(0, 10)), int(rng.integers(1, 4))
            timer = int(rng.integers(1, 30)) * 1000 if use_timeouts else None
            prev[key] = ((s, s + 5.0, cnt), timer)
    rows = _random_rows(rng, KEYS, 1, p_true=0.7, t0=10.0)
    want = _ref_group(_ref_runs(min_len, idle, use_timeouts), prev, rows, wm_ms)
    got = _run_group_fold(
        _runs_fold(min_len, idle), _RUNS_FIELDS, prev, rows, wm_ms, 1, lambda st: st, tuple
    )
    assert got == want


@pytest.mark.parametrize("seed", range(20))
def test_group_fold_absence_equals_per_key_loop(seed):
    import numpy as np

    from arroyo_spark.streaming.cep import _ABSENCE_FIELDS, _absence_fold

    rng = np.random.default_rng(seed)
    within_s = 20.0
    wm_ms = int(rng.integers(0, 30)) * 1000
    prev = {}
    for key in KEYS:
        if rng.random() < 0.5:
            pending = tuple(sorted(float(t) for t in rng.integers(0, 10, int(rng.integers(1, 3)))))
            prev[key] = (pending, int(rng.integers(1, 30)) * 1000)
    rows = _random_rows(rng, KEYS, 2, t0=10.0)
    want = _ref_group(_ref_absence(within_s), prev, rows, wm_ms)
    got = _run_group_fold(
        _absence_fold(("a", "b"), within_s), _ABSENCE_FIELDS, prev, rows, wm_ms, 2,
        lambda st: (list(st),), lambda st: tuple(st[0]),
    )
    assert got == want
