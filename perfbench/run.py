"""Streaming benchmark of the arroyo_spark engine.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 9 --trace 0

Drives the engine through the constructors ``jobs.py stream`` uses
(``session.get_spark`` -> ``FileStreamSource`` -> ``StreamProcessor`` ->
``ExactlyOnceSink`` -> ``OffsetsLedger``) at ``local[$SPARK_GRAFT_CPUS]``
(default 4), checks every output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

T_START = time.time()
ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"

# Input sizes and rates. The backlog epoch holds the whole ~150k-turn
# backlog so per-row work dominates the ~1 s per-epoch floor; live releases
# a 500-turn slice every 0.1 s (5k turns/s, well under backlog capacity) so
# the floor dominates; cep drains a smaller backlog because its per-key
# Python fold runs at a few thousand turns/s.
BACKLOG = {"convs": 14000, "slices": 32}
LIVE = {"turns_per_s": 5000, "interval_s": 0.1, "preroll_s": 2.0}
CEP = {"convs": 3000, "slices": 16}
# nominal seconds per drain on 4 cores, to turn --seconds into a drain count
BACKLOG_DRAIN_S = 4.5
CEP_DRAIN_S = 3.0
# Fixed, pre-touched JVM heap. get_spark's 16g default can exceed the host's
# memory, and a heap that G1 grows on demand reaches a different size in
# every run, so peak RSS would mostly measure GC timing. With the heap fixed,
# peak RSS is the heap plus everything off it: JVM native memory and Python.
HEAP = "4g"
# the fixed warm-up: this backlog drained once through the workload's pipeline
WARMUP = {"seed": 999_983, "convs": 1000, "slices": 8}

def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=("cep", "flagship"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _confine_temp_files(work: Path) -> None:
    """Keep Spark's, the JVM's and Python's scratch files inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


class CheckFailed(Exception):
    pass


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# -- one stream run -----------------------------------------------------------
class Stream:
    """One query over ``src``: pipeline -> ExactlyOnceSink -> ledger, with its
    own checkpoint and output dirs under ``work``."""

    def __init__(self, spark, src: Path, work: Path, pipeline, max_files: int,
                 trigger: dict | None = None, tracer=None) -> None:
        from arroyo_spark.streaming import ExactlyOnceSink, FileStreamSource, OffsetsLedger, StreamProcessor
        from arroyo_spark.types import STREAM_SCHEMA

        from perfbench.trace import TracedLedger, TracedSink

        self.work = work
        if tracer is None:
            self.ledger = OffsetsLedger(str(work), "bench")
            self.sink = ExactlyOnceSink(output_dir=str(work / "out"), ledger=self.ledger)
        else:
            self.ledger = TracedLedger(str(work), "bench", tracer=tracer)
            self.sink = TracedSink(output_dir=str(work / "out"), ledger=self.ledger, tracer=tracer)
        self.proc = StreamProcessor(
            spark=spark,
            source=FileStreamSource(str(src), STREAM_SCHEMA, max_files),
            sink=self.sink,
            checkpoint_dir=str(work / "ckpt"),
            pipeline=pipeline,
            trigger=trigger,
            query_name=f"perfbench_{work.name}",
        )
        self.query = None
        self.started_at = None

    def start(self):
        self.started_at = time.time()
        self.query = self.proc.start()
        return self.query

    def drain(self) -> Stream:
        self.start().awaitTermination()
        check(self.query.exception() is None, f"query failed: {self.query.exception()}")
        _log(f"{self.work.name}: {time.time() - self.started_at:.2f}s, triggers "
             f"{[p['durationMs']['triggerExecution'] for p in self.progress()]}")
        return self

    def progress(self) -> list[dict]:
        """Progress of the batches that ran (a processingTime query also
        reports its first, empty trigger)."""
        prog = [json.loads(p.json) for p in self.query.recentProgress]
        return [p for p in prog if "addBatch" in (p.get("durationMs") or {})]

    def file_batches(self) -> dict[str, int]:
        """slice file name -> batch id, from the checkpoint's file-source log."""
        out = {}
        for f in (self.work / "ckpt" / "sources" / "0").iterdir():
            if f.name[0] not in ".":
                for line in f.read_text().splitlines()[1:]:
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
        return out

    def commits(self) -> dict[int, float]:
        return {e["epoch_id"]: e["committed_at"] for e in self.ledger.entries()}

    def watermark_ms(self) -> int:
        from perfbench.trace import _iso_s

        wm = (self.query.lastProgress["eventTime"] or {}).get("watermark")
        return int(round(_iso_s(wm) * 1000)) if wm else 0

    def check_exactly_once(self, n_rows: int, slices: list[str]) -> None:
        """Contiguous ledger epochs (one per batch id), every slice committed
        exactly once, and ingested rows equal to input rows."""
        prog = self.progress()
        epochs = self.ledger.epochs()
        check(epochs == list(range(len(epochs))), f"ledger epochs not contiguous: {epochs}")
        check(sorted(p["batchId"] for p in prog) == epochs,
              f"ledger epochs {epochs} differ from the query's batch ids {[p['batchId'] for p in prog]}")
        fb = self.file_batches()
        check(sorted(fb) == sorted(slices), "file-source log differs from the slices offered")
        check(all(b in epochs for b in fb.values()), "a slice's batch has no ledger commit")
        ingested = sum(p["numInputRows"] for p in prog)
        check(ingested == n_rows, f"ingested {ingested} rows, input has {n_rows}")

    def freshness(self, released: dict[str, float]) -> list[float]:
        """Per slice: ledger commit of the epoch that ingested it minus the
        time it was due for release."""
        fb, commits = self.file_batches(), self.commits()
        return [commits[fb[name]] - due for name, due in released.items()]


# -- correctness against batch mode -------------------------------------------
_FLAGSHIP_VALUES = ("win_end", "n_turns", "n_tools", "n_tokens", "chars", "n_en")


def flagship_batch(spark, paths: list[Path]):
    """Batch-mode ``flagship_stream_pipeline`` over the input (cached)."""
    from arroyo_spark.types import STREAM_SCHEMA
    from jobs import flagship_stream_pipeline

    return flagship_stream_pipeline(spark.read.schema(STREAM_SCHEMA).parquet(*map(str, paths))).cache()


def closed(batch, watermark_ms: int):
    """The batch windows a stream's final watermark has closed."""
    from pyspark.sql import functions as F

    return batch.filter(F.col("win_end").cast("double") * 1000 <= watermark_ms)


def check_flagship(stream: Stream, expected) -> int:
    """No (win_start, conv_id) emitted twice, and the emitted windows equal
    the batch windows: same keys, equal counts and sums, and an average
    equal up to summation order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    key = ["win_start", "conv_id"]
    got = stream.sink.read_output(expected.sparkSession).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy(*key)))
    e, x = got.alias("e"), expected.alias("x")
    differs = F.lit(False)
    for c in _FLAGSHIP_VALUES:
        differs = differs | ~F.col(f"e.{c}").eqNullSafe(F.col(f"x.{c}"))
    q_e, q_x = F.col("e.avg_quality"), F.col("x.avg_quality")
    differs = differs | (F.abs(q_e - q_x) > F.lit(1e-9) * F.greatest(F.lit(1.0), F.abs(q_x)))
    row = e.join(x, key, "full_outer").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("e._n") > 1, 1)).alias("dups"),
        F.count(F.when(F.col("e.n_turns").isNull(), 1)).alias("missing"),
        F.count(F.when(F.col("x.n_turns").isNull(), 1)).alias("extra"),
        F.count(F.when(F.col("e.n_turns").isNotNull() & F.col("x.n_turns").isNotNull() & differs, 1)).alias("bad"),
    ).collect()[0]
    check(row["dups"] == 0, f"{row['dups']} windows emitted more than once")
    check(row["missing"] == 0 and row["extra"] == 0 and row["bad"] == 0,
          f"stream vs batch windows: {row['missing']} missing, {row['extra']} extra, "
          f"{row['bad']} differ of {row['n']}")
    return row["n"]


def cep_steps():
    from pyspark.sql import functions as F

    return [("user", F.col("role") == "user"), ("tool", F.col("role") == "tool"),
            ("assistant", F.col("role") == "assistant")]


def cep_pipeline(df):
    from arroyo_spark.streaming.cep import stateful_match_sequence

    return stateful_match_sequence(df, "conv_id", cep_steps(), tiebreakers=("turn_idx",))


_CEP_COLUMNS = ("conv_id", "user_ts", "tool_ts", "assistant_ts")


def cep_expected(spark, paths: list[Path]) -> set:
    """Batch ``match_sequence`` over the same input: (conv_id, step times)."""
    from pyspark.sql import functions as F

    from arroyo_spark.operators.cep import match_sequence
    from arroyo_spark.types import STREAM_SCHEMA

    df = match_sequence(spark.read.schema(STREAM_SCHEMA).parquet(*map(str, paths)),
                        "conv_id", cep_steps(), tiebreakers=("turn_idx",))
    return _cep_rows(df.select("conv_id", *[F.col(c).cast("double") for c in _CEP_COLUMNS[1:]]))


def _cep_rows(df) -> set:
    rows = [tuple(r) for r in df.select(*_CEP_COLUMNS).collect()]
    check(len(set(r[0] for r in rows)) == len(rows), "a conversation matched twice")
    return set(rows)


# -- workloads -----------------------------------------------------------------
def flagship_pipeline(df):
    from jobs import flagship_stream_pipeline

    return flagship_stream_pipeline(df)


class Input:
    """Cached slices (see gen.py)."""

    def __init__(self, src: Path, meta: dict) -> None:
        from perfbench import gen

        self.src, self.turns = src, meta["turns"]
        self.slices = [p.name for p in gen.slice_paths(src)]

    @classmethod
    def seeded(cls, spark, seed: int, convs: int, slices: int) -> Input:
        from perfbench import gen

        src = WORK / "cache" / f"s{seed}-c{convs}-k{slices}"
        return cls(src, gen.build(spark, src, seed, convs, slices))

    def prefix(self, slices: int, rows_per_slice: int) -> Input:
        """The first ``slices * rows_per_slice`` turns, in slices of that size."""
        from perfbench import gen

        dest = self.src.with_name(f"{self.src.name}-prefix{slices}x{rows_per_slice}")
        return Input(dest, gen.prefix(self.src, dest, slices, rows_per_slice))

    def paths(self) -> list[Path]:
        return [self.src / name for name in self.slices]


def drain(spark, inp: Input, work: Path, pipeline, tracer=None) -> Stream:
    """Drain a pre-landed backlog with ``availableNow`` in one epoch."""
    s = Stream(spark, inp.src, work, pipeline, len(inp.slices), tracer=tracer).drain()
    s.check_exactly_once(inp.turns, inp.slices)
    return s


def drains(spark, inp: Input, work: Path, pipeline, n: int, tracer=None) -> list[Stream]:
    """Drain the same backlog ``n`` times, each into fresh checkpoint and
    output dirs."""
    return [drain(spark, inp, work / f"drain{i}", pipeline, tracer=tracer) for i in range(n)]


def n_drains(seconds: float, nominal_s: float) -> int:
    """How many drains fill ``seconds``: a fixed count for a given run length,
    because a count that depended on how fast each drain went would measure
    warmer JVMs in faster runs."""
    return max(1, round(seconds / nominal_s))


def drain_metrics(runs: list[Stream]) -> dict:
    """catchup_tps: input turns over the time from start() to the last ledger
    commit (median over drains). freshness: per slice, the commit of the
    epoch that ingested it minus start(), when the whole backlog was due."""
    from perfbench.trace import median, quantile

    tps, fresh = [], []
    for s in runs:
        turns = sum(p["numInputRows"] for p in s.progress())
        tps.append(turns / (max(s.commits().values()) - s.started_at))
        fresh += s.freshness({name: s.started_at for name in s.file_batches()})
    return {"catchup_tps": median(tps), "freshness_p50_s": quantile(fresh, 0.5),
            "freshness_p90_s": quantile(fresh, 0.9)}


def live(spark, inp: Input, work: Path, interval_s: float, tracer=None):
    """Open loop: a releaser thread renames the next pre-built slice into the
    watched dir every ``interval_s`` and stamps its mtime, never waiting on
    the stream, which runs with a ``processingTime`` 0 trigger. Returns the
    stream, each slice's due time and how late each release was (ms)."""
    staged, watched = work / "staged", work / "in"
    shutil.copytree(inp.src, staged)
    watched.mkdir()
    s = Stream(spark, watched, work / "q", flagship_pipeline, 100_000,
               trigger={"processingTime": "0 seconds"}, tracer=tracer)
    s.start()
    released: dict[str, float] = {}
    late: list[float] = []

    def release() -> None:
        t0 = time.time() + 0.5
        for i, name in enumerate(inp.slices):
            due = t0 + i * interval_s
            time.sleep(max(0.0, due - time.time()))
            now = time.time()
            os.utime(staged / name, (now, now))
            os.rename(staged / name, watched / name)
            released[name] = due
            late.append((now - due) * 1e3)

    releaser = threading.Thread(target=release, name="perfbench-releaser")
    try:
        releaser.start()
        releaser.join()
        last = _await_committed(s, inp.slices[-1])
        # the batch after the last data batch emits the windows that the
        # advanced watermark closes
        deadline = time.time() + 10
        while time.time() < deadline and (last + 1 not in s.commits() or s.query.status["isTriggerActive"]):
            time.sleep(0.05)
    finally:
        s.proc.stop()
    check(s.query.exception() is None, f"query failed: {s.query.exception()}")
    _log(f"live: triggers {[p['durationMs']['triggerExecution'] for p in s.progress()]}")
    s.check_exactly_once(inp.turns, inp.slices)
    return s, released, late


def _await_committed(s: Stream, name: str, timeout_s: float = 60.0) -> int:
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        check(s.query.exception() is None, f"query failed: {s.query.exception()}")
        fb = s.file_batches() if (s.work / "ckpt" / "sources" / "0").exists() else {}
        if name in fb and fb[name] in s.commits():
            return fb[name]
        time.sleep(0.05)
    raise CheckFailed(f"slice {name} not committed within {timeout_s}s of release")


class Measured:
    """What one measurement pass produced."""

    def __init__(self, metrics: dict, drains: list[Stream], headline: list[Stream],
                 attempted: int, turns: int, late_ms: list[float] = ()) -> None:
        self.metrics, self.drains, self.headline = metrics, drains, headline
        self.attempted, self.turns, self.late_ms = attempted, turns, list(late_ms)

    @property
    def streams(self) -> list[Stream]:
        return list(dict.fromkeys(self.drains + self.headline))


class Flagship:
    """``flagship_stream_pipeline`` in two regimes, one JVM: a pre-landed
    backlog drained in one large epoch (catchup_tps), then the open-loop
    live stream of small epochs (freshness)."""

    pipeline = staticmethod(flagship_pipeline)

    def __init__(self, spark, seed: int, seconds: float) -> None:
        self.spark = spark
        self.backlog = Input.seeded(spark, seed, **BACKLOG)
        # the live input is the backlog's first turns in event-time order, so
        # every window the live watermark closes is complete in it and equal
        # to the backlog's batch-mode window
        self.live = self.backlog.prefix(round((seconds + LIVE["preroll_s"]) / LIVE["interval_s"]),
                                        round(LIVE["turns_per_s"] * LIVE["interval_s"]))

    def measure(self, work: Path, seconds: float, tracer=None) -> Measured:
        from perfbench.trace import quantile

        runs = drains(self.spark, self.backlog, work / "backlog", flagship_pipeline,
                      n_drains(seconds, BACKLOG_DRAIN_S), tracer)
        s, released, late = live(self.spark, self.live, work / "live", LIVE["interval_s"], tracer)
        # the first slices ride the query's start-up epochs, whose cost is
        # not the steady per-epoch floor this phase measures
        measured_from = min(released.values()) + LIVE["preroll_s"]
        fresh = s.freshness({k: due for k, due in released.items() if due >= measured_from})
        metrics = {
            "catchup_tps": drain_metrics(runs)["catchup_tps"],
            "freshness_p50_s": quantile(fresh, 0.5),
            "freshness_p90_s": quantile(fresh, 0.9),
        }
        return Measured(metrics, runs, [s], len(self.backlog.slices) * len(runs) + len(self.live.slices),
                        self.backlog.turns * len(runs) + self.live.turns, late)

    def check(self, m: Measured) -> dict:
        wms = {s.watermark_ms() for s in m.drains}
        check(len(wms) == 1, f"drains of one backlog ended on different watermarks: {wms}")
        batch = flagship_batch(self.spark, self.backlog.paths())
        wm = wms.pop()
        windows = [check_flagship(s, closed(batch, wm)) for s in m.drains]
        s = m.headline[0]
        return {"backlog_windows": windows, "live_windows": check_flagship(s, closed(batch, s.watermark_ms()))}


class Cep:
    """``stateful_match_sequence`` (user -> tool -> assistant per conv_id, no
    eviction) over a pre-landed backlog drained in one epoch."""

    pipeline = staticmethod(cep_pipeline)

    def __init__(self, spark, seed: int, seconds: float) -> None:
        self.spark = spark
        self.backlog = Input.seeded(spark, seed, **CEP)

    def measure(self, work: Path, seconds: float, tracer=None) -> Measured:
        runs = drains(self.spark, self.backlog, work, cep_pipeline, n_drains(seconds, CEP_DRAIN_S), tracer)
        return Measured(drain_metrics(runs), runs, runs, len(self.backlog.slices) * len(runs),
                        self.backlog.turns * len(runs))

    def check(self, m: Measured) -> dict:
        expected = cep_expected(self.spark, self.backlog.paths())
        for s in m.drains:
            got = _cep_rows(s.sink.read_output(self.spark))
            check(got == expected, f"stream matched {len(got)} conversations, batch {len(expected)}"
                  f" ({len(got ^ expected)} differ)")
        return {"matches": len(expected)}


WORKLOADS = {"flagship": Flagship, "cep": Cep}


# -- main --------------------------------------------------------------------
def main() -> int:
    args = _parse()
    os.environ["SPARK_GRAFT_CPUS"] = cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _confine_temp_files(run_dir)
    sys.path.insert(0, str(ROOT))
    import jobs  # noqa: F401 — the engine must be importable from the checkout

    from arroyo_spark.session import get_spark
    from perfbench.trace import ProcTree, Tracer, stage_ids

    tree = ProcTree()
    tree.start()
    tracer = Tracer() if args.trace else None
    spark = None
    try:
        t0 = time.time()
        spark = get_spark("perfbench", cores=int(cpus), extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch"})
        t1 = time.time()

        wl_cls = WORKLOADS[args.workload]
        warm_in = Input.seeded(spark, **WARMUP)
        t2 = time.time()
        drain(spark, warm_in, run_dir / "warmup", wl_cls.pipeline)
        t3 = time.time()
        session_s, warmup_s = t1 - t0, t3 - t2
        _log(f"session {session_s:.1f}s, warm-up {warmup_s:.1f}s")
        if tracer is not None:
            tracer.add("session", t0, t1, "setup")
            tracer.add("warmup", t2, t3, "setup")

        t0 = time.perf_counter()
        wl = wl_cls(spark, args.seed, args.seconds)
        _log(f"inputs {time.perf_counter() - t0:.1f}s")

        if tracer is not None:
            # untraced passes before and after the traced one: the JVM keeps
            # warming, so the overhead is traced vs the mean of the two
            base = [wl.measure(run_dir / "untraced0", args.seconds)]
        before, cpu0 = stage_ids(spark), tree.pyworker_cpu_s()
        m = wl.measure(run_dir / "measured", args.seconds, tracer)
        cpu1 = tree.pyworker_cpu_s()
        layers = {}
        if tracer is not None:
            layers = _layers(spark, tracer, m, before, cpu1 - cpu0, session_s, warmup_s)
            base.append(wl.measure(run_dir / "untraced1", args.seconds))
            layers.update(_overhead(base, m))
        t0 = time.perf_counter()
        facts = wl.check(m)
        _log(f"checks {time.perf_counter() - t0:.1f}s: {facts}")

        if tracer is None:
            out = dict(m.metrics, setup_s=session_s + warmup_s, peak_rss_mb=tree.peak_rss_bytes / 2**20)
            units = _units("end_to_end")
        else:
            out = dict(layers, **{"cep.matches": float(facts.get("matches", 0))})
            units = _units("per_layer")
            tracer.dump(WORK / "traces" / f"{args.workload}-seed{args.seed}.json")
        result = {
            "correct": True,
            "attempted": m.attempted,
            "failed": 0,
            "metrics": {k: {"value": float(out[k]), "unit": u} for k, u in units.items()},
        }
        code = 0
    except CheckFailed as e:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
        result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        code = 1
    finally:
        if spark is not None:
            _stop_spark(spark)
        tree.stop()
        if not tree.wait_exited():
            _log("a child process outlived the JVM")
        shutil.rmtree(run_dir, ignore_errors=True)
        _log("stopped")
    print(json.dumps(result))
    return code


def _layers(spark, tracer, m: Measured, before: set, pyworker_cpu_s: float,
            session_s: float, warmup_s: float) -> dict:
    """Per-layer metrics of the traced pass ``m``."""
    from perfbench.trace import exec_layers, median, progress_layers, quantile

    for s in m.streams:
        for p in s.progress():
            tracer.add_epoch(s.work.name, p, s.sink.spans)
    head = [p for s in m.headline for p in s.progress()]
    drained = [p for s in m.drains for p in s.progress() if p["numInputRows"]]
    # the headline stream's epochs: the live stream, or the cep drains
    traces = {f"{s.work.name}/{p['batchId']}" for s in m.headline for p in s.progress()}

    def self_ms(name):
        return median(tracer.self_ms(name, traces))

    return {
        "session.start_s": session_s,
        "warmup.s": warmup_s,
        **progress_layers(head),
        "drain.trigger_ms_p50": median(p["durationMs"]["triggerExecution"] for p in drained),
        "drain.serial_ms_p50": median(
            p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"] for p in drained
        ),
        "sink.call_ms_p50": median(tracer.duration_ms("sink.call", traces)),
        "sink.jobs_per_epoch": median(n for s in m.headline for n in s.sink.jobs.values()),
        "ledger.commit_ms_p50": median(tracer.duration_ms("ledger.commit", traces)),
        "pyworker.cpu_s": pyworker_cpu_s,
        **exec_layers(spark, before, m.turns),
        "gen.late_p90_ms": quantile(m.late_ms, 0.9),
        "self.epoch_ms_p50": self_ms("epoch"),
        "self.add_batch_ms_p50": self_ms("addBatch"),
        "self.sink_ms_p50": self_ms("sink.call"),
        "self.ledger_ms_p50": self_ms("ledger.commit"),
    }


def _overhead(base: list[Measured], traced: Measured) -> dict:
    """How much tracing worsens each headline metric, in percent."""
    tps = sum(b.metrics["catchup_tps"] for b in base) / len(base)
    fresh = sum(b.metrics["freshness_p50_s"] for b in base) / len(base)
    return {
        "trace.overhead_catchup_pct": (tps / traced.metrics["catchup_tps"] - 1) * 100,
        "trace.overhead_freshness_pct": (traced.metrics["freshness_p50_s"] / fresh - 1) * 100,
    }


def _log(msg: str) -> None:
    print(f"perfbench: [{time.time() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _units(kind: str) -> dict:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
