"""Map operators — the RunTask family.

Reference semantics (observable contract only):
- RunTask applies ``function`` to each message payload and forwards the
  result, preserving committable/timestamp
  (/root/reference/arroyo/processing/strategies/run_task.py:14-113).
- RunTaskInThreads / RunTaskWithMultiprocessing are the same map with
  IO-thread / CPU-process parallelism and batched shared-memory transfer
  (/root/reference/arroyo/processing/strategies/run_task_with_multiprocessing.py:380-973).

Spark mapping: a map is a projection. The 973-line multiprocessing machine
collapses into Arrow-batched execution that Spark already performs:
- JVM path (preferred): ``run_task`` with built-in column expressions —
  whole-stage codegen, zero Python.
- Python path (when semantics genuinely need Python): ``run_task_pandas``
  — a vectorized ``mapInPandas`` where Arrow plays the role of the
  reference's pickle-5 + SharedMemory blocks and
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` plays ``max_batch_size``.
- Per-row Python functions (the lexical and media kernels of ``dedup``,
  ``corpus`` and ``multimodal``): ``_row_kernel`` — one driver over
  ``run_task_pandas`` that calls the function once per row, assembles the
  batch's output frame and repeats the row's id per output row. The
  partition layout stays the caller's: a stage spreads its input with
  ``_spread`` where that pays, and keeps the scan layout where it does not.

Backpressure (``MessageRejected``), carried-message retry, and block
resizing have no analog here by design: Spark's pull-based scheduling and
Arrow streaming subsume them (SURVEY.md §4).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame

if TYPE_CHECKING:
    import pandas as pd


def run_task(df: DataFrame, **cols: Column) -> DataFrame:
    """Apply column transforms; non-mentioned columns pass through unchanged.

    ``run_task(df, text=normalize_text("text"))`` is the engine's
    ``RunTask(lambda msg: msg.replace(normalize(msg.payload)))``.
    """
    return df.withColumns(cols)


def run_task_pandas(
    df: DataFrame,
    fn: Callable[["pd.DataFrame"], "pd.DataFrame"],
    schema: str | None = None,
) -> DataFrame:
    """Arrow-batched per-batch transform (RunTaskWithMultiprocessing analog).

    ``fn`` receives/returns pandas DataFrames; output schema defaults to the
    input schema (payload-replace semantics). Runs in Spark's Python workers
    with Arrow transfer — batch-parallel across all partitions.
    """
    out_schema = schema or df.schema

    def _apply(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield fn(pdf)

    return df.mapInPandas(_apply, schema=out_schema)


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin the frame across the cluster IFF it has fewer
    partitions than cores (guide §2.5 input skew: a small parquet file
    scans as 1-2 splits, and every Arrow kernel downstream would run on
    1-2 cores while the rest idle). Conditional on the CURRENT partition
    count, so at production scale — where scans have thousands of natural
    splits — this is a no-op, never an extra corpus shuffle."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


# numpy dtype of each scalar DDL type a row function returns, so that a
# batch with no output rows still carries the schema's types; any other
# type (string, binary) is built as an object column
_NP_DTYPES = {"int": "int32", "long": "int64", "double": "float64"}


def _row_batch(
    fn: Callable[..., Sequence | None], schema: str
) -> Callable[["pd.DataFrame"], "pd.DataFrame"]:
    """The per-batch body of ``_row_kernel``: a pandas frame whose first
    column is the row id -> the output frame (id first, then ``schema``).

    ``fn`` gets the row's other values and returns one value per output
    column: scalars give one output row, equal-length lists give one row
    per element, ``None`` (or empty lists) gives none. The id is repeated
    for every output row of its input row."""
    fields = [f.split() for f in schema.split(",")]  # [[name, type], ...]

    def apply(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        outs: list[list] = [[] for _ in fields]
        counts = []
        for vals in zip(*(pdf[c] for c in pdf.columns[1:])):
            res = fn(*vals)
            if res is None:
                counts.append(0)
            elif isinstance(res[0], list):
                counts.append(len(res[0]))
                for out, v in zip(outs, res):
                    out.extend(v)
            else:
                counts.append(1)
                for out, v in zip(outs, res):
                    out.append(v)
        id_name = pdf.columns[0]
        frame = {id_name: pdf[id_name].to_numpy().repeat(counts)}
        for (name, typ), out in zip(fields, outs):
            frame[name] = np.asarray(out, dtype=_NP_DTYPES.get(typ, object))
        return pd.DataFrame(frame)

    return apply


def _row_kernel(
    df: DataFrame,
    cols: Sequence[str | Column],
    fn: Callable[..., Sequence | None],
    schema: str,
) -> DataFrame:
    """Run ``fn`` once per row of ``df.select(*cols)`` in one Arrow-batched
    ``mapInPandas`` (``run_task_pandas``).

    ``cols[0]`` is the row id and keeps its name and type; ``fn`` receives
    the values of the other columns and returns the ``schema`` columns
    (DDL, without the id) as ``_row_batch`` describes. The input keeps its
    partitioning; pass ``_spread(df)`` to run a small input on every core.
    """
    src = df.select(*cols)
    id_name, id_type = src.dtypes[0]
    return run_task_pandas(src, _row_batch(fn, schema), f"{id_name} {id_type}, {schema}")


# column that carries a mid-pipeline InvalidMessage reason (null = valid).
# The reference raises InvalidMessage(partition, offset) from ANY strategy
# and the DLQ produces the ORIGINAL raw message
# (/root/reference/arroyo/dlq.py:36-77, buffered originals :280-364).
# Spark mapping: transforms write results to NEW columns, keep the original
# payload column untouched, and record failures here; the exactly-once sink
# routes reason-carrying rows (originals intact) to the DLQ while the epoch
# still commits.
INVALID_REASON_COL = "_invalid_reason"


def run_task_safe(
    df: DataFrame,
    fn: Callable[["pd.DataFrame"], "pd.DataFrame"],
    out_cols: dict[str, str],
) -> DataFrame:
    """RunTask with InvalidMessage capture (the reference's poison-row path).

    ``fn`` maps an input pandas batch to a frame with columns ``out_cols``
    (name -> spark type). Fast path: one call per Arrow batch. If the batch
    raises, the batch is BISECTED: each half retries as a whole, recursing
    until single rows — failing rows get null outputs and their exception
    recorded in ``_invalid_reason``; all ORIGINAL input columns pass through
    unchanged, so the DLQ receives the original payload, not a
    half-transformed one.

    ``fn`` MUST be pure (no side effects): rows sharing a batch with a
    poison row are re-executed during bisection (each healthy row at most
    O(log batch) times, vs O(1 whole-batch + n single-row) calls under the
    old per-row fallback).
    """
    in_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    extra = ", ".join(f"{name} {typ}" for name, typ in out_cols.items())
    out_schema = f"{in_schema}, {extra}, {INVALID_REASON_COL} string"
    names = list(out_cols)

    def _apply(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        def _run(pdf: "pd.DataFrame") -> tuple[dict[str, list], list]:
            """(out_col -> values, reasons) for pdf, bisecting on failure."""
            try:
                res = fn(pdf)
            except Exception as e:  # noqa: BLE001
                return _bisect(pdf, e)
            vals = {
                n: list(res[n].to_numpy() if hasattr(res[n], "to_numpy") else res[n])
                for n in names
            }
            return vals, [None] * len(pdf)

        def _bisect(pdf: "pd.DataFrame", e: Exception) -> tuple[dict[str, list], list]:
            """_run over the two halves of a pdf whose fn call raised e."""
            if len(pdf) <= 1:
                return {n: [None] * len(pdf) for n in names}, [
                    f"{type(e).__name__}: {e}"
                ] * len(pdf)
            mid = len(pdf) // 2
            lv, lr = _run(pdf.iloc[:mid].reset_index(drop=True))
            rv, rr = _run(pdf.iloc[mid:].reset_index(drop=True))
            return {n: lv[n] + rv[n] for n in names}, lr + rr

        for pdf in batches:
            out = pdf.copy()
            try:
                res = fn(pdf)
                for n in names:
                    out[n] = res[n].to_numpy() if hasattr(res[n], "to_numpy") else res[n]
                out[INVALID_REASON_COL] = None
            except Exception as e:  # noqa: BLE001
                # poison batch: bisect to isolate the failing rows (reference
                # analog: InvalidMessage identifies a single original offset)
                vals, reasons = _bisect(pdf.reset_index(drop=True), e)
                for n in names:
                    out[n] = pd.Series(vals[n], dtype="object")
                out[INVALID_REASON_COL] = reasons
            yield out

    return df.mapInPandas(_apply, schema=out_schema)
