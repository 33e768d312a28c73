"""spark-submit entry point for the arroyo_spark engine.

Usage (local sandbox stands in for a cluster — same invocation works with
--master yarn/k8s and real executors):

  # generate a sliced synthetic transcript stream
  spark-submit --py-files arroyo_spark.zip jobs.py synth \
      --out /tmp/stream_src --convs 10000 --files 8

  # run the flagship streaming pipeline (filter -> per-turn text features
  # -> watermarked tumbling-window Reduce per conversation) with the
  # exactly-once sink; resumable: re-run with the same --checkpoint/--out
  # to continue from where it stopped
  spark-submit --py-files arroyo_spark.zip jobs.py stream \
      --source /tmp/stream_src --out /tmp/flagship --job-id flagship

  # same pipeline in batch mode (for parity checks)
  spark-submit --py-files arroyo_spark.zip jobs.py batch \
      --source /tmp/stream_src --out /tmp/flagship_batch

Build the zip with:  (cd /root/repo && zip -r arroyo_spark.zip arroyo_spark)
Plain `python jobs.py ...` also works in local mode (SparkSession is
created on demand).
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def flagship_stream_pipeline(df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """The north-star pipeline: FilterStep -> RunTask (per-turn text
    features: normalize, tokenize, quality, lang-id) -> watermarked
    tumbling-window Reduce keyed by conv_id (arroyo #4 -> #1 -> #5).

    The per-turn feature block is the engine's real transcript workload
    (the same functions the text_quality_langid driver query checks) —
    all JVM column expressions, no Python in the hot path.
    """
    from arroyo_spark.functions import lang_id, normalize_text, quality_score
    from arroyo_spark.operators import filter_step, reduce_window, run_task

    # normalize once, then tokenize the already-normalized text (plain
    # split — avoids running the regex chain twice per row)
    cleaned = run_task(
        filter_step(df, F.col("role") != "system"),
        quality=quality_score("text"),
        lang=lang_id("text"),
        text=normalize_text("text"),
    )
    cleaned = run_task(
        cleaned,
        n_tokens=F.when(F.col("text") == "", 0).otherwise(
            F.size(F.split(F.col("text"), " "))
        ).cast("int"),
    )
    agg = reduce_window(
        cleaned,
        "1 hour",
        aggs={
            "n_turns": F.count(F.lit(1)),
            "n_tools": F.approx_count_distinct("tool"),
            "n_tokens": F.sum("n_tokens"),
            "chars": F.sum(F.length("text")),
            "avg_quality": F.avg("quality"),
            "n_en": F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)),
        },
        keys=["conv_id"],
        watermark=watermark,
    )
    return agg.select(
        F.col("win.start").alias("win_start"), F.col("win.end").alias("win_end"),
        "conv_id", "n_turns", "n_tools", "n_tokens", "chars", "avg_quality", "n_en",
    )


def cmd_synth(args) -> None:
    from arroyo_spark.session import get_spark
    from arroyo_spark.synth import transcripts

    spark = get_spark("arroyo_spark_synth", cores=args.cores)
    df = transcripts(spark, args.convs, partitions=args.partitions).cache()
    hi = df.agg(F.max("offset")).collect()[0][0]
    step = hi // args.files + 1
    os.makedirs(args.out, exist_ok=True)
    for i in range(args.files):
        part = df.filter((F.col("offset") >= i * step) & (F.col("offset") < (i + 1) * step))
        tmp = f"{args.out}/_tmp{i}"
        part.coalesce(max(1, args.partitions // 2)).write.mode("overwrite").parquet(tmp)
        for j, f in enumerate(sorted(glob.glob(f"{tmp}/part-*.parquet"))):
            shutil.move(f, f"{args.out}/slice-{i:04d}-{j:03d}.parquet")
        shutil.rmtree(tmp)
    print(f"synth: {df.count()} turns -> {args.files} slices in {args.out}")


def cmd_stream(args) -> None:
    from arroyo_spark.session import get_spark
    from arroyo_spark.streaming import (
        ExactlyOnceSink,
        FileStreamSource,
        OffsetsLedger,
        QueryProfiler,
        StreamProcessor,
    )
    from arroyo_spark.types import STREAM_SCHEMA

    spark = get_spark("arroyo_spark_flagship", cores=args.cores)
    # one record per epoch in <out>/<job_id>/profile/<query>.jsonl, plus the
    # healthcheck touch and the stuck watchdog (reference:
    # StreamProcessor(stuck_detector_timeout)) when asked for
    prof = QueryProfiler(
        f"{args.out}/{args.job_id}/profile",
        spark=spark,
        healthcheck_file=args.healthcheck,
        stuck_timeout_s=args.stuck_timeout,
    )
    spark.streams.addListener(prof)
    try:
        ledger = OffsetsLedger(args.out, args.job_id)
        sink = ExactlyOnceSink(output_dir=f"{args.out}/{args.job_id}", ledger=ledger)
        proc = StreamProcessor(
            spark=spark,
            source=FileStreamSource(args.source, STREAM_SCHEMA, args.max_files_per_trigger),
            sink=sink,
            checkpoint_dir=f"{args.out}/{args.job_id}/checkpoint",
            pipeline=lambda df: flagship_stream_pipeline(df, args.watermark),
            output_mode="append",
        )
        proc.run_until_complete()
        n = sink.read_output(spark).count()
        print(f"stream: {len(ledger.epochs())} epochs committed, {n} window rows in {args.out}/{args.job_id}")
    finally:
        # stopping the session drains the listener bus, so the profile gets
        # every progress event and the closing line before the job exits
        spark.stop()
        prof.close()


def cmd_batch(args) -> None:
    from arroyo_spark.session import get_spark
    from arroyo_spark.types import STREAM_SCHEMA

    spark = get_spark("arroyo_spark_flagship_batch", cores=args.cores)
    df = spark.read.schema(STREAM_SCHEMA).parquet(args.source)
    out = flagship_stream_pipeline(df)
    out.write.mode("overwrite").parquet(f"{args.out}/data")
    print(f"batch: {spark.read.parquet(f'{args.out}/data').count()} window rows -> {args.out}/data")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("synth")
    s.add_argument("--out", required=True)
    s.add_argument("--convs", type=int, default=10000)
    s.add_argument("--files", type=int, default=8)
    s.add_argument("--partitions", type=int, default=8)
    s.add_argument("--cores", type=int, default=os.cpu_count() or 8)
    s.set_defaults(fn=cmd_synth)

    st = sub.add_parser("stream")
    st.add_argument("--source", required=True)
    st.add_argument("--out", required=True)
    st.add_argument("--job-id", default="flagship")
    st.add_argument("--watermark", default="10 minutes")
    st.add_argument("--max-files-per-trigger", type=int, default=4)
    st.add_argument("--healthcheck", default=None)
    st.add_argument("--stuck-timeout", type=float, default=None,
                    help="seconds of listener-event silence before dumping stacks "
                         "to <out>/<job-id>/profile/<query>.stuck")
    st.add_argument("--cores", type=int, default=os.cpu_count() or 8)
    st.set_defaults(fn=cmd_stream)

    b = sub.add_parser("batch")
    b.add_argument("--source", required=True)
    b.add_argument("--out", required=True)
    b.add_argument("--cores", type=int, default=os.cpu_count() or 8)
    b.set_defaults(fn=cmd_batch)

    args = p.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
