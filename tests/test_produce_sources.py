"""Produce composition + source-seam + metrics-vocabulary tests.

Mirrors /root/reference/arroyo/processing/strategies/produce.py:23-167
(mid-pipeline publish) and the metric inventory of
/root/reference/arroyo/utils/metric_defs.py:3-159.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from arroyo_spark.streaming import (
    METRIC_MAP,
    FileStreamSource,
    kafka_source,
    iceberg_source,
    produce_chain,
    to_kafka_records,
)
from arroyo_spark.synth import transcripts
from arroyo_spark.types import STREAM_SCHEMA


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    import glob
    import shutil

    root = tmp_path_factory.mktemp("prod_src")
    flat = tmp_path_factory.mktemp("prod_flat")
    df = transcripts(spark, 30, partitions=4).cache()
    hi = df.groupBy().max("offset").collect()[0][0]
    step = hi // 3 + 1
    for i in range(3):
        part = df.filter((F.col("offset") >= i * step) & (F.col("offset") < (i + 1) * step))
        part.coalesce(1).write.mode("overwrite").parquet(str(root / f"s{i}"))
        src = glob.glob(str(root / f"s{i}" / "part-*.parquet"))[0]
        shutil.copy(src, str(flat / f"{i:03d}.parquet"))
    df.unpersist()
    return str(flat)


def test_produce_chain_two_stage_dag(spark, stream_dir, tmp_path):
    """stage1 (normalize) -> topic -> stage2 (per-conv counts): the Produce
    composition; stage2 reads only stage1's committed epochs and the final
    counts equal a direct batch computation over the source."""
    root = str(tmp_path / "chain")
    sinks = produce_chain(
        spark,
        source=FileStreamSource(stream_dir, STREAM_SCHEMA, max_files_per_trigger=1),
        stages=[
            ("norm", lambda df: df.filter(F.col("role") != "system")),
            # per-epoch (arroyo-Reduce-style) aggregation happens INSIDE the
            # sink; a global streaming groupBy would need a watermark
            ("counts", None),
        ],
        root=root,
        sink_kwargs_by_stage={
            "counts": {
                "transform": lambda df: df.groupBy("conv_id").agg(
                    F.count(F.lit(1)).alias("n")
                )
            }
        },
    )
    got = {
        r["conv_id"]: r["n"]
        for r in sinks[1].read_output(spark).groupBy("conv_id").agg(F.sum("n").alias("n")).collect()
    }
    src = spark.read.schema(STREAM_SCHEMA).parquet(stream_dir)
    want = {
        r["conv_id"]: r["n"]
        for r in src.filter(F.col("role") != "system")
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_to_kafka_records_roundtrip(spark):
    df = transcripts(spark, 5, partitions=2, with_lineage=False)
    enc = to_kafka_records(df, key_cols=["conv_id"], value_cols=["conv_id", "turn_idx", "text"])
    assert enc.columns == ["key", "value"]
    schema = "conv_id string, turn_idx int, text string"
    dec = enc.select(F.from_json("value", schema).alias("p")).select("p.*")
    assert sorted(map(tuple, dec.collect())) == sorted(
        map(tuple, df.select("conv_id", "turn_idx", "text").collect())
    )


def test_source_seam_constructors():
    """The broker seams build correct readStream recipes (options contract —
    the jars live on the real cluster)."""
    k = kafka_source("broker:9092", "transcripts", max_offsets_per_trigger=10000)
    assert k.format == "kafka"
    assert k.options["kafka.bootstrap.servers"] == "broker:9092"
    assert k.options["subscribe"] == "transcripts"
    assert k.options["maxOffsetsPerTrigger"] == "10000"
    assert k.decode is not None

    i = iceberg_source("warehouse.db.transcripts", max_files_per_trigger=64)
    assert i.format == "iceberg"
    assert i.path == "warehouse.db.transcripts"
    assert i.options["streaming-max-files-per-micro-batch"] == "64"


def test_metric_vocabulary_covers_reference_inventory():
    """Every metric name in the reference's metric_defs is mapped (emitted /
    engine-native / subsumed-N/A with rationale)."""
    import re
    from pathlib import Path

    ref = Path("/root/reference/arroyo/utils/metric_defs.py").read_text()
    names = set(re.findall(r'"(arroyo\.[a-z_.0-9]+)"', ref))
    assert names, "reference inventory not found"
    missing = names - set(METRIC_MAP)
    assert not missing, f"unmapped reference metrics: {sorted(missing)}"
    for name, (klass, where) in METRIC_MAP.items():
        assert klass in ("emitted", "engine", "n/a") and where, name
