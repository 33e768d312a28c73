"""Seeded transcript slices for the streaming benchmark.

The input is ``arroyo_spark.synth.transcripts`` (hot conversations
included), sorted by ``(ts, conv_id, turn_idx)`` and cut into equal
parquet slices whose modification times strictly increase. The file
source admits files in mtime order, so slices stay in event-time order and
no row falls behind the watermark.

Slices are cached per (seed, conversations, slices) under the checkout's
``.perfbench/cache`` directory; building them is neither timed nor counted
in set-up time.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

# fixed mtimes for pre-landed slices: one second apart, well inside the
# file source's 7-day maxFileAge window
_MTIME_BASE = 1_700_000_000


def slice_paths(src: Path) -> list[Path]:
    return sorted(src.glob("slice-*.parquet"))


def build(spark, dest: Path, seed: int, n_convs: int, n_slices: int) -> dict:
    """Generate (or reuse) ``n_slices`` equal slices in ``dest``; return
    their metadata: ``{"turns": int, "slice_rows": [int, ...]}``."""
    if (dest / "_meta.json").exists():
        return json.loads((dest / "_meta.json").read_text())
    from arroyo_spark.synth import transcripts

    table = transcripts(spark, n_convs, seed=seed).toArrow().sort_by(
        [("ts", "ascending"), ("conv_id", "ascending"), ("turn_idx", "ascending")]
    )
    return _write(table, dest, n_slices, -(-table.num_rows // n_slices))


def prefix(src: Path, dest: Path, n_slices: int, rows_per_slice: int) -> dict:
    """Re-cut the first ``n_slices * rows_per_slice`` rows of the slices in
    ``src`` into slices of exactly ``rows_per_slice`` rows."""
    if (dest / "_meta.json").exists():
        return json.loads((dest / "_meta.json").read_text())
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.concat_tables(pq.read_table(p) for p in slice_paths(src))
    if n_slices * rows_per_slice > table.num_rows:
        raise ValueError(f"{table.num_rows} rows cannot fill {n_slices} slices of {rows_per_slice}")
    return _write(table, dest, n_slices, rows_per_slice)


def _write(table, dest: Path, n_slices: int, per: int) -> dict:
    import pyarrow.parquet as pq

    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    rows = []
    for i in range(n_slices):
        part = table.slice(i * per, per)
        path = tmp / f"slice-{i:05d}.parquet"
        pq.write_table(part, path)
        os.utime(path, (_MTIME_BASE + i, _MTIME_BASE + i))
        rows.append(part.num_rows)
    meta = {"turns": sum(rows), "slice_rows": rows}
    (tmp / "_meta.json").write_text(json.dumps(meta))
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return meta
