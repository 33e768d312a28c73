"""spark-submit --py-files shipping smoke (north rule: "the job ships via
spark-submit --py-files ... resumes from any checkpoint").

Everything else in the suite runs the engine in-process; this test runs the
REAL deployment path: `jobs.py` is copied into an empty directory (so the
package is NOT importable from the script's own dir) and the engine is
shipped exclusively as `arroyo_spark.zip` via --py-files, exactly as the
README documents. Three subprocess invocations:

  1. synth  -> sliced transcript stream
  2. stream -> flagship pipeline through the exactly-once sink
  3. stream AGAIN with the same --out/--checkpoint -> resume must be a
     no-op (no new epochs, identical committed rows) — the checkpoint-
     restart clause, exercised across process boundaries.

Batch parity is checked in-session (jobs.flagship_stream_pipeline over the
same slices) to avoid a fourth JVM: every streaming-emitted window must
equal its batch twin (late_pct=0 synth + availableNow drain => every
emitted window had seen all its rows).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent


def _spark_submit() -> str | None:
    exe = shutil.which("spark-submit")
    if exe:
        return exe
    try:
        import pyspark

        cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
        return cand if os.path.exists(cand) else None
    except ImportError:  # pragma: no cover
        return None


def _build_zip(dest: Path) -> Path:
    zpath = dest / "arroyo_spark.zip"
    pkg = REPO / "arroyo_spark"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(pkg.rglob("*.py")):
            z.write(f, f.relative_to(REPO))
    return zpath


def _run(submit: str, zpath: Path, jobs_py: Path, *args: str) -> str:
    env = dict(os.environ)
    # a small fixed heap: three sequential driver JVMs on a shared box
    env["SPARK_DRIVER_MEM"] = "2g"
    env.pop("PYSPARK_GATEWAY_PORT", None)  # never reuse the test JVM
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    out = subprocess.run(
        [submit, "--py-files", str(zpath), str(jobs_py), *args],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=str(jobs_py.parent),
    )
    assert out.returncode == 0, f"spark-submit failed:\n{out.stdout[-2000:]}\n{out.stderr[-4000:]}"
    return out.stdout


@pytest.mark.slow
def test_spark_submit_py_files_ship_and_resume(spark, tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("no spark-submit on PATH or in the pyspark dist")

    ship = tmp_path / "ship"
    ship.mkdir()
    # jobs.py alone in the ship dir: the package can ONLY come from the zip
    jobs_py = ship / "jobs.py"
    shutil.copy(REPO / "jobs.py", jobs_py)
    zpath = _build_zip(ship)
    assert not (ship / "arroyo_spark").exists()

    src = tmp_path / "src"
    run = tmp_path / "run"
    # 999 convs: (a) conv_start spans ~2 h of event time so the hour-0
    # flagship window CLOSES under the 10-min watermark (200 convs span
    # ~25 min and emit nothing); (b) below the hot_ratio=1000 threshold so
    # no hot conversations — a hot conv skews one hash partition's event
    # time HOURS behind the others at the same offset, and offset-range
    # slicing then feeds the stream hours out of order: streaming would
    # (correctly) watermark-drop those rows and batch parity would not hold
    _run(submit, zpath, jobs_py, "synth", "--out", str(src),
         "--convs", "999", "--files", "3", "--partitions", "4", "--cores", "4")
    n_slices = len(glob.glob(f"{src}/slice-*.parquet"))
    assert n_slices >= 3

    out1 = _run(submit, zpath, jobs_py, "stream", "--source", str(src),
                "--out", str(run), "--job-id", "ship", "--cores", "4",
                "--max-files-per-trigger", "1")
    ledger_files = sorted(glob.glob(f"{run}/ledger/ship/epoch-*.json"))
    assert len(ledger_files) >= n_slices  # one epoch per slice (mft=1)
    assert "epochs committed" in out1

    # ---- the run profiled itself: one line per epoch + a closing line ----
    epochs_before = [json.load(open(f))["epoch_id"] for f in ledger_files]
    profiles = glob.glob(f"{run}/ship/profile/*.jsonl")
    assert profiles, "jobs.py stream wrote no profile"
    recs = [json.loads(line) for p in profiles for line in open(p)]
    assert set(epochs_before) <= {r["batch_id"] for r in recs if "batch_id" in r}
    assert [r["exception"] for r in recs if "exception" in r] == [None]

    # ---- resume: same checkpoint + ledger => strict no-op ----------------
    data_before = sorted(glob.glob(f"{run}/ship/data/epoch=*/**/*.parquet", recursive=True))
    _run(submit, zpath, jobs_py, "stream", "--source", str(src),
         "--out", str(run), "--job-id", "ship", "--cores", "4",
         "--max-files-per-trigger", "1")
    ledger_after = sorted(glob.glob(f"{run}/ledger/ship/epoch-*.json"))
    assert [json.load(open(f))["epoch_id"] for f in ledger_after] == epochs_before
    data_after = sorted(glob.glob(f"{run}/ship/data/epoch=*/**/*.parquet", recursive=True))
    assert data_after == data_before

    # ---- batch parity, in-session (no 4th JVM) ---------------------------
    sys.path.insert(0, str(REPO))
    from arroyo_spark.streaming import ExactlyOnceSink, OffsetsLedger
    from arroyo_spark.types import STREAM_SCHEMA
    from jobs import flagship_stream_pipeline

    sink = ExactlyOnceSink(output_dir=f"{run}/ship", ledger=OffsetsLedger(str(run), "ship"))
    streamed = sink.read_output(spark).collect()
    assert streamed, "stream emitted no closed windows"
    batch = flagship_stream_pipeline(
        spark.read.schema(STREAM_SCHEMA).parquet(str(src))
    ).collect()
    key = lambda r: (r.win_start, r.conv_id)  # noqa: E731
    batch_by_key = {key(r): (r.n_turns, r.n_tokens, r.chars, r.n_en) for r in batch}
    got = {key(r): (r.n_turns, r.n_tokens, r.chars, r.n_en) for r in streamed}
    assert len(got) == len(streamed), "duplicate (window, conv) emission"
    for k, v in got.items():
        assert batch_by_key.get(k) == v, f"stream/batch divergence at {k}"
