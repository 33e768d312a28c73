"""Smoke checks for the measurement scripts — no Spark session is started.

- ``bench_extra`` times queries with the frozen bench's own checksum
  action, not a copy that could drift from it
- every script left in ``tools/`` still compiles
- ``bench.py``'s quietness gate dependency (``tools.mem_ladder.probe``)
  still resolves
"""

from __future__ import annotations

import py_compile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
TOOLS = sorted((REPO / "tools").glob("*.py"))


def test_bench_extra_uses_bench_materialize():
    import bench
    import bench_extra

    assert bench_extra.materialize is bench.materialize


@pytest.mark.parametrize("path", TOOLS, ids=[p.name for p in TOOLS])
def test_tool_compiles(path, tmp_path):
    py_compile.compile(str(path), cfile=str(tmp_path / "out.pyc"), doraise=True)


def test_bench_gate_probe_resolves():
    from tools.mem_ladder import probe

    assert callable(probe)
