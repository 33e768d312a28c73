"""Memory-bandwidth ladder — the quietness probe that actually matters.

Round-4 finding: a pure-ALU ladder kernel is blind to the host
contention that throttles the streaming job. Evidence: a window with
record ALU numbers (4-proc 33.5M ops/s, 16-proc 115.6M — both session
maxima) produced the session's WORST job legs (36.6k t/s at local[4]).
The job is memory-bandwidth-bound (shuffle + state store + parquet decode
all stream bytes); co-tenants hammering the memory controller slow the
job while leaving register arithmetic untouched.

This ladder measures aggregate multi-process STREAM-like copy bandwidth
(numpy copyto over arrays far larger than LLC). Quiet window = aggregate
GB/s near the session maximum at BOTH process counts.

Hardened: children occasionally die before reaching the start barrier on
this shared box (observed: 3 of 8 silently gone, the rest parked forever).
Every blocking step has a timeout; a broken level is terminated and
retried once; results are the surviving-process sum only if ALL procs
reported, else the level is retried/failed loudly.

Usage: python tools/mem_ladder.py [--procs 4,16] [--mb 256] [--reps 8]
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import sys
import time


def kernel(mb: int, reps: int, barrier, q) -> None:
    import numpy as np

    n = mb * 1024 * 1024 // 8
    src = np.ones(n, dtype=np.float64)
    dst = np.empty_like(src)
    np.copyto(dst, src)  # warm page tables
    try:
        barrier.wait(timeout=120)  # all procs stream together
    except Exception:
        q.put(None)
        return
    t0 = time.time()
    for _ in range(reps):
        np.copyto(dst, src)
    dt = time.time() - t0
    # bytes touched per rep: read src + write dst
    q.put(2 * mb * reps / 1024 / dt)  # GB/s for this process


def _run_level_once(procs: int, mb: int, reps: int) -> float | None:
    ctx = mp.get_context("spawn")  # fork from a threaded parent is the
    # prime suspect for the silent child deaths; spawn is clean
    q = ctx.Queue()
    barrier = ctx.Barrier(procs)
    ps = [ctx.Process(target=kernel, args=(mb, reps, barrier, q), daemon=True) for _ in range(procs)]
    for p in ps:
        p.start()
    rates: list[float] = []
    deadline = time.time() + 180
    try:
        for _ in ps:
            r = q.get(timeout=max(1.0, deadline - time.time()))
            if r is None:
                return None
            rates.append(r)
    except Exception:
        return None
    finally:
        for p in ps:
            if p.is_alive():
                p.terminate()
        for p in ps:
            p.join(timeout=10)
    # sum of in-kernel rates: spawn/import excluded, overlap enforced by
    # the barrier (every proc streams while every other proc streams)
    return sum(rates)


def run_level(procs: int, mb: int, reps: int) -> float:
    for attempt in range(3):
        r = _run_level_once(procs, mb, reps)
        if r is not None:
            return r
        print(f"mem_ladder: level {procs} attempt {attempt + 1} broken; retrying", file=sys.stderr)
    raise RuntimeError(f"mem_ladder: level {procs} failed 3 attempts")


def probe(procs: tuple[int, ...] = (2, 8), mb: int = 256, reps: int = 8) -> dict[str, float]:
    """Callable probe API (bench.py's pre/post quietness gate): aggregate
    GB/s per process count, best of 2 runs per level."""
    return {
        str(p): round(max(run_level(p, mb, reps) for _ in range(2)), 2) for p in procs
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--procs", default="4,16")
    ap.add_argument("--mb", type=int, default=256)
    ap.add_argument("--reps", type=int, default=8)
    args = ap.parse_args()
    out = {}
    for p in (int(x) for x in args.procs.split(",")):
        out[str(p)] = round(max(run_level(p, args.mb, args.reps) for _ in range(2)), 2)
        print(f"mem_ladder: {p} procs -> {out[str(p)]} GB/s aggregate", file=sys.stderr)
    print(json.dumps({"aggregate_gbps": out}))


if __name__ == "__main__":
    main()
