"""Per-query isolation bench + plan dumps (guide §1) — NOT the frozen bench.py.

Usage:
  python bench_extra.py time q1,q2 [--sf /root/testdata/sf1.0] [--runs 2] [--noop]
  python bench_extra.py plans q1,q2 --out plans/r06 --suffix _before
  python bench_extra.py time all            # every registered query

Methodology matches bench.py (checksum-v1 materialize, warmup at sf0.001),
with per-query job descriptions so the Spark UI maps time to queries.
``--noop`` uses the guide §1.4 noop sink instead of the checksum agg (times
computation without the driver-side agg funnel; NOT comparable to bench.py
numbers, use for isolation only). The JSON line also records the host's
1-minute load average before and after each query's runs (``load1``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import materialize  # noqa: E402 — the frozen bench's checksum action


def noop_write(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return -1


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["time", "plans"])
    ap.add_argument("queries", help="comma-separated names or 'all'")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--warmup-sf", default="/root/testdata/sf0.001")
    ap.add_argument("--no-warmup", action="store_true")
    ap.add_argument("--out", default="plans/r06")
    ap.add_argument("--suffix", default="")
    ap.add_argument("--json-out", default="")
    args = ap.parse_args()

    from arroyo_spark import queries as q
    from arroyo_spark.session import get_spark

    names = list(q.QUERIES) if args.queries == "all" else args.queries.split(",")
    for n in names:
        if n not in q.QUERIES:
            raise SystemExit(f"unknown query {n!r}")

    spark = get_spark(
        app_name="arroyo_spark_bench_extra", cores=args.cpus, shuffle_partitions=args.cpus
    )
    sc = spark.sparkContext

    if args.mode == "plans":
        os.makedirs(args.out, exist_ok=True)
        import contextlib
        import io

        for n in names:
            df = q.QUERIES[n](spark, args.sf)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(args.out, f"{n}{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}")
        return

    action = noop_write if args.noop else materialize
    if not args.no_warmup and os.path.isdir(args.warmup_sf):
        for n in names:
            try:
                sc.setJobDescription(f"warmup:{n}")
                action(q.QUERIES[n](spark, args.warmup_sf))
            except Exception as e:  # noqa: BLE001
                print(f"WARN warmup {n}: {e}", file=sys.stderr)
    timings: dict[str, float] = {}
    # host 1-minute load average before and after each query's runs: a
    # timing taken while other work shares the cores reads slow
    load1: dict[str, list[float]] = {}
    for n in names:
        load_before = os.getloadavg()[0]
        best = None
        for i in range(max(args.runs, 1)):
            sc.setJobDescription(f"bench:{n}:run{i}")
            t0 = time.time()
            action(q.QUERIES[n](spark, args.sf))
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        timings[n] = round(best, 3)
        load1[n] = [round(load_before, 2), round(os.getloadavg()[0], 2)]
        print(f"{n}: {best:.3f}s (load1 {load1[n][0]} -> {load1[n][1]})", flush=True)
    out = {
        "sf_dir": args.sf,
        "cpus": args.cpus,
        "noop": args.noop,
        "queries": timings,
        "load1": load1,
    }
    line = json.dumps(out)
    print(line)
    if args.json_out:
        with open(args.json_out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
