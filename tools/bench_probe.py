"""Fresh-process probe of single bench entries — the A/B measurement
harness for optimization work (same timing discipline as bench.py:
one untimed warmup, then min over reps of the noop-forced body), with
the same ambient steal%/load telemetry so a contended probe window is
visible in the output.

Usage: python tools/bench_probe.py <entry> [<entry> ...] [--reps N | --reps=N]
Env:   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as bench.py.
Prints one JSON line: {"entries": {name: {"min": s, "all": [...],
"steal_pct": p, "load1": l}}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _parse_args(argv: list[str]) -> tuple[list[str], int]:
    """Split argv into entry names and the rep count; ``--reps N`` and
    ``--reps=N`` are both accepted."""
    args, reps = [], 3
    it = iter(argv)
    for a in it:
        if a == "--reps":
            val = next(it, None)
            if val is None:
                raise SystemExit("--reps needs a value")
            reps = int(val)
        elif a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        else:
            args.append(a)
    return args, reps


def main() -> None:
    args, reps = _parse_args(sys.argv[1:])
    if not args:
        raise SystemExit("usage: bench_probe.py <entry> [...] [--reps N]")

    import bench
    from spark_sorted_spark.session import get_spark

    spark = get_spark("bench_probe")
    for t in ("events", "orders", "lineitem"):
        from spark_sorted_spark.sources.tpch import load_table

        load_table(spark, t, bench.SF_DIR).count()

    out = {}
    for name in args:
        fn = bench.BENCH[name]
        fn(spark)  # warmup
        t_amb0, l0 = bench._cpu_ticks(), bench._load1()
        allt = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark)
            allt.append(round(time.perf_counter() - t0, 3))
        t_amb1, l1 = bench._cpu_ticks(), bench._load1()
        out[name] = {
            "min": min(allt),
            "all": allt,
            "steal_pct": bench._steal_pct(t_amb0, t_amb1),
            "load1": max(x for x in (l0, l1, -1.0) if x is not None),
        }
    print(json.dumps({"entries": out, "sf": bench.SF_DIR}))


if __name__ == "__main__":
    main()
