"""Benchmark for spark_sorted_spark: seeded workloads, timed passes,
oracle-checked outputs and a traced build/run layer ledger.

Run from the repository root:

    python3 perfbench/run.py --workload keyed_skew --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One workload per process (``--workload all`` starts a fresh process per
workload and per trace mode, so no broadcast or temp-dir state crosses
workloads). A run generates its inputs from the seed (cached under
``.perfbench/cache``), starts Spark on all cores, builds stores and
runs one untimed warm-up pass, in which every op's output is also
checked against its oracle off the warm-up clock, and SETTLE_PASSES
untimed passes that are in no metric. It then times whole
passes until ``--seconds`` have elapsed and at least MIN_PASSES ran;
``pass_s`` is their median.

With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` it interleaves untraced and traced passes and carries the
per-layer ledger (see ``ledger.py``), the pass self time, the tracing
overhead and how many count metrics did not repeat across traced passes.
The last stdout line is the JSON result; spans and details go to
``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import host  # noqa: E402

STATE = ".perfbench"
ORDER = ("keyed_skew", "corpus_pipeline", "nightly_ingest")
MIN_PASSES = 3
# Untimed passes between the warm-up and the timed passes. On a 4-core
# VM the first pass after the warm-up ran 15-25% slower than the next
# two in both workloads (corpus_pipeline 5.9, 4.6 and 4.1 s).
SETTLE_PASSES = 1
# A traced run times passes in blocks of traced/plain/traced. Passes
# still speed up a little after the warm-up (the first ~8% slower than
# the third), and this order keeps that drift, and any linear one, out
# of the tracing overhead.
TRACED_BLOCK = (True, False, True)


def _program_present() -> bool:
    return os.path.isfile("spark_sorted_spark/__init__.py") and os.path.isfile(
        "tools/check_correctness.py"
    )


class Runner:
    def __init__(self, workload, ctx, ledger):
        self.w = workload
        self.ctx = ctx
        self.ledger = ledger
        self.attempted = 0
        self.failed = 0

    def _fail(self, op, what=None):
        """Count a failed op; without ``what``, report the exception
        being handled."""
        self.failed += 1
        what = what or traceback.format_exc(limit=3).strip().splitlines()[-1]
        print(f"FAIL  {op.name}: {what}", flush=True)

    def warm_up(self) -> float:
        """The untimed warm-up pass. Each op's result is forced like in
        a timed pass, then collected and checked against its oracle off
        the clock. Returns the time of the calls and forcing writes."""
        self.w.prepare(self.ctx, 0)
        wall = 0.0
        for op in self.w.ops:
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                df = op.call(self.ctx)
                if df is not None:
                    df.write.format("noop").mode("overwrite").save()
                wall += time.perf_counter() - t0
                got = df.toArrow() if df is not None else None
            except Exception:  # noqa: BLE001 - a raising op is a failed op
                self._fail(op)
                continue
            c0 = time.perf_counter()
            bad = op.check(self.ctx, got, df) if op.check else None
            dt = time.perf_counter() - c0
            if bad:
                self._fail(op, bad)
            elif op.check:
                what = f"{got.num_rows} rows match" if got is not None else "store state matches"
                print(f"PASS  {op.name}: {what} the oracle ({dt:.2f} s)", flush=True)
            else:
                print(f"PASS  {op.name}: checked through the op after it", flush=True)
        return wall

    def plain_pass(self, pass_no) -> float:
        self.w.prepare(self.ctx, pass_no)
        t0 = time.perf_counter()
        for op in self.w.ops:
            self.attempted += 1
            try:
                df = op.call(self.ctx)
                if df is not None:
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001
                self._fail(op)
        return time.perf_counter() - t0

    def traced_pass(self, pass_no) -> tuple[float, dict]:
        from ledger import bytes_written, python_nodes, store_bytes

        L = self.ledger
        self.w.prepare(self.ctx, pass_no)
        records, results = [], []
        ps = L.span("pass", None, pass_no=pass_no)
        for op in self.w.ops:
            self.attempted += 1
            before = store_bytes(self.ctx.store_roots) if op.writes_store else None
            rec = {"op": op.name, "layer": op.layer, "build_s": 0.0, "run_s": 0.0,
                   "build_jobs": (0, 0), "run_jobs": (0, 0),
                   "python_nodes": 0, "store_bytes": None}
            s = r = None
            try:
                L.set_group(op.name, "build")
                j0 = L.next_job_id()
                s = L.span(f"{op.name}:build", ps["id"], layer=op.layer)
                df = op.call(self.ctx)
                L.close(s)
                j1 = L.next_job_id()
                if df is None:  # an action: the whole call is its run phase
                    s["name"] = f"{op.name}:run"
                    rec["run_s"], rec["build_jobs"], rec["run_jobs"] = (
                        s["end"] - s["start"], (j0, j0), (j0, j1))
                else:
                    L.set_group(op.name, "run")
                    r = L.span(f"{op.name}:run", ps["id"], layer=op.layer)
                    df.write.format("noop").mode("overwrite").save()
                    L.close(r)
                    j2 = L.next_job_id()
                    rec["build_s"], rec["run_s"] = s["end"] - s["start"], r["end"] - r["start"]
                    rec["build_jobs"], rec["run_jobs"] = (j0, j1), (j1, j2)
                    results.append((rec, df))
            except Exception:  # noqa: BLE001
                self._fail(op)
                for open_span in (s, r):
                    if open_span is not None and open_span["end"] is None:
                        L.close(open_span, failed=True)
            finally:
                self.ctx.spark.sparkContext._jsc.clearJobGroup()
            if before is not None:
                rec["store_bytes"] = bytes_written(before, store_bytes(self.ctx.store_roots))
            records.append(rec)
        L.close(ps)
        wall = ps["end"] - ps["start"]
        children = sum(s["end"] - s["start"] for s in L.spans if s["parent"] == ps["id"])
        for rec, df in results:
            rec["python_nodes"] = python_nodes(df)
        sums = L.layer_sums(records)
        sums["pass.traced_s"] = wall
        sums["pass.self_s"] = wall - children
        ps["records"] = records
        return wall, sums


def run_one(args) -> int:
    from workloads import WORKLOADS, Ctx

    work = os.path.abspath(os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pinned = host.pin(work)
    data_dir, inputs = gen.generate(args.workload, args.seed, os.path.join(STATE, "cache"))
    data_dir = os.path.abspath(data_dir)
    workload = WORKLOADS[args.workload]()

    from ledger import Ledger, per_layer_names, unstable_counts
    from spark_sorted_spark.session import get_spark

    sampler = host.RssSampler()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark, data_dir, work, args.seed)
        runner = Runner(workload, ctx, Ledger(spark, pinned["cores"]))
        build_s = workload.setup(ctx)
        warm_s = runner.warm_up()
        setup_s = session_s + build_s + warm_s
        for i in range(SETTLE_PASSES):
            runner.plain_pass(i + 1)
        first = SETTLE_PASSES + 1
        heap_mb = host.jvm_heap_mb(spark)

        ambient = host.Ambient()
        ambient.start()
        plain, windows, steal, traced, layer_passes = [], [], [], [], []
        deadline = time.perf_counter() + args.seconds
        for i in itertools.count():
            # the sampler costs the passes some CPU: it runs in traced
            # passes too, so the tracing overhead leaves its cost out
            sampler.enable(True)
            if args.trace and TRACED_BLOCK[i % len(TRACED_BLOCK)]:
                wall, sums = runner.traced_pass(first + i)
                traced.append(wall)
                layer_passes.append(sums)
            else:
                window = host.Ambient()
                window.start()
                t0 = time.perf_counter()
                plain.append(runner.plain_pass(first + i))
                windows.append((t0, time.perf_counter()))
                steal.append(window.stop()["steal_pct"])
            sampler.enable(False)
            if args.trace:
                enough = (i + 1) % len(TRACED_BLOCK) == 0
            else:
                enough = len(plain) >= MIN_PASSES
            if enough and time.perf_counter() >= deadline:
                break
        telemetry = ambient.stop()
    finally:
        sampler.stop()
        host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    error_rate = runner.failed / runner.attempted
    pass_s = statistics.median(plain)
    # the JVM heap is committed and touched up front (see host.pin): a
    # constant share of every sample, so it is taken out
    pass_peaks = [sampler.peak(t0, t1) - heap_mb for t0, t1 in windows]
    peak_mb = statistics.median(pass_peaks)
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "pinned": pinned, "telemetry": telemetry, "inputs": inputs,
        "session_s": session_s, "build_s": build_s, "warmup_s": warm_s,
        "plain_passes": plain, "plain_steal_pct": steal, "traced_passes": traced,
        "pass_peak_mb": pass_peaks, "jvm_heap_mb": heap_mb,
    }
    print(f"# {args.workload} seed={args.seed}: setup_s={setup_s:.3f} s "
          f"(session {session_s:.2f}, builds {build_s:.2f}, warm-up {warm_s:.2f}), "
          f"pass_s={pass_s:.3f} s (median of n={len(plain)}: "
          f"{[round(x, 2) for x in plain]}, steal % {[round(x, 1) for x in steal]}), "
          f"peak_rss_mb={peak_mb:.1f} MB (median of pass peaks {[round(x) for x in pass_peaks]}, "
          f"heap {heap_mb:.0f} MB out), error_rate={error_rate:.4f} "
          f"({runner.failed}/{runner.attempted}), steal={telemetry['steal_pct']:.2f}% "
          f"load1={telemetry['load1']:.2f}", flush=True)
    if args.trace:
        layer = {k: statistics.median(p[k] for p in layer_passes) for k in layer_passes[0]}
        unstable = unstable_counts(layer_passes)
        layer["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        layer["trace.unstable_counts"] = len(unstable)
        for u in unstable:
            print(f"UNSTABLE COUNT  {u}", flush=True)
        summary.update(layer_passes=layer_passes, unstable_counts=unstable,
                       spans=runner.ledger.spans)
        metrics = {name: {"value": layer[name], "unit": unit}
                   for name, unit in per_layer_names(
                       {op.layer for op in workload.ops if op.writes_store})}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump(summary, f, indent=1, default=str)
    print(json.dumps({"correct": runner.failed == 0, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    rows, ok = [], True
    for w in ORDER:
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            sys.stdout.write("".join(line + "\n" for line in lines[:-1]))
            if proc.returncode != 0 or not lines:
                print(f"{w} trace={trace}: exited {proc.returncode}")
                ok = False
                continue
            res = json.loads(lines[-1])
            ok &= res["correct"]
            rows.append((w, trace, res))
    print("\nworkload          metric                      value  unit")
    for w, trace, res in rows:
        if trace == 0:
            err = res["failed"] / res["attempted"]
            for name, m in res["metrics"].items():
                print(f"{w:<17} {name:<22} {m['value']:>11.4f}  {m['unit']}")
            print(f"{w:<17} {'error_rate':<22} {err:>11.4f}  fraction "
                  f"({res['failed']}/{res['attempted']} ops)")
        else:
            m = res["metrics"]
            print(f"{w:<17} {'trace.overhead_s':<22} {m['trace.overhead_s']['value']:>11.4f}  s")
    return 0 if ok else 1


def describe() -> int:
    """Print the workloads, their ops with the layer each is attributed
    to, and the layer -> end-to-end predictions, as JSON."""
    from ledger import PREDICTIONS
    from workloads import WORKLOADS

    out = {
        "workloads": {
            name: {"why": gen.WHY[name], "sizes": gen.SIZES[name],
                   "ops": {op.name: op.layer for op in WORKLOADS[name]().ops}}
            for name in ORDER
        },
        "predictions": [
            {"layer_metrics": m, "should_move": e, "on": w} for m, e, w in PREDICTIONS
        ],
    }
    print(json.dumps(out, indent=1))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--describe", action="store_true",
                   help="print workloads, op -> layer map and predictions")
    p.add_argument("--workload", choices=(*ORDER, "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not _program_present():
        print("perfbench: run from the repository root (spark_sorted_spark/ "
              "and tools/check_correctness.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    if args.describe:
        return describe()
    if args.workload is None:
        p.error("--workload is required")
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
