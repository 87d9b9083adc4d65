"""Traced-run ledger: spans, Spark job/stage attribution and layer sums.

Everything is observed from outside the program. Each op phase runs
under a Spark job group named ``perfbench:<op>:<phase>``, and the phase
owns every job whose id the DAG scheduler handed out while it ran. The
id window also covers jobs that a call starts on threads of its own
(a streaming query's micro-batches), which a job group would miss. Stage
metrics come from the JVM status store, which is populated with the UI
off, through ``statusStore().job(id)`` and ``stageData(...)``.

Spans stay in memory and are written as JSON when the run ends.
"""

from __future__ import annotations

import os
import re
import time
from collections import defaultdict

from py4j.protocol import Py4JError

LAYERS = (
    "core",
    "operators.folds",
    "operators.map_stream",
    "operators.joins",
    "functions.dedup",
    "functions.retrieval",
    "streaming",
)
# layers with store-writing ops; only nightly_ingest writes stores, and
# store_write_mb is reported for the layers of a workload that does
STORE_LAYERS = ("functions.dedup", "functions.retrieval", "streaming")
LAYER_METRICS = (
    ("build_s", "s"),
    ("build_jobs", "count"),
    ("run_s", "s"),
    ("run_jobs", "count"),
    ("stages", "count"),
    ("failed_tasks", "count"),
    ("executor_s", "s"),
    ("core_util", "fraction"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("python_nodes", "count"),
)
# counts that must repeat exactly across traced passes of one seed
COUNT_METRICS = ("build_jobs", "run_jobs", "stages", "python_nodes", "store_write_mb")

# Which end-to-end metric each layer metric should move, and where. On
# every other workload the prediction for a layer metric is no change.
PREDICTIONS = [
    (["core.run_s", "core.shuffle_write_mb", "core.spill_mb"], ["pass_s"], ["keyed_skew"]),
    (["operators.folds.core_util", "operators.joins.core_util"], ["pass_s"], ["keyed_skew"]),
    (["operators.map_stream.executor_s", "operators.map_stream.python_nodes"],
     ["pass_s", "peak_rss_mb"], ["keyed_skew"]),
    (["functions.dedup.build_s", "functions.dedup.build_jobs",
      "functions.retrieval.build_s", "functions.retrieval.build_jobs"],
     ["pass_s"], ["corpus_pipeline", "nightly_ingest"]),
    (["functions.retrieval.run_s", "functions.dedup.store_write_mb"],
     ["pass_s"], ["nightly_ingest"]),
    # the catalog's stream query drains inside its call (build phase);
    # the nightly BM25 drain is an action (run phase)
    (["streaming.build_s"], ["pass_s"], ["keyed_skew"]),
    (["streaming.run_s", "streaming.store_write_mb"], ["pass_s"], ["nightly_ingest"]),
    (["work moved into store/index builds or the warm-up pass"], ["setup_s"],
     ["keyed_skew", "corpus_pipeline", "nightly_ingest"]),
]

_PY_NODE = re.compile(r"^[\s:+\-*]*(\w*(?:Python|InPandas|InArrow)\w*)")
MB = 1 << 20


def per_layer_names(store_layers=()):
    """Every per-layer metric as ``(name, unit)``, in report order, with
    ``store_write_mb`` also for ``store_layers``."""
    out = [(f"{layer}.{m}", u) for layer in LAYERS for m, u in LAYER_METRICS]
    out += [(f"{layer}.store_write_mb", "MB") for layer in STORE_LAYERS
            if layer in store_layers]
    out += [
        ("pass.traced_s", "s"),
        ("pass.self_s", "s"),
        ("trace.overhead_s", "s"),
        ("trace.unstable_counts", "count"),
    ]
    return out


def python_nodes(df) -> int:
    """Python exec nodes (ArrowEvalPython, MapInPandas, ...) in the
    physical plan of a result DataFrame."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if _PY_NODE.match(line))


def store_bytes(roots) -> dict[str, int]:
    sizes = {}
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    sizes[p] = os.path.getsize(p)
                except OSError:
                    pass
    return sizes


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files that are new or changed size between snapshots."""
    return sum(n for p, n in after.items() if before.get(p) != n)


class Ledger:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.cores = cores
        self.spans: list[dict] = []

    # -- spans ---------------------------------------------------------
    def span(self, name, parent=None, **attrs) -> dict:
        s = {"id": len(self.spans), "parent": parent, "name": name,
             "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(s)
        return s

    @staticmethod
    def close(s, **attrs):
        s["end"] = time.perf_counter()
        s.update(attrs)

    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def set_group(self, op, phase):
        self.sc.setJobGroup(f"perfbench:{op}:{phase}", f"{op} {phase}")

    # -- status store ------------------------------------------------
    def _drain_listener(self):
        try:
            self._jsc.listenerBus().waitUntilEmpty()
        except Py4JError:  # no such JVM method: fall back to a pause
            time.sleep(0.5)

    def job_metrics(self, j0: int, j1: int) -> dict:
        """Sums over jobs [j0, j1) and their stages that ran."""
        store = self._jsc.statusStore()
        jvm = self.sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quant = self.sc._gateway.new_array(jvm.double, 0)
        out = defaultdict(float)
        seen = set()
        for j in range(j0, j1):
            try:
                jd = store.job(j)
            except Py4JError:  # evicted from the store or never registered
                continue
            out["jobs"] += 1
            ids = jd.stageIds().mkString(",")
            for sid in (int(x) for x in ids.split(",") if x):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = store.stageData(sid, False, no_status, False, no_quant)
                except Py4JError:
                    continue
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["failed_tasks"] += sd.numFailedTasks()
                    out["executor_s"] += sd.executorRunTime() / 1000.0
                    out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                    out["spill_mb"] += sd.memoryBytesSpilled() / MB
        return out

    def layer_sums(self, records) -> dict[str, float]:
        """Per-layer metrics of one traced pass. ``records`` holds one
        dict per op: layer, build/run wall and job windows, python
        nodes and store bytes written."""
        self._drain_listener()
        acc = {layer: defaultdict(float) for layer in LAYERS}
        for r in records:
            a = acc[r["layer"]]
            a["build_s"] += r["build_s"]
            a["run_s"] += r["run_s"]
            b = self.job_metrics(*r["build_jobs"])
            u = self.job_metrics(*r["run_jobs"])
            a["build_jobs"] += b["jobs"]
            a["run_jobs"] += u["jobs"]
            for k in ("stages", "failed_tasks", "executor_s",
                      "shuffle_write_mb", "spill_mb"):
                a[k] += b[k] + u[k]
            a["python_nodes"] += r["python_nodes"]
            if r["store_bytes"] is not None:
                a["store_write_mb"] += r["store_bytes"] / MB
        out = {}
        for layer in LAYERS:
            a = acc[layer]
            wall = a["build_s"] + a["run_s"]
            a["core_util"] = a["executor_s"] / (wall * self.cores) if wall else 0.0
            for m, _ in LAYER_METRICS:
                out[f"{layer}.{m}"] = a[m]
            if layer in STORE_LAYERS:
                out[f"{layer}.store_write_mb"] = a["store_write_mb"]
        return out


def unstable_counts(passes: list[dict[str, float]]) -> list[str]:
    """Count metrics whose value differs between traced passes."""
    bad = []
    for name in passes[0]:
        if name.rsplit(".", 1)[-1] in COUNT_METRICS:
            vals = {round(p[name], 9) for p in passes}
            if len(vals) > 1:
                bad.append(f"{name}: {sorted(vals)}")
    return bad
