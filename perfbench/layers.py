"""Layer tracing for the benchmark's traced session.

Three sources, all read from the benchmark's own files:

* ``Tracer`` wraps public functions of the library's modules and records a
  span (operation, layer, start, end) per call, plus the counts the call
  reports. Spans stay in memory until the session ends; times are
  inclusive of nested calls.
* ``plan_seconds`` reads Catalyst's phase tracker of a collected DataFrame.
* ``spark_metrics`` folds Spark's own event log into per-operation sums,
  keyed by the job group the benchmark set for the operation.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from collections import defaultdict

# layer -> the per-layer metrics its spans feed (inclusive seconds, calls)
# and the (module path, attribute path) of each function wrapped for it
WRAPPED = {
    "ckpt": ("ckpt.s", "ckpt.count",
             [("glamr_omics_pipelines_spark.operators._ckpt", "checkpoint")]),
    "cache": (None, "cache.count",
              [("glamr_omics_pipelines_spark.operators._cache", "register")]),
    "warehouse.append": ("warehouse.append_s", None,
                         [("glamr_omics_pipelines_spark.sources.warehouse",
                           "Warehouse.incremental_append")]),
    "warehouse.save_view": ("warehouse.save_view_s", None,
                            [("glamr_omics_pipelines_spark.sources.warehouse",
                              "Warehouse.save_view")]),
    "schema.conform": ("schema.conform_s", None,
                       [("glamr_omics_pipelines_spark.schema",
                         "SchemaRegistry.conform")]),
    "glamr.build": ("glamr.build_s", None,
                    [("glamr_omics_pipelines_spark.pipelines.glamr", f)
                     for f in ("merge_bracken", "load_gene_abundance",
                               "read_ladder", "tpm_chain", "bin_summary",
                               "kofam_anvio")]),
    # glamr binds read_typed_csv by name, so wrap that binding too
    "readers.read": (None, None,
                     [("glamr_omics_pipelines_spark.sources.readers",
                       "read_typed_csv"),
                      ("glamr_omics_pipelines_spark.pipelines.glamr",
                       "read_typed_csv")]),
}


def _files_matched(paths) -> int:
    paths = [paths] if isinstance(paths, str) else list(paths)
    return sum(len(glob.glob(p)) for p in paths)


class Tracer:
    """Span recorder. ``op`` names the operation new spans belong to."""

    def __init__(self):
        self.op: str | None = None
        self.spans: list[dict] = []
        self._saved: list[tuple] = []

    def span(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec = {"op": self.op, "layer": layer}
            if layer == "readers.read":
                rec["files"] = _files_matched(args[1] if len(args) > 1
                                              else kwargs["paths"])
            self.spans.append(rec)
            rec["t0"] = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                rec["t1"] = time.perf_counter()
            return out
        return traced

    def install(self) -> None:
        import importlib
        for layer, (_, _, targets) in WRAPPED.items():
            for mod_name, attr in targets:
                owner = importlib.import_module(mod_name)
                *path, name = attr.split(".")
                for p in path:
                    owner = getattr(owner, p)
                orig = getattr(owner, name)
                self._saved.append((owner, name, orig))
                setattr(owner, name, self.span(layer, orig))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()

    def by_op(self) -> dict[str, dict]:
        """Per operation: the per-layer metrics of its spans (see WRAPPED),
        plus readers.files_scanned."""
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            m = out[s["op"]]
            seconds, calls, _ = WRAPPED[s["layer"]]
            if seconds:
                m[seconds] += s["t1"] - s["t0"]
            if calls:
                m[calls] += 1
            if "files" in s:
                m["readers.files_scanned"] += s["files"]
        return {op: dict(m) for op, m in out.items()}


def plan_seconds(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s last
    execution, from its QueryPlanningTracker."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    ms = 0
    while it.hasNext():
        ms += it.next()._2().durationMs()
    return ms / 1000.0


_PY_BYTES_IN = "data sent to Python workers"
_PY_RUN_MS = "time to run Python workers"


def spark_metrics(event_dir: str) -> dict[str, dict]:
    """Fold every event log under ``event_dir`` into per-job-group sums.

    Returns {job group: {spark.jobs, .stages, .tasks, .failed_tasks,
    .exec_run_s, .exec_cpu_s, .gc_s, .shuffle_read_bytes,
    .shuffle_write_bytes, .spill_bytes, .peak_exec_mem_bytes,
    .driver.result_bytes, .python.bytes_in, .python.worker_s}}.
    Jobs run outside any group are left out."""
    group_of_stage: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stages_run: dict[str, set] = defaultdict(set)
    files = sorted(glob.glob(os.path.join(event_dir, "**", "events_*"),
                             recursive=True),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    out[group]["spark.jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        group_of_stage[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = group_of_stage.get(ev["Stage ID"])
                    if group is None:
                        continue
                    m, tm = out[group], ev.get("Task Metrics") or {}
                    stages_run[group].add(ev["Stage ID"])
                    m["spark.tasks"] += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        m["spark.failed_tasks"] += 1
                    m["spark.exec_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["spark.exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    rd = tm.get("Shuffle Read Metrics", {})
                    m["spark.shuffle_read_bytes"] += (rd.get("Local Bytes Read", 0)
                                                + rd.get("Remote Bytes Read", 0))
                    m["spark.shuffle_write_bytes"] += tm.get(
                        "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    m["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    m["spark.peak_exec_mem_bytes"] = max(
                        m["spark.peak_exec_mem_bytes"],
                        tm.get("Peak Execution Memory", 0))
                    m["spark.driver.result_bytes"] += tm.get("Result Size", 0)
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("Name") == _PY_BYTES_IN:
                            m["spark.python.bytes_in"] += int(acc["Update"])
                        elif acc.get("Name") == _PY_RUN_MS:
                            m["spark.python.worker_s"] += int(acc["Update"]) / 1e3
    for group, sids in stages_run.items():
        out[group]["spark.stages"] = len(sids)
    return {g: dict(m) for g, m in out.items()}
