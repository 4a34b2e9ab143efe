"""The repository benchmark: one command, every metric with its unit, every
output checked.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It generates its inputs from ``--seed``
under ``.perfbench_work/`` (deleted when the run ends), runs the workload in
fresh engine processes on ``local[nproc]``, one at a time, and prints a
result table followed, as the last line, by one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` runs one session: it sets the engine up and runs the
workload, a cold pass and then warm passes for ``--seconds``. Its metrics
are the end-to-end ones (END_TO_END).
``--trace 1`` runs the workload twice, untraced and then traced (job groups,
an uncompressed Spark event log, wrapped library functions), and reports the
per-layer metrics of the traced session plus the tracing overhead; it also
writes a layer report to ``.perfbench_out/``. Workloads, metrics and the layers each metric should
move are recorded in ``perfbench/rationale.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

RUN_DEADLINE_S = 170
SF = 0.002            # lineitem 12,000 rows; per-query fixed cost dominates
BATCHES = 3           # warehouse batches: a cold load, then two warm ones
SAMPLES_PER_BATCH = 2

# The JSON metrics, steady enough to bound; the result table also prints
# query_p50_s, load_p50_s, noop_reload_s, peak_rss_mb and fail_ratio.
END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "wall_s": "s"}
DAG_STAGES = ["tax_info", "bracken", "gene_abundance", "read_count", "tpm",
              "bin_summary_view", "kofam_mv"]
# per-layer metric -> unit; summed over the operations of a warm pass
PER_PASS = {
    "entry.build_s": "s", "ckpt.count": "count", "ckpt.s": "s",
    "cache.count": "count", "spark.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.exec_run_s": "s", "spark.exec_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.peak_exec_mem_bytes": "bytes",
    "spark.failed_tasks": "count", "spark.python.bytes_in": "bytes",
    "spark.python.worker_s": "s", "spark.driver.result_rows": "count",
    "spark.driver.result_bytes": "bytes", "warehouse.append_s": "s",
    "warehouse.new_keys": "count", "warehouse.save_view_s": "s",
    "warehouse.files_written": "count", "warehouse.bytes_written": "bytes",
    "schema.conform_s": "s", "glamr.build_s": "s",
    "readers.files_scanned": "count", "dag.overhead_s": "s",
    **{f"dag.stage_s.{s}": "s" for s in DAG_STAGES},
}
PER_LAYER = {
    "session.get_spark_s": "s", "peak_rss_mb": "MB", **PER_PASS,
    "spark.core_util": "ratio",
    "warehouse.new_key_ratio": "ratio", "warehouse.noop_reload_s": "s",
    "trace.wall_s": "s", "trace.overhead_s": "s", "trace.overhead_ratio": "ratio",
}


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()[:24]


def box() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "loadavg_start": load}


# --------------------------------------------------------------------------
# sessions: one engine process at a time, its process tree watched from /proc
# --------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, pgid) of every process that has not exited. Zombies are
    left out: they have ended and wait only for their parent to reap them."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z":
                out[int(d)] = (int(fields[1]), int(fields[2]))
    return out


def _tree(root: int, table: dict) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    tree, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in table and pid not in tree:
            tree.add(pid)
            todo.extend(kids.get(pid, []))
    return tree


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stop(pids: set[int], pgid: int) -> None:
    """Kill what is left of a session and wait until all of it is gone."""
    deadline = time.time() + 20
    while True:
        table = _proc_table()
        left = {p for p, (_, g) in table.items() if g == pgid} | (pids & set(table))
        left.discard(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            raise RuntimeError(f"session processes {sorted(left)} did not exit")
        for p in left:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def run_session(spec: dict, work: str, log_path: str, deadline: float) -> dict:
    """Run one worker process; return its result with 'setup_s' (process
    start to engine ready) and 'peak_rss_mb' (peak summed RSS of its tree:
    Python driver, JVM and Python workers)."""
    spec_path = os.path.join(work, f"spec-{spec['name']}.json")
    out_path = os.path.join(work, f"result-{spec['name']}.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every file the engine writes, temporary ones too, stays in the checkout
    env = dict(os.environ, PERFBENCH_ROOT=ROOT,
               PYTHONPATH=os.pathsep.join(
                   [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
               SPARK_GRAFT_CPUS=str(spec["nproc"]),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
               PYTHONHASHSEED="0")
    env.pop("OMP_NUM_THREADS", None)
    peak_kb, seen = 0, set()
    with open(log_path, "a") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path, out_path],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            while proc.poll() is None:
                if time.time() > deadline:
                    raise TimeoutError(f"session {spec['name']} passed the "
                                       f"{RUN_DEADLINE_S} s run deadline")
                tree = _tree(proc.pid, _proc_table())
                seen |= tree
                peak_kb = max(peak_kb, sum(_rss_kb(p) for p in tree))
                time.sleep(0.1)
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            _stop(seen, proc.pid)
    if proc.returncode != 0:
        raise RuntimeError(f"session {spec['name']} exited {proc.returncode}; "
                           f"see {log_path}")
    with open(out_path) as fh:
        res = json.load(fh)
    res["setup_s"] = res["ready_ts"] - t_spawn
    res["peak_rss_mb"] = peak_kb / 1024
    return res


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------

def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _warm_wall(res: dict) -> float:
    return _median([p["wall_s"] for p in res["passes"] if not p["cold"]])


def end_to_end(main: dict) -> tuple[dict, dict]:
    """The JSON metrics, and the metrics only the result table prints."""
    reads = [o["wall_s"] for o in main["ops"]
             if o["kind"] in ("query", "lookup") and o["pass"] != 0]
    loads = [o["wall_s"] for o in main["ops"]
             if o["kind"] == "load" and o["pass"] != 0]
    noop = [o["wall_s"] for o in main["ops"] if o["kind"] == "noop"]
    metrics = {
        "setup_s": main["setup_s"],
        "cold_pass_s": next(p["wall_s"] for p in main["passes"] if p["cold"]),
        "wall_s": _warm_wall(main),
    }
    table = {
        f"query_p50_s (n={len(reads)})": (_median(reads), "s"),
        "load_p50_s": (_median(loads), "s") if loads else None,
        "noop_reload_s": (noop[0], "s") if noop else None,
        "peak_rss_mb": (main["peak_rss_mb"], "MB"),
    }
    if len(reads) >= 100:
        table["query_p90_s"] = (statistics.quantiles(reads, n=10)[-1], "s")
    return metrics, {k: v for k, v in table.items() if v}


def op_layers(res: dict) -> dict[str, dict]:
    """Per operation of a traced session: every PER_PASS metric."""
    out = {}
    for o in res["ops"]:
        m = {k: 0.0 for k in PER_PASS}
        for measured in (res["spark"].get(o["op"], {}),
                         res["spans"].get(o["op"], {})):
            m.update({k: v for k, v in measured.items() if k in PER_PASS})
        m["entry.build_s"] = o.get("build_s", 0.0) if o["kind"] == "query" else 0.0
        m["spark.plan_s"] = o.get("plan_s", 0.0)
        m["spark.driver.result_rows"] = o.get("rows", 0)
        m["warehouse.new_keys"] = sum(o.get("new_keys", {}).values())
        m["warehouse.files_written"] = o.get("files_written", 0)
        m["warehouse.bytes_written"] = o.get("bytes_written", 0)
        stages = o.get("dag_stage_s", {})
        for s in DAG_STAGES:
            m[f"dag.stage_s.{s}"] = stages.get(s, 0.0)
        if o["kind"] in ("load", "noop"):
            m["dag.overhead_s"] = o["wall_s"] - sum(stages.values())
        m["_offered_keys"] = sum(o.get("offered_keys", {}).values())
        m["wall_s"] = o["wall_s"]
        out[o["op"]] = m
    return out


def per_layer(untraced: dict, traced: dict, nproc: int) -> tuple[dict, dict]:
    ops = op_layers(traced)
    warm = [p["pass"] for p in traced["passes"] if not p["cold"]]
    by_pass = []
    for p in warm:
        mine = [ops[o["op"]] for o in traced["ops"]
                if o["pass"] == p and o["kind"] != "noop"]
        by_pass.append({k: sum(m[k] for m in mine)
                        for k in [*PER_PASS, "_offered_keys", "wall_s"]})
        by_pass[-1]["spark.peak_exec_mem_bytes"] = max(
            m["spark.peak_exec_mem_bytes"] for m in mine)
    out = {k: _median([bp[k] for bp in by_pass]) for k in PER_PASS}
    wall = _median([bp["wall_s"] for bp in by_pass])
    out["spark.core_util"] = out["spark.exec_run_s"] / (wall * nproc)
    offered = _median([bp["_offered_keys"] for bp in by_pass])
    out["warehouse.new_key_ratio"] = (out["warehouse.new_keys"] / offered
                                      if offered else 0.0)
    out["warehouse.noop_reload_s"] = sum(o["wall_s"] for o in traced["ops"]
                                         if o["kind"] == "noop")
    out["session.get_spark_s"] = traced["get_spark_s"]
    out["peak_rss_mb"] = traced["peak_rss_mb"]
    base = _warm_wall(untraced)
    out["trace.wall_s"] = wall
    out["trace.overhead_s"] = wall - base
    out["trace.overhead_ratio"] = (wall - base) / base
    return out, ops


# --------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query_mix", "warehouse_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    needed = ["__spark_entry__.py", "glamr_omics_pipelines_spark/session.py",
              "tools/check.py"]
    missing = [p for p in needed if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}",
              file=sys.stderr)
        return 2

    t_start = time.time()
    deadline = t_start + RUN_DEADLINE_S
    info = box()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work)
    log_path = os.path.join(out_dir, f"{tag}.log")
    open(log_path, "w").close()
    try:
        import datagen
        base = {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "nproc": info["nproc"], "work": work,
                "trace": False}
        if args.workload == "query_mix":
            base["data"] = os.path.join(work, "tables")
            datagen.write_tables(base["data"], args.seed, SF)
            base["oracle_cache"] = os.path.join(
                out_dir, "oracle", _digest(base["data"]))
            os.makedirs(base["oracle_cache"], exist_ok=True)
        else:
            base["batches"] = datagen.write_warehouse_batches(
                os.path.join(work, "inputs"), args.seed, BATCHES,
                SAMPLES_PER_BATCH)

        def session(name: str, **kw) -> dict:
            spec = {**base, "name": name, **kw}
            if spec["workload"] == "warehouse_ingest":
                spec["warehouse"] = os.path.join(work, f"warehouse-{name}")
            if spec["trace"]:
                spec["event_dir"] = os.path.join(work, f"events-{name}")
                os.makedirs(spec["event_dir"])
            return run_session(spec, work, log_path, deadline)

        if args.trace:
            untraced = session("untraced")
            traced = session("traced", trace=True)
            mains = [untraced, traced]
            metrics, ops = per_layer(untraced, traced, info["nproc"])
            units, table = PER_LAYER, {}
        else:
            main_res = session("main")
            mains = [main_res]
            metrics, table = end_to_end(main_res)
            units = END_TO_END
        attempted = sum(len(m["ops"]) for m in mains)
        errors = [o for m in mains for o in m["ops"] if "error" in o]
        result = {"box": info, "workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace,
                  "run_s": time.time() - t_start, "metrics": metrics,
                  "sessions": mains}
        if args.trace:
            import report
            result["op_layers"] = ops
            with open(os.path.join(out_dir, f"{tag}-layers.md"), "w") as fh:
                fh.write(report.render([result]))
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
            json.dump(result, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"# box: nproc={info['nproc']} mem_total_mb={info['mem_total_mb']} "
          f"loadavg_start={info['loadavg_start']} run_s={result['run_s']:.1f}")
    for o in errors:
        print(f"# FAILED {o['op']}: {o['error']}")
    table["fail_ratio"] = (len(errors) / attempted, "ratio")
    table.update({k: (v, units[k]) for k, v in metrics.items()})
    for k, (v, unit) in table.items():
        print(f"# {k:<32} {v:16.4f} {unit}")
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": len(errors),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
