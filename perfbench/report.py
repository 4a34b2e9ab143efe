"""Layer report: ranks a traced run's operations by each per-layer metric.

    python3 perfbench/report.py .perfbench_out/query_mix-s1-t1.json ... > report.md

Each input is the result file a ``--trace 1`` run writes. An operation's
value is its median over the warm passes; metrics no operation moved are
listed once at the end.
"""

from __future__ import annotations

import json
import statistics
import sys

TOP = 5


def _fmt(v: float) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def render(results: list[dict]) -> str:
    lines = ["# Layer report", ""]
    for res in results:
        traced = res["sessions"][-1]
        warm = {p["pass"] for p in traced["passes"] if not p["cold"]}
        per_name: dict[str, list[dict]] = {}
        for o in traced["ops"]:
            if o["pass"] in warm or o["kind"] == "noop":
                per_name.setdefault(f"{o['kind']}:{o['name']}", []).append(
                    res["op_layers"][o["op"]])
        box = res["box"]
        lines += [f"## {res['workload']} (seed {res['seed']}, "
                  f"warm passes: {len(warm)}, nproc {box['nproc']}, "
                  f"MemTotal {box['mem_total_mb']} MB, load at start "
                  f"{box['loadavg_start']})", "",
                  "Warm-pass walls (s), untraced then traced session: "
                  + "; ".join(", ".join(f"{p['wall_s']:.3f}" for p in s["passes"]
                                        if not p["cold"])
                              for s in res["sessions"]), "",
                  "Per warm pass (median) and tracing overhead:", "",
                  "| metric | value |", "|---|---|"]
        lines += [f"| {k} | {_fmt(v)} |" for k, v in res["metrics"].items()]
        lines.append("")
        metrics = [k for k in next(iter(res["op_layers"].values()))
                   if not k.startswith("_")]
        unmoved = []
        for k in metrics:
            ranked = sorted(((statistics.median(m[k] for m in ms), name)
                             for name, ms in per_name.items()), reverse=True)
            ranked = [(v, n) for v, n in ranked if v][:TOP]
            if not ranked:
                unmoved.append(k)
                continue
            lines += [f"**{k}**: " + ", ".join(f"{n} {_fmt(v)}"
                                               for v, n in ranked), ""]
        lines += [f"Zero on every operation: {', '.join(unmoved) or 'none'}.", ""]
    return "\n".join(lines)


def main() -> int:
    results = []
    for path in sys.argv[1:]:
        with open(path) as fh:
            results.append(json.load(fh))
    sys.stdout.write(render(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
