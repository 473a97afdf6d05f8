"""Every workload through ``run.py``, summed up in one table.

    python3 perfbench/report.py --seconds 20
    python3 perfbench/report.py --seconds 20 --seeds 1-10 --out perfbench/BASELINE.json

Each run is its own ``run.py`` process with the arguments
``BENCHMARK.json``'s command takes.
For each workload the untraced runs (one per seed) give every
end-to-end metric, under its neutral name and the workload's own name,
with its median, quartiles and spread (interquartile range over
median); one traced run (seed ``max(seeds) + 1``) then gives the
per-layer table and the tracing overhead. ``failed_ratio`` is failed
over attempted checks, summed over a workload's untraced runs.
"""

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
WORKLOADS = ("extract", "waves", "battery")


def _seeds(text: str) -> list:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One ``run.py`` process: its wall time, its JSON line and its
    table rows (``name -> (value, unit)``)."""
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, cwd=HERE.parent, timeout=900)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} trace {trace} exited "
                           f"{proc.returncode}:\n{proc.stderr[-3000:]}")
    *lines, last = proc.stdout.strip().splitlines()
    rows = {}
    for line in lines:
        if not line.startswith("#"):
            _, name, value, unit = line.split()
            rows[name] = (float(value), unit)
    return {"seed": seed, "wall_s": wall, "result": json.loads(last),
            "rows": rows, "notes": [x for x in lines if x.startswith("#")]}


def summarize(runs: list) -> dict:
    """Median, quartiles and spread of each table row over ``runs``."""
    out = {}
    for name, (_, unit) in runs[0]["rows"].items():
        values = [r["rows"][name][0] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                     else (med, med, med))
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0,
                     "unit": unit, "runs": len(values)}
    attempted = sum(r["result"]["attempted"] for r in runs)
    failed = sum(r["result"]["failed"] for r in runs)
    out["failed_ratio"] = {"median": failed / attempted, "unit": "ratio",
                           "failed": failed, "attempted": attempted}
    out["run_wall_s"] = {"median": statistics.median(r["wall_s"]
                                                     for r in runs),
                         "max": max(r["wall_s"] for r in runs), "unit": "s"}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--seeds", default="1", help="one seed or a range a-b")
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--traced", type=int, choices=(0, 1), default=1)
    ap.add_argument("--out", help="write the whole report here as JSON")
    args = ap.parse_args()
    seeds = _seeds(args.seeds)

    report = {
        "command": "python3 perfbench/run.py --workload <w> --seed <n> "
                   f"--seconds {args.seconds} --trace <0|1>",
        "box": {"cores": len(os.sched_getaffinity(0)),
                "python": platform.python_version(),
                "machine": platform.machine()},
        "seeds": seeds, "workloads": {},
    }
    for w in args.workloads.split(","):
        runs = []
        for s in seeds:
            runs.append(run_once(w, s, args.seconds, 0))
            print(f"# {w} seed {s}: {runs[-1]['wall_s']:.1f} s "
                  f"{runs[-1]['result']['metrics']}", file=sys.stderr,
                  flush=True)
        entry = {"end_to_end": summarize(runs),
                 "runs": [{k: r[k] for k in ("seed", "wall_s", "notes")}
                          | {"metrics": {n: v for n, (v, _)
                                         in r["rows"].items()}}
                          for r in runs]}
        if args.traced:
            traced = run_once(w, max(seeds) + 1, args.seconds, 1)
            entry["traced"] = {"seed": traced["seed"],
                               "wall_s": traced["wall_s"],
                               "failed": traced["result"]["failed"],
                               "per_layer": {n: {"value": v, "unit": u}
                                             for n, (v, u)
                                             in traced["rows"].items()}}
        report["workloads"][w] = entry
        if args.out:
            Path(args.out).write_text(json.dumps(report, indent=1) + "\n")

    for w, entry in report["workloads"].items():
        print(f"== {w}: end to end, {len(seeds)} untraced run(s)")
        for name, m in entry["end_to_end"].items():
            extra = (f"  q1 {m['q1']:.6g}  q3 {m['q3']:.6g}  "
                     f"spread {m['spread']:.3f}" if "q1" in m else "")
            print(f"{w:8s} {name:40s} {m['median']:>14.6g} {m['unit']}"
                  f"{extra}")
    for w, entry in report["workloads"].items():
        if "traced" in entry:
            print(f"== {w}: per layer, traced run "
                  f"(seed {entry['traced']['seed']})")
            for name, m in entry["traced"]["per_layer"].items():
                print(f"{w:8s} {name:40s} {m['value']:>14.6g} {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
