"""Run the benchmark once per seed and summarise each metric's spread.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 --seconds 10 [--trace 0|1] [--out FILE]

Run it from the root of a checkout. Each seed is one invocation of
``run.py``, one after another. For every metric it prints the median, the
quartiles (``statistics.quantiles(values, n=4)``) and the distance between
them as a share of the median; ``--out`` also writes that summary and every
run's result and figures as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def summarise(runs: list[dict]) -> dict:
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for run in runs:
        for name, m in run["result"]["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
    out = {}
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
        out[name] = {"unit": units[name], "median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else None}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a range 1-10 or a list 1,4,7")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    for seed in parse_seeds(args.seeds):
        t0 = time.perf_counter()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        run = {"seed": seed, "wall_s": wall, "result": json.loads(lines[-1]),
               "figures": json.loads(lines[-2])["figures"]}
        runs.append(run)
        metrics = {k: round(m["value"], 4) for k, m in run["result"]["metrics"].items()}
        print(f"seed {seed} wall {wall:.1f}s correct {run['result']['correct']} {metrics}",
              flush=True)

    summary = summarise(runs)
    for name, s in summary.items():
        spread = "n/a" if s["spread"] is None else f"{s['spread']:.4f}"
        print(f"{name}: median {s['median']:.4f} {s['unit']}  q1 {s['q1']:.4f}  "
              f"q3 {s['q3']:.4f}  spread {spread}")
    walls = [r["wall_s"] for r in runs]
    print(f"wall: median {statistics.median(walls):.1f}s  max {max(walls):.1f}s")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seconds": float(args.seconds),
                       "trace": int(args.trace), "summary": summary, "runs": runs},
                      fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
