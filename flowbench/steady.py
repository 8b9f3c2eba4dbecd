#!/usr/bin/env python3
"""Steadiness check for the flow benchmark.

    python3 flowbench/steady.py --seeds 1-10 [--workloads a,b] [--out FILE]

Run from the root of a checkout. Runs every workload once per seed with
tracing off, then reports, for each end-to-end metric, the median and
the spread (distance between the first and third quartile, as
statistics.quantiles(values, n=4) gives them) as a share of the median,
next to the metric's bound from BENCHMARK.json. A spread at or above a
third of its bound is flagged. The per-run values, the spreads and the
machine stamps of the runs are written as JSON to --out.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out", default=str(HERE / "results" / "steady.json"))
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    report = {"seeds": seeds(a.seeds), "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(s),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                sys.exit(f"{w} seed {s}: exit {p.returncode}")
            res = json.loads(lines[-1])
            rec = json.loads((HERE / "results" /
                              f"{w}-seed{s}-trace0.json").read_text())
            runs.append({"seed": s, "wall_s": time.time() - t0,
                         "correct": res["correct"],
                         "metrics": {k: v["value"]
                                     for k, v in res["metrics"].items()},
                         "machine": rec["machine_start"]})
            print(f"{w} seed {s}: {runs[-1]['metrics']} "
                  f"({runs[-1]['wall_s']:.0f} s)", flush=True)
        spread = {}
        for m, bound in bounds.items():
            vals = [r["metrics"][m] for r in runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            rel = (q[2] - q[0]) / med if med else 0.0
            spread[m] = {"median": med, "iqr_share": rel, "bound": bound,
                         "steady": rel < bound / 3}
            flag = "" if rel < bound / 3 else "  <-- not below bound/3"
            print(f"  {w:16s} {m:12s} median {med:10.4f} "
                  f"spread {rel:.4f} bound {bound}{flag}")
        report["workloads"][w] = {"runs": runs, "spread": spread}
    Path(a.out).parent.mkdir(parents=True, exist_ok=True)
    Path(a.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
