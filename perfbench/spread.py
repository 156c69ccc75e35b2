"""Run one workload on several seeds (one process each, one after the
other) and report each metric's median and quartile spread.

    python3 perfbench/spread.py --workload crawl_small_rounds --seeds 1-10

The spread is (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``; a metric is flagged when it
exceeds a third of its bound in BENCHMARK.json. With ``--trace 1`` the
per-layer metrics are collected instead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", help="append every run's two output lines here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    values: dict[str, list[float]] = {}
    failed = 0
    for seed in args.seeds:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}", flush=True)
            failed += 1
            continue
        if args.log:
            with open(args.log, "a") as fh:
                fh.write("\n".join(lines[-2:]) + "\n")
        out = json.loads(lines[-1])
        rec = json.loads(lines[-2])["run_record"]
        failed += out["failed"]
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: correct={out['correct']} load="
              f"{rec['loadavg_before'][0]}->{rec['loadavg_after'][0]} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
              flush=True)

    summary = {}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(k)
        summary[k] = {"median": med, "q1": q1, "q3": q3, "spread": round(spread, 4),
                      "bound": b, "steady": None if b is None else spread < b / 3}
    print(json.dumps({"workload": args.workload, "runs": len(args.seeds),
                      "failed": failed, "metrics": summary}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
