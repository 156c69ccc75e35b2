"""Benchmark self-tests; each run is its own process.

    python3 perfbench/selftest.py

1. A tiny-size pass of every workload prints every end-to-end metric
   (name and unit from BENCHMARK.json, value > 0) and passes its checks.
2. A tiny traced pass prints every per-layer metric.
3. A deliberately corrupted output (``--corrupt``: one scheduled row
   dropped, one curated doc_id dropped) is caught: failed > 0.
4. In a directory holding only BENCHMARK.json and perfbench/, the
   benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=300)
    return p.returncode, p.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            failures.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        base = ["--workload", w, "--seed", "1", "--seconds", "1", "--size", "tiny"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, lines = run(base + ["--trace", str(trace)])
            out = result(lines) if code == 0 and lines else None
            expect(out is not None and out["correct"] and out["failed"] == 0,
                   f"{w} trace={trace}: runs and passes its checks")
            if out is not None:
                want = {m["name"]: m["unit"] for m in spec[key]}
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                expect(got == want, f"{w} trace={trace}: every {key} metric "
                                    "with its unit")
                if trace == 0:
                    expect(all(v["value"] > 0 for v in out["metrics"].values()),
                           f"{w}: every end-to-end value > 0")
        code, lines = run(base + ["--trace", "0", "--corrupt"])
        out = result(lines) if code == 0 and lines else None
        rec = json.loads(lines[-2])["run_record"] if out else {}
        expect(out is not None and out["failed"] > 0 and not out["correct"]
               and rec.get("failed_frac", 0) > 0,
               f"{w}: a corrupted output is counted as failed")

    bare = os.path.join(HERE, ".work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".cache", ".work", ".traces",
                                                      "__pycache__"))
        code, lines = run(["--workload", spec["workloads"][0]["name"], "--seed",
                           "1", "--seconds", "1", "--trace", "0"], cwd=bare)
        expect(code != 0 and not lines,
               "without the engine sources: non-zero exit, no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
