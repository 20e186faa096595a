#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on fixture-sized inputs.

    python3 perfbench/smoke_test.py

Run it from the root of a checkout. For every workload, untraced and
traced, it runs `perfbench/run.py --smoke` for a few requests and checks
that the run exits 0, records its environment, and prints as its last line
a JSON result that is correct and names exactly the metrics BENCHMARK.json
lists, with the same units. It then checks that the benchmark refuses to
report in a directory that holds only BENCHMARK.json and perfbench/.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

SECONDS = 2


def run(cwd, workload, trace, smoke=True, seed=1):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(SECONDS), "--trace", str(trace)]
    if smoke:
        cmd.append("--smoke")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def main():
    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = run(root, w, trace)
            tag = f"{w} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics {sorted(got)} != {sorted(want)}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append(f"{tag}: result not correct: {lines[-1]}")
            if not any(l.startswith("env {") for l in lines):
                problems.append(f"{tag}: no env line")
            print(f"ok  {tag}: {len(got)} metrics, {res['attempted']} checked operations", flush=True)

    # without the engine's sources the benchmark must refuse to report
    bare = Path(tempfile.mkdtemp(prefix="perfbench-bare-", dir=root / os.environ.get(
        "CARGO_TARGET_DIR", ".bench_build")))
    try:
        shutil.copy(root / "BENCHMARK.json", bare)
        for d in spec["paths"]:
            shutil.copytree(root / d, bare / d, ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, spec["workloads"][0]["name"], 0, smoke=False)
        if p.returncode == 0 or p.stdout.strip():
            problems.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-200:]!r}")
        else:
            print(f"ok  bare directory refused with exit {p.returncode}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for pr in problems:
        print("FAIL " + pr)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
