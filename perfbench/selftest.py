#!/usr/bin/env python3
"""Self-test of the benchmark: run every workload at its shortest length,
untraced and traced, and assert that

  * every metric BENCHMARK.json names for that mode is printed with its unit;
  * success_rate is 1.0 and the run reports correct, with no failed op;
  * ``git status --porcelain`` is the same before and after (the benchmark
    leaves no side effect outside its gitignored work directory).

    python3 perfbench/selftest.py

Run from the root of a checkout; takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git_status() -> str | None:
    try:
        return subprocess.run(
            ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True, check=True
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return None  # not a git checkout: nothing to compare


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expected = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    before = _git_status()
    problems = []
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            cmd = [*spec["command"], "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{workload} trace={trace}"
            n_before = len(problems)
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-400:]}")
                print(tag, "FAILED", flush=True)
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            printed = {name: m.get("unit") for name, m in result["metrics"].items()}
            if printed != expected[trace]:
                problems.append(f"{tag}: metrics/units differ from BENCHMARK.json: {printed}")
            if not result["correct"] or result["failed"]:
                problems.append(f"{tag}: correct={result['correct']} failed={result['failed']}")
            if trace == 0 and result["metrics"]["success_rate"]["value"] != 1.0:
                problems.append(f"{tag}: success_rate {result['metrics']['success_rate']['value']}")
            print(tag, "ok" if len(problems) == n_before else "FAILED", flush=True)
    if before is not None and _git_status() != before:
        problems.append("git status --porcelain changed during the runs")
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
