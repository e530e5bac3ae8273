"""Smoke test of the benchmark itself, at tiny scale.

    python3 perfbench/smoke.py [--seed N]

For one fixed seed, runs one short pass of every workload untraced and
traced, and checks that: every metric BENCHMARK.json names is emitted with
its unit; per-layer metrics appear only in the traced run; and no
operation failed (``failed_ratio`` is 0). Exits non-zero on any breach.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "4", "--trace", str(trace), "--scale", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                         timeout=300, check=True).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def check(workload: str, seed: int, bench: dict) -> list[str]:
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems = []
    for trace, want in ((0, e2e), (1, layer)):
        report, last = run_once(workload, seed, trace)
        tag = f"{workload} trace={trace}"
        got = last["metrics"]
        for name, unit in want.items():
            if name not in got:
                problems.append(f"{tag}: metric {name} missing")
            elif got[name].get("unit") != unit or not isinstance(got[name].get("value"), (int, float)):
                problems.append(f"{tag}: metric {name} is {got[name]}, want a number in {unit}")
        leaked = [n for n in got if n not in want]
        if leaked:
            problems.append(f"{tag}: unexpected metrics {leaked[:5]}")
        if trace == 0 and ("layers" in report or set(got) & set(layer)):
            problems.append(f"{tag}: per-layer metrics in an untraced run")
        if last["failed"] or report["metrics"]["failed_ratio"]["value"] != 0 or not last["correct"]:
            problems.append(f"{tag}: failed={last['failed']} correct={last['correct']} {report['failures']}")
        for name in e2e:
            if report["end_to_end"].get(name, {}).get("unit") != e2e[name]:
                problems.append(f"{tag}: report lacks {name} in {e2e[name]}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for w in bench["workloads"]:
        found = check(w["name"], args.seed, bench)
        print(f"{w['name']}: {'ok' if not found else 'FAIL'}", flush=True)
        problems += found
    for p in problems:
        print("  " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
