"""Smoke check: run every workload of BENCHMARK.json once at the smallest
input size, untraced and traced, and assert that every metric named
there is printed with its unit and that every output check passed.

    python3 perfbench/smoke.py [--seed 1]

Takes several minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cmd: list[str], workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [*cmd, "--workload", workload, "--seed", str(seed), "--seconds", "1",
         "--trace", str(trace), "--size", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit code {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for wl in bench["workloads"]:
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            res = run_once(bench["command"], wl["name"], args.seed, trace)
            where = f"{wl['name']} trace={trace}"
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{where}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{where}: correct={res['correct']} failed={res['failed']} "
                                f"attempted={res['attempted']}")
            for m in bench[group]:
                got = res["metrics"].get(m["name"])
                if got is None:
                    problems.append(f"{where}: metric {m['name']} missing")
                elif got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{where}: metric {m['name']} printed as {got}")
            extra = set(res["metrics"]) - {m["name"] for m in bench[group]}
            if extra:
                problems.append(f"{where}: metrics not in BENCHMARK.json: {sorted(extra)}")
            print(f"{where}: {len(res['metrics'])} metrics, attempted={res['attempted']}", flush=True)
    for p in problems:
        print("FAIL", p)
    print("smoke check", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
