"""Smoke test of the benchmark itself: every workload at toy size, untraced
and traced. Asserts that each run is correct (every correctness check
passed, none failed) and prints every metric BENCHMARK.json names, with its
unit and a number.

    python3 dedupbench/smoke_test.py      # about 4 minutes on 4 cores
"""

import json
import numbers
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "toy"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    failures = []
    for w in (x["name"] for x in SPEC["workloads"]):
        for trace in (0, 1):
            res = run(w, trace)
            declared = SPEC["per_layer" if trace else "end_to_end"]
            got = res["metrics"]
            problems = [f"{m['name']}: {got.get(m['name'])}" for m in declared
                        if got.get(m["name"], {}).get("unit") != m["unit"]
                        or not isinstance(got[m["name"]]["value"], numbers.Real)]
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"attempted {res['attempted']}, failed {res['failed']}")
            if set(got) != {m["name"] for m in declared}:
                problems.append("metric names differ from BENCHMARK.json")
            if not trace:
                problems += [f"{m['name']} is 0" for m in declared
                             if got[m["name"]]["value"] == 0]
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{w} trace={trace}: {status}", flush=True)
            failures += problems
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
