#!/usr/bin/env python3
"""Smoke-size self-check of the benchmark: runs every workload named in
BENCHMARK.json on tiny inputs, untraced and traced, and fails unless each
run exits 0, prints the result line with exactly the declared metric names
and units, and reports no failed operation (failed_share == 0).

    python3 perfbench/selfcheck.py      # from the checkout root; ~5 min
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, trace: int, declared: list[dict]) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        return [f"exit code {p.returncode}: {p.stderr[-2000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(res)}")
    if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        errors.append(f"correct={res.get('correct')} failed={res.get('failed')} attempted={res.get('attempted')}")
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
    if got != want:
        errors.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                      f"extra {sorted(set(got) - set(want))}, "
                      f"units {sorted(k for k in set(want) & set(got) if want[k] != got[k])}")
    bad = [k for k, v in res.get("metrics", {}).items()
           if not isinstance(v.get("value"), (int, float)) or not math.isfinite(v["value"])]
    if bad:
        errors.append(f"non-numeric values: {bad}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = 0
    for w in spec["workloads"]:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            errors = check(w["name"], trace, declared)
            print(f"{'FAIL' if errors else 'ok'}  {w['name']} --trace {trace}", flush=True)
            for e in errors:
                print(f"      {e}")
            failures += bool(errors)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
