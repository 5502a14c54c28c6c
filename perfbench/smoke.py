#!/usr/bin/env python3
"""Tiny-size smoke check of the benchmark.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced at
~1k docs, and checks that each result line has exactly the keys the
driver reads, that no unit failed, and that the metrics are exactly the
``end_to_end`` (untraced) or ``per_layer`` (traced) metrics of
BENCHMARK.json with their units. Exits non-zero on the first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_CANONICAL = 500


def check(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--canonical", str(TINY_CANONICAL)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0 or result.get("attempted", 0) < 1:
        errors.append(f"correct={result.get('correct')} attempted={result.get('attempted')} failed={result.get('failed')}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != wanted:
        missing = sorted(set(wanted) - set(got))
        extra = sorted(set(got) - set(wanted))
        wrong = sorted(k for k in set(got) & set(wanted) if got[k] != wanted[k])
        errors.append(f"metrics missing {missing} extra {extra} wrong unit {wrong}")
    bad = [k for k, v in result.get("metrics", {}).items() if not isinstance(v.get("value"), (int, float))]
    if bad:
        errors.append(f"non-numeric values {bad}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    status = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors = check(w["name"], trace, spec)
            print(f"{w['name']} trace {trace}: {'ok' if not errors else '; '.join(errors)}")
            status |= bool(errors)
    return status


if __name__ == "__main__":
    sys.exit(main())
