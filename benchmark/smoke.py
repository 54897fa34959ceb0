"""Smoke test of the benchmark itself, at a tiny input size.

    python3 benchmark/smoke.py

Checks that input generation is deterministic (same seed, same digest;
another seed, another digest), then runs every workload once untraced and
once traced and checks that:

- the run passes its output check and prints the contract line last;
- every metric printed (contract line and record) is declared in
  BENCHMARK.json with the unit it is printed with;
- every metric declared for the mode is printed; one a workload cannot
  produce is printed as 0 and named, with its reason, in the record's
  ``absent`` map, whose names must all be declared.

Takes several minutes: each run starts its own Spark application.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = {"corpus_neardup": 0.05, "resume_increment": 0.05}


def check_determinism() -> None:
    sys.path[:0] = [ROOT, HERE]
    import gen

    a, b, c = (gen.digest(gen.corpus_neardup(60, s)) for s in (5, 5, 6))
    if a != b or a == c:
        raise SystemExit("corpus_neardup: generator is not deterministic per seed")
    a, b, c = (gen.digest(gen.resume_increment(60, s)) for s in (5, 5, 6))
    if a != b or a == c:
        raise SystemExit("resume_increment: generator is not deterministic per seed")


def run(workload: str, trace: int, declared: dict) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE[workload])],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return [f"exit {proc.returncode}: {proc.stderr[-2000:]}"]
    result = json.loads(lines[-1])
    record = json.loads(lines[-2])["record"]
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"} or not result["correct"]:
        problems.append(f"bad result line: {lines[-1][:300]}")
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    printed = {**record["end_to_end"], **result["metrics"]}
    for name, m in printed.items():
        if units.get(name) != m["unit"]:
            problems.append(f"{name} printed with unit {m['unit']!r}, declared {units.get(name)!r}")
    want = [m["name"] for m in declared["per_layer" if trace else "end_to_end"]]
    missing = [n for n in want if n not in result["metrics"]]
    if missing:
        problems.append(f"declared but not printed: {missing}")
    unknown = [n for n in record["absent"] if n not in units]
    if unknown:
        problems.append(f"reasons recorded for undeclared metrics: {unknown}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    check_determinism()
    failures = 0
    for w in declared["workloads"]:
        for trace in (0, 1):
            problems = run(w["name"], trace, declared)
            print(f"{w['name']} trace={trace}: {'ok' if not problems else 'FAIL'}")
            for p in problems:
                print(f"  {p}")
            failures += bool(problems)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
