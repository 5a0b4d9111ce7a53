"""Benchmark self-tests; no Spark needed.

    python3 perfbench/selftest.py

1. The same seed gives byte-identical input files, and another seed
   gives different ones.
2. Every metric named in BENCHMARK.json is one the benchmark prints,
   with the same unit, and nothing it prints is missing there.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run  # noqa: E402


def _files(d: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


def same_inputs() -> list[str]:
    base = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    problems = []
    try:
        for workload in run.WORKLOADS:
            dirs = {}
            for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                dirs[tag] = os.path.join(base, workload, tag)
                os.makedirs(dirs[tag])
                run.make_inputs(workload, seed, dirs[tag])
            names = _files(dirs["a"])
            if names != _files(dirs["b"]):
                problems.append(f"{workload}: same seed, different file lists")
                continue
            _, mismatch, errors = filecmp.cmpfiles(dirs["a"], dirs["b"], names, shallow=False)
            if mismatch or errors:
                problems.append(f"{workload}: same seed, different bytes in {mismatch + errors}")
            _, mismatch, _ = filecmp.cmpfiles(dirs["a"], dirs["c"], names, shallow=False)
            if not mismatch:
                problems.append(f"{workload}: seeds 7 and 8 gave identical inputs")
    finally:
        shutil.rmtree(base, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(base))  # only when no run is using it
        except OSError:
            pass
    return problems


def metrics_declared() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for key, printed in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in bench[key]}
        if declared != dict(printed):
            problems.append(f"{key}: BENCHMARK.json and the printed metrics differ: "
                            f"{sorted(set(declared.items()) ^ set(dict(printed).items()))}")
    if [w["name"] for w in bench["workloads"]] != list(run.WORKLOADS):
        problems.append("workloads in BENCHMARK.json differ from the benchmark's")
    return problems


def main() -> int:
    problems = same_inputs() + metrics_declared()
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
