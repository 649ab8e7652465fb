#!/usr/bin/env python3
"""Checks of the benchmark's inputs, run from the root of a checkout
after `run.py` has run every workload with both seeds:

    python3 perfbench/selfcheck.py <seed_a> <seed_b>

- one seed generates byte-identical inputs every time;
- two seeds generate different row orders;
- the DuckDB oracle results (digests written by run.py) are identical
  across seeds on the workloads whose seed only permutes rows.
Exits non-zero on any failure.
"""
import filecmp
import json
import os
import shutil
import sys

import build
import gen
from run import WORKLOADS


def main(seed_a, seed_b):
    work = os.path.join(build.build_dir(), "selfcheck")
    failures = []
    for name, w in sorted(WORKLOADS.items()):
        dirs = {}
        for tag, seed in (("a1", seed_a), ("a2", seed_a), ("b", seed_b)):
            dirs[tag] = os.path.join(work, f"{name}-{tag}")
            shutil.rmtree(dirs[tag], ignore_errors=True)
            gen.generate(dirs[tag], seed, w["sf"], w.get("doc_replicas", 0))
        tables = sorted(os.listdir(dirs["a1"]))
        same = [t for t in tables
                if filecmp.cmp(f"{dirs['a1']}/{t}", f"{dirs['a2']}/{t}", shallow=False)]
        if same != tables:
            failures.append(f"{name}: seed {seed_a} is not reproducible: "
                            f"{sorted(set(tables) - set(same))}")
        big = [t for t in tables if t not in ("region.parquet", "nation.parquet")]
        moved = [t for t in big
                 if not filecmp.cmp(f"{dirs['a1']}/{t}", f"{dirs['b']}/{t}", shallow=False)]
        if moved != big:
            failures.append(f"{name}: seeds {seed_a} and {seed_b} give the same "
                            f"{sorted(set(big) - set(moved))}")
        shutil.rmtree(work, ignore_errors=True)

        digests = []
        for seed in (seed_a, seed_b):
            path = os.path.join(build.build_dir(), "digests", f"{name}-seed{seed}.json")
            if not os.path.exists(path):
                failures.append(f"{name}: no oracle digests for seed {seed}; run run.py first")
                break
            with open(path) as f:
                digests.append(json.load(f))
        if len(digests) == 2:
            differ = sorted(q for q in w["queries"] if digests[0].get(q) != digests[1].get(q))
            if w.get("doc_replicas"):
                print(f"{name}: oracle results that depend on token order: {differ}")
            elif differ:
                failures.append(f"{name}: oracle results differ across seeds: {differ}")
        print(f"{name}: inputs checked")
    for f in failures:
        print(f"FAIL {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(int(sys.argv[1]), int(sys.argv[2])))
