#!/usr/bin/env python3
"""Smoke test of the benchmark: all four workloads at tiny sizes in one
traced JVM, asserting that every metric BENCHMARK.json names is reported
(end-to-end and per-layer) with its unit and a finite value, and that
every check ran and passed.

    python3 graftbench/smoke_test.py

Run from the root of a checkout; builds first when the sources changed.
Takes about a minute once built.
"""
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    want_e2e = [m["name"] for m in spec["end_to_end"]]
    want_layer = [m["name"] for m in spec["per_layer"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    os.makedirs(run.WORK, exist_ok=True)
    jars = run.spark_jars()
    run.build(jars)
    t0 = time.time()
    results = run.run_jvm(jars, run.WORKLOADS, seed=1, seconds=1, trace=1,
                          size="smoke")
    problems = []
    for res in results:
        wl = res["workload"]
        for kind, want in (("end_to_end", want_e2e), ("per_layer", want_layer)):
            got = res[kind]
            missing = [m for m in want if m not in got]
            extra = [m for m in got if m not in want]
            bad = [m for m, v in got.items() if not math.isfinite(v["value"])]
            unit = [m for m, v in got.items() if m in units and v["unit"] != units[m]]
            if missing or extra or bad or unit:
                problems.append(f"{wl} {kind}: missing {missing} extra {extra} "
                                f"non-finite {bad} wrong unit {unit}")
        for m in want_e2e:
            if m in res["end_to_end"] and res["end_to_end"][m]["value"] <= 0:
                problems.append(f"{wl}: end-to-end {m} is not positive")
        if not res["checks"]:
            problems.append(f"{wl}: names no checks")
        line = run.finish(res, trace=1, size="smoke")
        if not line["correct"]:
            problems.append(f"{wl}: {line['failed']} of {line['attempted']} "
                            "operations failed")
        print(f"{wl}: checks {', '.join(res['checks'])}: "
              f"{'ok' if line['correct'] else 'FAILED'}")
    print(f"smoke run: {time.time() - t0:.1f} s for {len(results)} workloads")
    for p in problems:
        print("PROBLEM:", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
