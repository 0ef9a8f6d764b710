"""Steadiness self-check: run each workload with several seeds and compare
the run-to-run spread of every end-to-end metric with its bound.

    python3 perfbench/tests/test_steadiness.py [--runs 5] [--workloads era5_area,...]

The spread is (Q3 - Q1) / median over the runs, with quartiles as
`statistics.quantiles(values, n=4)` gives them. The check fails when any
spread exceeds the metric's bound in BENCHMARK.json. `setup_s` is reported
but exempt: its bound limits the shift between two sets of runs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def spreads(workload, seeds, seconds):
    values = {}
    for seed in seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
             "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, check=True).stdout.decode()
        result = json.loads(out.strip().splitlines()[-1])
        assert result["correct"], f"{workload} seed {seed}: oracle mismatch"
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    out = {}
    for name, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        out[name] = ((q3 - q1) / med, med)
    return out


def check(runs, workloads):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    failures = []
    for w in workloads:
        for name, (spread, med) in spreads(w, range(101, 101 + runs),
                                           spec["run_seconds"]).items():
            exempt = name == "setup_s"
            ok = exempt or spread <= bounds[name]
            print(f"{w:<16} {name:<18} median {med:>14.4f}  spread {spread:7.2%}"
                  f"  bound {bounds[name]:5.0%}  {'exempt' if exempt else 'ok' if ok else 'FAIL'}")
            if not ok:
                failures.append(f"{w}/{name}")
    return failures


def test_steadiness():
    assert not check(3, [w["name"] for w in json.load(
        open(os.path.join(ROOT, "BENCHMARK.json")))["workloads"]])


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--workloads", default="era5_area,station_gapfill,llm_curation")
    a = ap.parse_args()
    bad = check(a.runs, a.workloads.split(","))
    print("FAIL: " + ", ".join(bad) if bad else "ok")
    sys.exit(1 if bad else 0)
