"""Fast checks of the benchmark's own contract.

    python3 perfbench/tests/test_generator.py     (or: pytest perfbench/tests)

- one seed gives byte-identical inputs, NetCDF and GeoTIFF included;
- another seed gives different inputs;
- BENCHMARK.json and run.py name the same metrics with the same units.
"""
import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402


def _digest(work):
    h = hashlib.sha256()
    for top in ("in", "stage"):
        for d, dirs, files in os.walk(os.path.join(work, top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, work).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _generate(workload, seed, tag):
    work = os.path.join(run.ROOT, ".bench_work", f"test-{tag}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    gen.generate(workload, seed, work)
    run.java(["setup", "1", os.path.join(work, "raw", "manifest.json")], work)
    shutil.rmtree(os.path.join(work, "raw"))
    digest = _digest(work)
    shutil.rmtree(work)
    return digest


def test_same_seed_same_bytes():
    run.build()
    for w in run.WORKLOADS:
        a, b = _generate(w, 7, "a"), _generate(w, 7, "b")
        assert a == b, f"{w}: seed 7 produced different inputs"
        assert _generate(w, 8, "c") != a, f"{w}: seeds 7 and 8 produced the same inputs"


def test_benchmark_json_matches_run():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


if __name__ == "__main__":
    test_benchmark_json_matches_run()
    test_same_seed_same_bytes()
    print("ok")
