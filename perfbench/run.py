#!/usr/bin/env python3
"""Pipeline benchmark: the one command.

    python3 perfbench/run.py --workload era5_area --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark when their sources changed, generates
the workload's inputs from the seed, times set-up in a fresh JVM (which
then writes the NetCDF/GeoTIFF inputs), runs the measured JVM (set-up, one
cold operation, then warm operations in a closed loop for --seconds),
checks every operation's output against the DuckDB oracle, and prints
every metric by name with its unit. The last line
of stdout is one JSON object; with --trace 0 it holds the end-to-end
metrics, with --trace 1 the per-layer ones. Exits 1 on any oracle mismatch
or failed operation.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("era5_area", "station_gapfill", "llm_curation")
JVM_TIMEOUT_S = 150

END_TO_END = {"job_s": "s", "rows_per_s": "rows/s", "cold_job_s": "s",
              "setup_s": "s", "retained_heap_mb": "MB"}

# name -> unit; a layer idle in a workload reports 0
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.driver_gap_s": "s", "spark.build_s": "s",
    "spark.execute_s": "s", "spark.codegen_compiles": "count",
    "sources.NetCDF.plan_s": "s", "sources.NetCDF.scan_s": "s",
    "sources.NetCDF.rows": "rows", "sources.NetCDF.input_mb": "MB",
    "sources.NetCDF.partitions": "count", "sources.NetCDF.files": "count",
    "sources.GeoTIFF.scan_s": "s", "sources.GeoTIFF.rows": "rows",
    "engine.Joins.enrich.exec_s": "s",
    "engine.Joins.nearestCoordMapping.exec_s": "s",
    "engine.Joins.bboxClip.exec_s": "s", "engine.Joins.bboxClip.rows_in": "rows",
    "engine.Joins.bboxClip.rows_out": "rows",
    "engine.Joins.gapfillAlign.exec_s": "s",
    "engine.Joins.gapfillAlign.shuffle_mb": "MB",
    "engine.Conversions.exec_s": "s", "engine.Conversions.rows": "rows",
    "engine.AggSchema.resample.exec_s": "s",
    "engine.AggSchema.resample.shuffle_mb": "MB",
    "engine.AggSchema.resample.groups": "count",
    "engine.Dates.parseTimestamp.exec_s": "s",
    "engine.Relational.timeBounds.build_s": "s",
    "engine.Pipeline.gapFill.build_s": "s",
    "engine.Pipeline.areaProcess.build_s": "s",
    "engine.Sinks.writePartitioned.exec_s": "s",
    "engine.Sinks.writePartitioned.files": "count",
    "engine.Sinks.writePartitioned.output_mb": "MB",
    "engine.Sinks.writeCsv.exec_s": "s", "engine.Sinks.writeCsv.files": "count",
    "engine.Sinks.parquet.exec_s": "s",
    "llm.Text.features.exec_s": "s", "llm.Text.features.docs_in": "docs",
    "llm.Text.features.docs_kept": "docs",
    "llm.Dedup.exact.exec_s": "s", "llm.Dedup.exact.dups_removed": "docs",
    "llm.Dedup.fuzzyDuplicates.build_s": "s",
    "llm.Dedup.fuzzyDuplicates.task_s": "s",
    "llm.Dedup.fuzzyDuplicates.candidate_pairs": "pairs",
    "llm.Dedup.fuzzyDuplicates.verified_pairs": "pairs",
    "llm.Dedup.duplicateClusters.build_s": "s",
    "llm.Dedup.duplicateClusters.jobs": "count",
    "llm.Dedup.duplicateClusters.clusters": "count",
    "llm.Dedup.pruneDuplicates.exec_s": "s",
    "llm.Curation.contaminationReport.exec_s": "s",
    "llm.Curation.contaminationReport.contaminated": "docs",
    "llm.Curation.capPerGroupByContent.exec_s": "s",
    "llm.Shaping.packSequences.exec_s": "s", "llm.Shaping.packSequences.bins": "count",
    "llm.Shaping.packSequences.fill_ratio": "fraction",
    "host.cpu_probe_s": "s", "trace.overhead_s": "s",
    "station_p50_s": "s", "station_p75_s": "s", "pinned_rdds_left": "count",
}

# per-layer values read from the traced operations' spans: metric -> span
SPAN_BUILD = {
    "sources.NetCDF.plan_s": "sources.NetCDF.load",
    "engine.Pipeline.areaProcess.build_s": "engine.Pipeline.areaProcess",
    "engine.Pipeline.gapFill.build_s": "engine.Pipeline.gapFill",
    "llm.Dedup.fuzzyDuplicates.build_s": "llm.Dedup.fuzzyDuplicates",
    "llm.Dedup.duplicateClusters.build_s": "llm.Dedup.duplicateClusters",
}
SPAN_COUNTERS = {
    "llm.Dedup.fuzzyDuplicates.task_s": ("llm.Dedup.fuzzyDuplicates", "task_s"),
    "llm.Dedup.duplicateClusters.jobs": ("llm.Dedup.duplicateClusters", "jobs"),
}
SPARK_COUNTERS = [n for n in PER_LAYER if n.startswith("spark.")
                  and n != "spark.codegen_compiles"]

JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def program_classes():
    return os.environ.get("GRAFT_CLASSES") or os.path.join(
        ROOT, "target", "scala-2.13", "classes")


def _tree_digest(h, top, exts):
    for d, dirs, files in os.walk(top):
        dirs[:] = sorted(x for x in dirs if x not in ("target", ".bench_build"))
        for f in sorted(files):
            if f.endswith(exts):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())


def _sbt(cwd, target, log_path):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    with open(log_path, "ab") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", target],
                           cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        fail(f"build failed in {cwd} (see {log_path})")


def build():
    """Compile the program (unless GRAFT_CLASSES names prebuilt classes) and
    the benchmark; skipped while neither's sources changed."""
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    own = not os.environ.get("GRAFT_CLASSES")
    if own and not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
                    and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not in this checkout")
    h = hashlib.sha256()
    if own:
        for f in ("build.sbt",):
            with open(os.path.join(ROOT, f), "rb") as fh:
                h.update(fh.read())
        _tree_digest(h, os.path.join(ROOT, "project"), (".sbt", ".properties", ".scala"))
        _tree_digest(h, os.path.join(ROOT, "src", "main"), ("",))
    _tree_digest(h, HERE, (".scala", ".sbt", ".properties"))
    stamp = os.path.join(BUILD, "stamp")
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    log_path = os.path.join(BUILD, "build.log")
    t0 = time.time()
    if own:
        _sbt(ROOT, "Compile/products", log_path)
    _sbt(HERE, "compile", log_path)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"built in {time.time() - t0:.1f} s")


def classpath():
    return os.pathsep.join([
        program_classes(),
        os.path.join(BUILD, "perfbench", "scala-2.13", "classes"),
        os.path.join(os.environ["SPARK_HOME"], "jars", "*")])


def java(args, work, timeout=JVM_TIMEOUT_S, heap="3g"):
    """Run perfbench.Main; its temporary and Spark local files stay in `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", f"-Xmx{heap}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.sql.session.timeZone=UTC", "-cp", classpath(),
            "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "ab") as err:
        r = subprocess.run(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                           stderr=err, stdin=subprocess.DEVNULL, timeout=timeout)
    if r.returncode != 0:
        fail(f"JVM {args[0]} exited {r.returncode} (see {work}/jvm.log)", 1)
    return r.stdout.decode()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartile3(xs):
    return statistics.quantiles(xs, n=4)[2] if len(xs) >= 2 else median(xs)


def input_rows(workload, info):
    st = info["stage"]
    if workload == "era5_area":
        return st["grid.parquet"]["rows"]            # cell-hours
    if workload == "station_gapfill":
        return st["points.parquet"]["rows"] // gen.STATIONS  # station-hours
    return st["docs.parquet"]["rows"]                # documents


def steady(res):
    """Times of the warm operations that started after the warm-up half."""
    return [o["s"] for o in res["warm"] if o["measured"]]


def per_layer(workload, res):
    traced = res.get("traced", [])
    warm_s = steady(res)
    out = {n: 0.0 for n in PER_LAYER}
    out.update({k: v for k, v in res.get("layers", {}).items() if v is not None})
    for n in SPARK_COUNTERS:
        out[n] = median([t[n] for t in traced])
    out["spark.codegen_compiles"] = float(res["codegen_compiles_cold"])
    for n, span in SPAN_BUILD.items():
        vals = [t["spans"][span]["s"] for t in traced if span in t["spans"]]
        if vals:
            out[n] = median(vals)
    for n, (span, key) in SPAN_COUNTERS.items():
        vals = [t["spans"][span][key] for t in traced if span in t["spans"]]
        if vals:
            out[n] = median(vals)
    out["host.cpu_probe_s"] = res["host.cpu_probe_s"]
    out["trace.overhead_s"] = median([t["op"]["s"] for t in traced]) - median(warm_s)
    if workload == "station_gapfill":
        out["station_p50_s"] = median(warm_s)
        out["station_p75_s"] = quartile3(warm_s)
    out["pinned_rdds_left"] = float(res["pinned_rdds_left"])
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    gen.generate(a.workload, a.seed, work)
    log(f"inputs generated in {time.time() - t0:.1f} s")
    # a fresh JVM: one set-up sample, then the NetCDF/GeoTIFF inputs
    n = cores()
    manifest = os.path.join(work, "raw", "manifest.json")
    setups = [json.loads(java(["setup", str(n), manifest], work)
                         .strip().splitlines()[-1])["setup_s"]]
    shutil.rmtree(os.path.join(work, "raw"))
    info = gen.describe(work)

    java(["run", a.workload, work, str(a.seconds), str(a.trace), str(n)], work)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    setups.append(res["setup_s"])

    ops = [res["cold"]] + res["warm"] + [t["op"] for t in res.get("traced", [])]
    t1 = time.time()
    bad = oracle.check(a.workload, work, ops)
    log(f"oracle checked {len(ops)} outputs in {time.time() - t1:.1f} s")
    for op, why in bad:
        log(f"MISMATCH {op['key']} ({op['out']}): {why}")
    if bad:  # a failed JVM exits above, leaving everything in place too
        log(f"inputs and outputs kept in {work}")
    else:
        for d in ("in", "stage", "out", "tmp"):
            shutil.rmtree(os.path.join(work, d))

    warm_s = steady(res)
    job_s = median(warm_s)
    e2e = {"job_s": job_s,
           "rows_per_s": input_rows(a.workload, info) / job_s,
           "cold_job_s": res["cold"]["s"],
           "setup_s": median(setups),
           "retained_heap_mb": res["retained_heap_mb"]}
    attempted, failed = len(ops), len(bad)
    print(f"workload {a.workload}  seed {a.seed}  cores {n}  "
          f"warm operations {len(res['warm'])}, {len(warm_s)} of them measured  "
          f"input rows {input_rows(a.workload, info)}")
    print(f"inputs (rows, MB per staged table): {json.dumps(info)}")
    extra = {"error_rate": ("fraction", failed / attempted),
             "pinned_rdds_left": ("count", res["pinned_rdds_left"])}
    if a.workload == "station_gapfill":
        extra["station_p50_s"] = ("s", median(warm_s))
        extra["station_p75_s"] = ("s", quartile3(warm_s))
    for name, unit in END_TO_END.items():
        print(f"  {name:<28} {e2e[name]:>14.4f} {unit}")
    for name, (unit, v) in extra.items():
        print(f"  {name:<28} {v:>14.4f} {unit}")

    if a.trace:
        layers = per_layer(a.workload, res)
        for name, unit in PER_LAYER.items():
            print(f"  {name:<44} {layers[name]:>14.4f} {unit}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
