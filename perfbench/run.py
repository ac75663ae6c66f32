#!/usr/bin/env python3
"""Runs one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload stream_events --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --ladder --seed 1


Builds the library (src/) and the benchmark program (perfbench/src/) from
source with sbt on first use, then runs the workload in one JVM and
prints its result as the last line of standard output:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The metric names and units are the ones BENCHMARK.json declares. With
--trace 1 the metrics are the per-layer ones, and the span file and
per-layer numbers are kept under .bench_build/traces/. A run whose
output check fails prints no metrics and exits 1. --ladder runs the
stream_events rate ladder that the high rate is derived from.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("stream_events", "crawl_ingest")
RUN_TIMEOUT_S = 170
LADDER_TIMEOUT_S = 900
# JVM heap, passed to the library build's own -Xmx setting
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
            os.path.join(BENCH, "src"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in tops:
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def declared():
    """Metric name -> unit, end-to-end and per-layer, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def build():
    """Builds on first use (or when sources changed); returns the runtime
    classpath and the library's JVM options."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        log("no library sources next to the benchmark (src/main/scala/graft, build.sbt)")
        sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"], cached["java_options"]
    log("building library and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.override.build.repos=true",
           "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "show javaOptions",
           "export Runtime/fullClasspath"]
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        log("build failed")
        sys.exit(2)
    log(f"built in {time.time() - t0:.0f} s")
    # `show javaOptions` prints one "[info] * <option>" line per option
    opts = [l[len("[info] * "):] for l in lines if l.startswith("[info] * ")]
    if not any(o.startswith("--add-opens") for o in opts):
        log("the library build lists no JVM options")
        sys.exit(2)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": lines[-1], "java_options": opts}, fh)
    return lines[-1], opts


def run_java(cp, java_options, args, work, log_path, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every scratch path inside the run's own directory, nothing under /tmp
    cmd = (["java"] + java_options +
           ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", cp, "perfbench.Main"] + args)
    # library defaults only: no inherited GRAFT_* tuning reaches the run
    env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=err, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"run exceeded {timeout} s")
            return 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that the generators are deterministic per seed")
    ap.add_argument("--ladder", action="store_true",
                    help="run the stream_events rate ladder")
    a = ap.parse_args()
    if not (a.selftest or a.ladder or a.workload):
        ap.error("--workload, --selftest or --ladder is required")

    end_to_end, per_layer = declared()
    cp, java_options = build()
    name = "selftest" if a.selftest else "ladder" if a.ladder else a.workload
    work = os.path.join(ROOT, ".bench_build", "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    log_path = os.path.join(ROOT, ".bench_build", f"{name}.log")
    args = ["--workload", name, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out]
    traces = os.path.join(ROOT, ".bench_build", "traces")
    if a.trace:
        os.makedirs(traces, exist_ok=True)
        args += ["--spans", os.path.join(traces, f"{name}-seed{a.seed}-spans.jsonl")]
    try:
        code = run_java(cp, java_options, args, work, log_path,
                        LADDER_TIMEOUT_S if a.ladder else RUN_TIMEOUT_S)
        result = None
        if code == 0 and os.path.isfile(out):
            with open(out) as fh:
                result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if result is None:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        log(f"run failed (exit {code}); log in {os.path.relpath(log_path, ROOT)}")
        sys.exit(1)
    if a.selftest or a.ladder:
        if a.ladder:
            with open(log_path) as fh:
                sys.stderr.write("".join(l for l in fh if "rung " in l))
        print(json.dumps(result))
        sys.exit(0 if result["correct"] else 1)
    if not result["correct"]:
        with open(log_path) as fh:
            sys.stderr.write("".join(l for l in fh if "CHECK FAILED" in l))
        print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed")} | {"metrics": {}}))
        sys.exit(1)
    # every declared metric by name with its unit; a layer the workload
    # bypasses reads 0
    values, units = (result["layers"], per_layer) if a.trace else (result["metrics"], end_to_end)
    undeclared = set(values) - set(units)
    if undeclared or (not a.trace and set(values) != set(units)):
        log(f"metrics do not match BENCHMARK.json: {sorted(undeclared ^ (set(units) - set(values)))}")
        sys.exit(1)
    out = {k: result[k] for k in ("correct", "attempted", "failed")}
    out["metrics"] = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in units.items()}
    if a.trace:
        with open(os.path.join(traces, f"{name}-seed{a.seed}-layers.json"), "w") as fh:
            json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
