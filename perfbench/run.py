#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload cdc_sync --seed 7 --seconds 10 --trace 0

Builds the engine and the benchmark program from source (see build.py),
then runs it in one JVM on local[<cores>]. Prints a report, then,
as the last line of stdout, one JSON object with `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1). The full result, spans included, is
kept in .bench_build/results/. Exits non-zero, without a result line,
when the build or the run fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # keep perfbench/ free of __pycache__
import build  # noqa: E402

WORKLOADS = ("cdc_compact", "cdc_sync", "corpus_admit", "corpus_release")
# The engine stages stream slices under this fixed root (graft.streaming.Staging);
# anything a run leaves there is removed when it ends.
STAGING_ROOT = "/tmp/graft-stream"
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def staged():
    return set(os.listdir(STAGING_ROOT)) if os.path.isdir(STAGING_ROOT) else set()


def remove_staged(before):
    for name in staged() - before:
        path = os.path.join(STAGING_ROOT, name)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)


def declared_metrics(trace):
    spec = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(spec):
        return None
    with open(spec) as f:
        return [m["name"] for m in json.load(f)["per_layer" if trace else "end_to_end"]]


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()

    start = time.monotonic()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    built_s = time.monotonic() - start
    # a run must end within 180 s; a run that also compiled gets 900 s
    deadline = start + (840 if built_s > 20 else 170)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(build.BUILD_DIR, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(build.BUILD_DIR, "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    result_file = os.path.join(results, tag + ".json")
    if os.path.exists(result_file):
        os.remove(result_file)

    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = [build.java(), f"-Xmx{HEAP}", "-XX:+UseParallelGC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", "-Dspark.ui.enabled=false",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", os.path.join(work, "data"), "--out", result_file]

    before = staged()
    log_path = os.path.join(results, tag + ".log")
    rc = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
        signal.signal(signal.SIGTERM, lambda *_: proc.kill())
        report = []
        try:
            reader = threading.Thread(target=lambda: report.extend(proc.stdout), daemon=True)
            reader.start()
            while proc.poll() is None and time.monotonic() < deadline:
                time.sleep(0.2)
            if proc.poll() is None:
                proc.kill()
                print("run exceeded its deadline; killed", file=sys.stderr)
            rc = proc.wait()
            reader.join(5)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            remove_staged(before)
            shutil.rmtree(work, ignore_errors=True)

    sys.stdout.write("".join(report))
    if rc != 0 or not os.path.exists(result_file):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"run failed (exit {rc})", file=sys.stderr)
        return 1

    with open(result_file) as f:
        res = json.load(f)
    want = declared_metrics(args.trace)
    if want is not None and sorted(want) != sorted(res["metrics"]):
        print(f"metric set {sorted(res['metrics'])} differs from BENCHMARK.json {sorted(want)}",
              file=sys.stderr)
        return 1
    na = set(res["not_applicable"])
    for name, m in res["metrics"].items():
        shown = "n/a" if name in na else f"{m['value']:.6g} {m['unit']}"
        print(f"  {name:36s} {shown}")
    error_rate = res["failed"] / max(res["attempted"], 1)
    print(f"  correct: {res['correct']}  attempted: {res['attempted']}  failed: {res['failed']}"
          f"  error_rate: {error_rate:.4f}")
    for why in res["failures"]:
        print(f"  FAILED: {why}")
    print(f"  full result and spans: {os.path.relpath(result_file, build.ROOT)}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
