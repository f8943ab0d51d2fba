#!/usr/bin/env python3
"""Benchmark of the graft engine and its Spotify ETL. See perfbench/README.md.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload surface|etl-paced|etl-bulk \
        --seed N --seconds S --trace 0|1

Builds the library and the harness once per checkout (sbt, offline), runs
one closed-loop JVM for the workload, and prints one JSON object as the last line of standard output. Everything it
writes goes under .bench_build/ in the checkout; the per-run temporary
directory is measured and deleted before it exits.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("surface", "etl-paced", "etl-bulk")
DEADLINE_S = 170
# recording the expected fingerprints runs all 230 queries, cold
RECORD_DEADLINE_S = 1500


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    # the library's build reads it when it sets the program's -Xmx
    h.update(f"SPARK_DRIVER_MEM={os.environ.get('SPARK_DRIVER_MEM', '')}".encode())
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile library and harness with sbt; cache the launch line."""
    launch = os.path.join(OUT, "launch.txt")
    stamp = os.path.join(OUT, "launch.stamp")
    digest = sources_digest()
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return read_launch(launch)
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in sbt_opts:
        sbt_opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            sbt_opts += (" -Dsbt.override.build.repos=true"
                         f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = (sbt_opts + " -Xmx2g").strip()
    with open(os.path.join(OUT, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(launch):
        fail(f"build failed, see {os.path.join(OUT, 'build.log')}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return read_launch(launch)


def read_launch(path):
    cp, opts, cur = [], [], None
    with open(path) as fh:
        for line in fh.read().splitlines():
            if line in ("[classpath]", "[javaOptions]"):
                cur = cp if line == "[classpath]" else opts
            elif line:
                cur.append(line)
    return cp, opts


def other_jvms(mine):
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv0 = fh.read().split(b"\0")[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            n += 1
    return n


def dir_mb(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total / 1048576.0


def launch_jvm(cp, opts, run_dir, args, deadline):
    """Run the harness; return (exit code, set-up seconds, result object).

    A timer kills the JVM at the deadline, so a hung run cannot block the
    read below; the JVM is always waited for."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts + [f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(cp),
                              "perfbench.Main"] + args)
    log = open(os.path.join(run_dir, "..", os.path.basename(run_dir) + ".log"), "a")
    t0 = time.monotonic()
    p = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log,
                         stdin=subprocess.DEVNULL, text=True)
    timer = threading.Timer(max(0.0, deadline - time.monotonic()), p.kill)
    timer.start()
    setup, result = None, None
    try:
        for line in p.stdout:
            if line.startswith("PERFBENCH_READY") and setup is None:
                setup = time.monotonic() - t0
            elif line.startswith("PERFBENCH_RESULT "):
                result = json.loads(line[len("PERFBENCH_RESULT "):])
    finally:
        timer.cancel()
        if p.poll() is None:
            p.kill()
        p.wait()
        log.close()
    return p.returncode, setup, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected",
                    help="surface only: run all 230 queries and write their fingerprints here")
    a = ap.parse_args()
    start = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("the library sources (build.sbt, src/main/scala/graft) are not here")
    cp, opts = build()
    # the build may take long on a fresh checkout; the run's own clock starts now
    deadline = time.monotonic() + (RECORD_DEADLINE_S if a.record_expected else DEADLINE_S)

    nproc = os.cpu_count()
    run_id = f"{a.workload}-seed{a.seed}-{os.getpid()}"
    runs = os.path.join(OUT, "runs")
    traces = os.path.join(OUT, "traces")
    run_dir = os.path.join(runs, run_id)
    os.makedirs(run_dir, exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    load_pre = os.getloadavg()[0]
    jvms_pre = other_jvms({os.getpid()})
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--run-dir", run_dir, "--bench-dir", HERE,
            "--trace-dir", traces]
    if a.record_expected:
        args += ["--record-expected", os.path.abspath(a.record_expected)]
    try:
        code, setup, result = launch_jvm(cp, opts, run_dir, args, deadline)
        if code != 0 or result is None or setup is None:
            fail(f"harness exited with {code} and no result; log in {runs}", 4)
        tmp_mb = dir_mb(run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_post = os.getloadavg()[0]

    metrics = result["metrics"]
    if a.trace == 0:
        metrics = {"setup_s": {"value": setup, "unit": "s"}, **metrics}
    else:
        metrics["stream.tmp_mb_left"] = {"value": tmp_mb, "unit": "MB"}
    # contention is judged against the box's cores, not Spark's
    print(json.dumps({"box": {"nproc": nproc, "load_pre": load_pre, "load_post": load_post,
                              "other_jvms": jvms_pre,
                              "contended": load_pre > nproc / 2 or jvms_pre > 0},
                      "warm_iterations": result["warm_iterations"],
                      "samples": result["samples"],
                      "iterations_s": result["iterations_s"], "ops": result["ops"],
                      "heap_mb": result["heap_mb"],
                      "wall_s": time.monotonic() - start}))
    print(json.dumps({"correct": result["correct"] is True and result["failed"] == 0,
                      "attempted": result["attempted"], "failed": result["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
