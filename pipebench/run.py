#!/usr/bin/env python3
"""Benchmark of the graft engine: the paper's pipeline (`refresh`) and
the query board (`board`).

Usage, from the repository root:

    python3 pipebench/run.py --workload refresh|board \
        --seed N --seconds S --trace 0|1 [--rows-per-type N]

Builds the engine and the benchmark from source (pipebench/build.py),
runs the workload in one JVM on local[<cpus>], and prints the metrics by
name with their units. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 1 the
metrics are the per-layer ones and the run also writes its spans and a
per-layer report under .bench_run/. --rows-per-type overrides the refresh
volume (trades rows per instrument type), for size sweeps.

Everything the run writes (stores, Spark scratch, temp files) stays under
.bench_run/ in the checkout, on one filesystem, which the run reports.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RESULT = "PIPEBENCH_RESULT "


def filesystem_of(path):
    """(mount point, fs type) of the mount holding `path`."""
    path = os.path.realpath(path)
    best = ("/", "?")
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                best = (mnt, fstype)
    return best


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["refresh", "board"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--rows-per-type", type=int)
    a = ap.parse_args()

    cp = build.build()
    cores = len(os.sched_getaffinity(0))
    run_root = os.path.join(ROOT, ".bench_run")
    run_dir = os.path.join(run_root, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    mnt, fstype = filesystem_of(run_dir)
    print(f"# store root, SPARK_LOCAL_DIRS and java.io.tmpdir: {run_dir} "
          f"(filesystem {fstype} mounted at {mnt}); local[{cores}]", flush=True)

    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # A fixed heap size, so G1's sizing (and with it GC time and the
    # post-GC occupancy heap_peak_mb reports) does not vary between runs.
    cmd = ["java", *opens, "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "pipebench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(cores), "--run-dir", run_dir,
           "--data-dir", os.path.join(HERE, "data"), "--spawn-ms", repr(time.time() * 1000.0)]
    if a.rows_per_type:
        cmd += ["--rows-per-type", str(a.rows_per_type)]
    log_path = os.path.join(run_root, f"{a.workload}-{a.seed}-{a.trace}.jvm.log")
    result = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True)

        def stop(*_):
            proc.kill()
            proc.wait()
            sys.exit(1)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGALRM, stop)
        signal.alarm(TIMEOUT_S)
        for line in proc.stdout:
            if line.startswith(RESULT):
                result = line[len(RESULT):].strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
        signal.alarm(0)
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or result is None:
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.stderr.write(f"pipebench: run failed (exit {code})\n")
        sys.exit(code or 1)
    print(result)


if __name__ == "__main__":
    main()
