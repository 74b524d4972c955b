"""Benchmark of the production path: ingest slots and the reporting
refresh. Run from the repository root:

    python3 perfbench/run.py --workload slots|report --seed N \
        [--seconds S] [--trace 0|1]

Builds the program and the harness from source (perfbench/build.py),
runs the workload in one JVM, and prints a provenance line and then, as
the last line, the result: {"correct", "attempted", "failed", "metrics"}.
Untraced runs report the end-to-end metrics, traced runs the per-layer
ones (and write the span file to .bench_build/trace/).

The op sequence is fixed per workload and sized so the timed region
lasts roughly BENCHMARK.json's run_seconds on a 4-cpu machine;
--seconds is accepted for the calling convention and recorded.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("slots", "report")
HEAP = "2g"
# What spark-submit adds on JDK 17 (as the repository's build.sbt does).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return fh.read().split()[:3]
    except OSError:
        return None


def git_commit():
    """HEAD, when the working directory is the top of a git checkout."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or not os.path.samefile(lines[0], os.getcwd()):
        return None
    return lines[1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    start = time.time()
    load0 = loadavg()
    try:
        cp, sha = build.build()
    except (build.BuildError, subprocess.SubprocessError, OSError) as e:
        sys.exit(f"build failed: {e}")
    built_in = time.time() - start
    # The first run in a checkout may spend up to 900 s, later ones 180 s.
    deadline = start + (880 if built_in > 60 else 170)

    out = build.OUT
    work = os.path.join(out, "run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    trace_dir = os.path.join(out, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    spans = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
    log = os.path.join(out, f"{a.workload}.log")

    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS + ["-cp", cp, "perfbench.Main", a.workload, str(a.seed),
                          str(a.trace), work, result]
           + ([spans] if a.trace else []))
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
    if code != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}")

    with open(result) as fh:
        res = json.load(fh)
    shutil.rmtree(work, ignore_errors=True)
    prov = res.pop("provenance")
    prov.update(seconds_arg=a.seconds, git_commit=git_commit(), source_sha256=sha,
                loadavg_start=load0, loadavg_end=loadavg(),
                wall_s=round(time.time() - start, 3), build_s=round(built_in, 3))
    print(json.dumps({"provenance": prov}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
