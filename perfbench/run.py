#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload cdc_backfill --seed 1 --seconds 30 --trace 0

Builds the engine and the benchmark from source on first use (see
build.py), runs the workload in one JVM at local[4], checks the engine's
outputs against the generator's expected state, and prints
`# name value unit` lines followed, as the last line, by one JSON object
`{"correct", "attempted", "failed", "metrics"}`. `--trace 1` reports the
per-layer metrics instead of the end-to-end ones and writes a Chrome-trace
timeline to `.bench_build/traces/`. `--rate` overrides the stream rate
(events/s) for a rate sweep.

Everything the run writes stays under `.bench_build/` in the checkout. The
engine writes catalog fixtures to `/tmp/graft_fixtures` and streaming
checkpoints to `/dev/shm`, paths fixed in its sources, so the `catalog`
workload runs in a private mount namespace (`unshare --mount`) in which
both paths are bind mounts of directories in the run's work directory.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("cdc_backfill", "cdc_stream", "cdc_stream_snapshot", "catalog")
# a run must end within 180 s; the JVM gets what is left after the build
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
ERROR_LINE = re.compile(r"^\d\d:\d\d:\d\d ERROR ")


def private_mounts(work, cmd):
    """`cmd` wrapped to run with `/tmp` and `/dev/shm` bound to directories
    under `work`, in a mount namespace of its own; exits if the host allows
    none, since the run must not write outside its checkout."""
    binds = [os.path.join(work, "ns-tmp"), os.path.join(work, "ns-shm")]
    for d in binds:
        os.makedirs(d)
    script = 'mount --bind "$1" /tmp && mount --bind "$2" /dev/shm && shift 2 && exec "$@"'
    for flags in (["--mount"], ["--user", "--map-root-user", "--mount"]):
        try:
            probe = subprocess.run(["unshare"] + flags + ["true"], capture_output=True)
        except OSError:
            break
        if probe.returncode == 0:
            return ["unshare"] + flags + ["sh", "-c", script, "sh"] + binds + cmd
    sys.exit("run: the catalog workload needs a private mount namespace (unshare --mount)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=int, default=None)
    a = ap.parse_args()
    if a.seconds < 1:
        sys.exit("--seconds must be at least 1")

    cp = build.ensure()
    t0 = time.time()
    out = os.path.join(ROOT, ".bench_build")
    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    trace_file = os.path.join(out, "traces", f"{a.workload}-seed{a.seed}.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graft.perfbench.Main", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), work, trace_file]
           + ([str(a.rate)] if a.rate else []))
    if a.workload == "catalog":
        cmd = private_mounts(work, cmd)
    stdout_path = os.path.join(out, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.out")
    stderr_path = stdout_path[:-4] + ".err"
    os.makedirs(os.path.dirname(stdout_path), exist_ok=True)
    try:
        with open(stdout_path, "w") as so, open(stderr_path, "w") as se:
            # shuffle and spill files stay in the checkout too
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, stdout=so, stderr=se, cwd=ROOT, env=env)
            try:
                rc = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit(f"run: the JVM did not finish within {RUN_LIMIT_S} s "
                         f"(logs: {stdout_path}, {stderr_path})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = open(stdout_path).read().splitlines()
    result = [l for l in lines if l.startswith("RESULT ")]
    if rc != 0 or not result:
        sys.stderr.write(open(stderr_path).read()[-4000:])
        sys.exit(f"run: the JVM exited with code {rc} and no result")
    res = json.loads(result[-1][len("RESULT "):])
    errors = sum(1 for l in open(stderr_path, errors="replace") if ERROR_LINE.match(l))
    if a.trace:
        res["metrics"]["spark.error_log_lines"] = {"value": errors, "unit": "count"}
    for l in lines:
        if l.startswith("# "):
            print(l)
    print(f"# spark.error_log_lines {errors} count")
    print(f"# run_wall_s {time.time() - t0:.1f} s")
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
