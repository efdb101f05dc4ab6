"""Benchmark entry point.

    python3 perfbench/run.py --workload <ingest|query|mixed|operators>
        --seed <n> --seconds <s> --trace <0|1> [--tiny]

Builds the engine and the harness from source (perfbench/build.py), then
runs one workload in a single JVM: a real GraftHttpServer on loopback for
the HTTP workloads, the operator gates for `operators`. The last stdout line
is one JSON object with `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1); the
line before it is the full report (every named metric, stamps, failures).
All files go under $CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest", "query", "mixed", "operators")
# every run must end within 180 s; the JVM is killed a little before that
JVM_DEADLINE_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def git_commit():
    if not os.path.isdir(os.path.join(build.ROOT, ".git")):
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def spans_file(a):
    """Where a traced run leaves its spans (one JSON line per span)."""
    d = os.path.join(build.build_dir(), "spans")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, "%s-seed%d.jsonl" % (a.workload, a.seed))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke size: small inputs, short setup")
    ap.add_argument("--record", action="store_true",
                    help="rewrite expected_operators.json from this engine")
    a = ap.parse_args()

    t_build = time.time()
    classes, engine_id = build.build()
    build_s = time.time() - t_build

    work = os.path.join(build.build_dir(), "run-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--tiny", "1" if a.tiny else "0",
              "--record", "1" if a.record else "0",
              "--work", work, "--engine-id", engine_id,
              "--git", git_commit(), "--build-s", "%.3f" % build_s,
              "--expected", os.path.join(build.HERE, "expected_operators.json"),
              # the operator corpus is an input: made once per build
              "--corpus", classes + ("-corpus-tiny" if a.tiny else "-corpus"),
              "--spans", spans_file(a) if a.trace else ""])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            cwd=work)
    killer = threading.Timer(JVM_DEADLINE_S, proc.kill)
    killer.start()
    lines = []
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            sys.stdout.write(line)
            sys.stdout.flush()
        code = proc.wait()
    finally:
        killer.cancel()
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        sys.stderr.write("perfbench: JVM exited with %s\n" % code)
        return 1
    if a.record:
        return 0
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write("perfbench: no result line\n")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
