#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark (sbt, into perfbench/target); later runs reuse that build while the
sources are unchanged. Each run gets a fresh work directory under
.bench_work/, removed afterwards; traced runs leave their span log under
.bench_out/. Exits non-zero, printing no result, when the build, the run or
the metric set fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HEAP = "3g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    # sbt's own temp files go to .bench_build/, inside the checkout
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Returns the runtime classpath, building first when needed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("engine sources (src/main/scala) not found next to perfbench/")
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "bench-classpath.txt")
    stamp = os.path.join(target, "bench-sources.sha256")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building engine and benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                          cwd=BENCH, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=840)
    if proc.returncode != 0:
        raise RuntimeError(f"sbt build failed ({proc.returncode})")
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")
    return open(cp_file).read().strip()


def run_jvm(classpath, args, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # fixed heap; no hsperfdata file in the system temp dir
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out,
              "--src", os.path.join(ROOT, "src", "main", "scala")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            start_new_session=True, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"benchmark JVM exited {proc.returncode}")
    reports = [l for l in stdout.splitlines() if l.startswith("graftbench-report ")]
    if not reports:
        raise RuntimeError("benchmark JVM printed no report")
    return json.loads(reports[-1][len("graftbench-report "):])


def result_line(report, spec, trace):
    """The result line: the metrics BENCHMARK.json names for this mode."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    values = report["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"report lacks metrics {missing}")
    return {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise RuntimeError(f"unknown workload {args.workload}")
    classpath = build()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        report = run_jvm(classpath, args, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("graftbench-report " + json.dumps(report))
    for p in report["problems"]:
        log(f"check failed: {p}")
    print(json.dumps(result_line(report, spec, args.trace)))


if __name__ == "__main__":
    # a SIGTERM unwinds through run_jvm's cleanup, which kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except Exception as e:  # noqa: BLE001 - any failure means no result
        log(f"error: {e}")
        sys.exit(1)
