#!/usr/bin/env python3
"""sodspark benchmark: user-shaped workloads timed from outside the engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload validate_resume --seed 1 --seconds 10 --trace 0

Workloads: validate_resume, ingest_ticks.

The first run builds the engine and the benchmark harness from source with sbt
(offline) into .bench_build/ (or $CARGO_TARGET_DIR), and dumps a class-data
sharing archive of the classes a Spark session loads. Fixtures are generated
from --seed by gen.py and cached under the build directory by (generator,
seed, size), so generation is never timed. The measuring JVM then sets up
(session, pre-state, warm-up), times operations for --seconds, checks every
operation's outputs, and reports the end-to-end metrics (--trace 0) or the
per-layer metrics (--trace 1). The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 only when
every output check passed.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

# Fixture sizes per workload; gen.py writes them to the fixture's params.json,
# which the measuring JVM reads.
WORKLOADS = {
    "validate_resume": dict(rows=12000, days=60, new_days=7),
    "ingest_ticks": dict(rows=16000, files=4, batch_rows=2000, batches=12,
                         repeat_every=20, repeat_span=1000, hosts=100, cap=50),
}
GENERATOR_VERSION = 1
END_TO_END = ("setup_s", "op_s", "docs_per_s", "peak_rss_mb", "out_bytes_per_in_byte",
              "out_files")
# A fixed heap and young generation, so the process's peak RSS follows the
# old generation and native memory rather than the collector's resizing.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash(root):
    """Digest of every file the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in ("src/main/scala", "perfbench/src", "perfbench/build.sbt",
                 "perfbench/project/build.properties"):
        path = os.path.join(root, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in sorted(files):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout.
    Returns (returncode, peak RSS of the child in KiB)."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    deadline = time.monotonic() + timeout
    while True:
        pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
        if pid:
            proc.returncode = os.waitstatus_to_exitcode(status)
            return proc.returncode, usage.ru_maxrss
        if time.monotonic() > deadline:
            os.killpg(proc.pid, signal.SIGKILL)
            os.wait4(proc.pid, 0)
            fail(f"{cmd[0]} timed out after {timeout} s", 3)
        time.sleep(0.05)


def spark_jars(root):
    """Spark's jars: $SPARK_HOME/jars, else the directory the project's own
    build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    if not m:
        fail("set SPARK_HOME to the Spark installation")
    return m.group(1)


def build(root, build_dir, log):
    """Compiles engine + harness; returns the runtime classpath."""
    stamp = os.path.join(build_dir, "build.json")
    digest = source_hash(root)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            prev = json.load(fh)
        if prev.get("digest") == digest:
            return prev["classpath"]
    for stale in (stamp, os.path.join(build_dir, "classes.jsa")):
        if os.path.exists(stale):
            os.remove(stale)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # offline, no sbt server, temporary files inside the checkout
    env = dict(os.environ, PERFBENCH_BUILD_DIR=build_dir, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    env["PERFBENCH_SPARK_JARS"] = spark_jars(root)
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}"]).strip()
    out_path = os.path.join(build_dir, "build.log")
    with open(out_path, "w") as out:
        code, _ = run_group(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"), env=env,
            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_path) as fh:
        lines = fh.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 4)
    classpath = [ln for ln in lines if "perfbench-target" in ln and ":" in ln
                 and not ln.startswith("[")][-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    print(f"[perfbench] built in {build_dir}", file=log)
    return classpath


def jvm(classpath, mode, args, work, log_path, timeout, cds):
    """Runs perfbench.Main; `cds` is ("dump" | "use", archive path)."""
    flag = "-XX:ArchiveClassesAtExit=" if cds[0] == "dump" else "-XX:SharedArchiveFile="
    cmd = ["java", flag + cds[1], "-Xshare:auto", "-XX:-UsePerfData"] + JVM_MEMORY + [
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", mode] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log_path, "a") as log:
        return run_group(cmd, timeout, stdout=None, stderr=log, stdin=subprocess.DEVNULL)


def fixture(fixtures, workload, seed):
    """Generates the fixture unless cached; returns its directory."""
    params = WORKLOADS[workload]
    key = hashlib.sha256(json.dumps([GENERATOR_VERSION, params], sort_keys=True).encode())
    d = os.path.join(fixtures, f"{workload}-s{seed}-{key.hexdigest()[:10]}")
    if os.path.exists(os.path.join(d, "_READY")):
        return d
    import gen
    shutil.rmtree(d, ignore_errors=True)
    p = {k: v for k, v in params.items() if k != "files"}
    if workload == "validate_resume":
        gen.gen_validate(d, seed, params["rows"], params["days"])
    else:
        gen.gen_ingest(d, seed, **params)
    with open(os.path.join(d, "params.json"), "w") as fh:
        json.dump(p, fh)
    open(os.path.join(d, "_READY"), "w").close()
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a sodspark checkout (src/main/scala/graft not found)")
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    sys.path.insert(0, os.path.join(root, "perfbench"))
    classpath = build(root, build_dir, sys.stderr)

    cores = len(os.sched_getaffinity(0))
    logs = os.path.join(build_dir, "logs")
    os.makedirs(logs, exist_ok=True)
    log_path = os.path.join(logs, f"{a.workload}-s{a.seed}-t{a.trace}.log")
    open(log_path, "w").close()
    work = os.path.join(build_dir, "work", f"{a.workload}-s{a.seed}-{os.getpid()}")
    archive = os.path.join(build_dir, "classes.jsa")
    result_path = os.path.join(work, "result.json")
    try:
        if not os.path.exists(archive):
            shutil.rmtree(work, ignore_errors=True)
            code, _ = jvm(classpath, "warm", ["--work", work, "--cores", str(cores)],
                          work, log_path, RUN_TIMEOUT_S, ("dump", archive))
            if code != 0:
                fail(f"class archive dump failed (log: {log_path})", 5)
        started = time.monotonic()
        fix = fixture(os.path.join(build_dir, "fixtures"), a.workload, a.seed)
        print(f"[perfbench] fixture ready in {time.monotonic() - started:.1f} s", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        spans = os.path.join(logs, f"{a.workload}-s{a.seed}-spans.json")
        code, rss_kib = jvm(classpath, "run", [
            "--workload", a.workload, "--fixture", fix, "--work", work, "--cores", str(cores),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--result", result_path, "--spans", spans],
            work, log_path, max(30, RUN_TIMEOUT_S - (time.monotonic() - started)),
            ("use", archive))
        if not os.path.exists(result_path):
            with open(log_path) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"the measuring JVM exited {code} without a result (log: {log_path})", 6)
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = res["metrics"]
    if a.trace == 0:
        metrics["peak_rss_mb"] = {"value": rss_kib / 1024.0, "unit": "MB"}
        metrics = {k: metrics[k] for k in END_TO_END}
    for e in res["errors"]:
        print(f"[perfbench] CHECK FAILED {e}")
    print(f"[perfbench] {a.workload} seed={a.seed} trace={a.trace}: "
          f"{res['samples']} timed samples, scan control {res['scan_before_s']:.3f} s before, "
          f"{res['scan_after_s']:.3f} s after")
    print(f"[perfbench] failed_ops_share = {res['failed'] / res['attempted']:.4f} "
          f"({res['failed']} of {res['attempted']} operations)")
    for k, m in metrics.items():
        print(f"[perfbench] {k} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
