#!/usr/bin/env python3
"""graft benchmark: builds the engine plus the harness from source, runs one
workload in a fresh JVM, checks it, and prints the result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ref_flow, commit_storm, dedup_ingest, meta_scale (see README.md).
The last line of stdout is one JSON object with the keys correct, attempted,
failed and metrics: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. Lines before it are a readable report (host, configuration,
fixture sizes, every metric with its unit and base).

The build goes to $CARGO_TARGET_DIR (default .bench_build) under the
checkout and is reused while the sources are unchanged. Everything a run
writes lives in a scratch directory there, removed when the run ends.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ref_flow", "commit_storm", "dedup_ingest", "meta_scale")
RUN_TIMEOUT_S = 165  # the JVM's budget after the build, inside the 180 s limit
HEAP = "1536m"
# Few GC and JIT threads: the host shares its cores with other guests. A
# fixed young generation keeps the GC pauses' number and length alike from
# run to run.
JVM_GC = ["-XX:+UseG1GC", "-Xmn256m",
          "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else those of the first spark-submit
    on PATH that sits in a Spark distribution."""
    homes = [os.environ.get("SPARK_HOME") or ""] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if jars:
            return jars
    fail("no Spark jars found: set SPARK_HOME or put spark-submit on PATH")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        fail("engine sources (src/main/scala) not found next to perfbench/")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return program + harness


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build(build_dir, files, jars):
    """Compiles engine + harness with the Scala compiler Spark ships;
    reuses the classes while the source digest matches."""
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.stamp")
    want = digest(files, jars)
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == want:
        return classes
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail("scala-compiler/library/reflect jars not found among the Spark jars")
    tmp = os.path.join(build_dir, f"classes-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
         "-nowarn", "-classpath", ":".join(jars), "-d", tmp, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(want)
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def source_rev(files, jars):
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "sources-sha256:" + digest(files, jars)[:16]
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-sha256:" + digest(files, jars)[:16]


def run_jvm(cmd, timeout):
    """Runs the JVM in its own process group; kills the group on timeout or
    on a signal to this process, and always waits for it to end."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        sys.exit(3)

    signal.signal(signal.SIGTERM, kill)
    signal.signal(signal.SIGINT, kill)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {timeout} s, killed", file=sys.stderr)
        kill()


def report(res):
    rep = res.get("report", {})
    lines = [f"workload {rep.get('workload')}  seed {rep.get('seed')}  "
             f"seconds {rep.get('seconds')}  trace {rep.get('trace')}"]
    for section in ("host", "fixture"):
        for k, v in sorted(rep.get(section, {}).items()):
            lines.append(f"  {section}.{k}: {v}")
    lines.append(f"  setup runs (s): {', '.join(f'{x:.3f}' for x in rep.get('setup_runs_s', []))}")
    lines.append("  phases (s): " + ", ".join(f"{k} {v:.2f}" for k, v in rep.get("phase_s", {}).items()))
    tail = rep.get("lat_tail", {})
    lines.append(f"  ops {rep.get('ops')}  failed {rep.get('failed_ops')}  "
                 f"error_rate {rep.get('error_rate')}  tail = p{tail.get('percentile', 0):.1f} "
                 f"of n={tail.get('n')} ({tail.get('beyond')} beyond)  "
                 f"repo_bytes_per_op {rep.get('repo_bytes_per_op', 0):.6g} B  "
                 f"retained_heap_mb {rep.get('retained_heap_mb', 0):.6g} MB  "
                 f"host steal {100 * rep.get('host_steal_share_while_measuring', -1):.1f}%")
    lines.append("  first op latencies (ms): " +
                 ", ".join(f"{x:g}" for x in rep.get("first_op_latencies_ms", [])))
    label = "end-to-end (traced)" if rep.get("trace") else "end-to-end"
    for k, m in sorted(rep.get("end_to_end", {}).items()):
        lines.append(f"  {label} {k} = {m['value']:.6g} {m['unit']}")
    if "unattributed_executions" in rep:
        lines.append(f"  query executions not tied to a job group: {rep['unattributed_executions']}")
    for k, m in sorted(rep.get("per_layer", {}).items()):
        lines.append(f"  layer {k} = {m['value']:.6g} {m['unit']}  ({m['base']})")
    for e in rep.get("errors", []):
        lines.append(f"  ERROR {e}")
    lines.append(f"  correct: {res['correct']}")
    print("\n".join(lines))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    jars = spark_jars()
    files = sources()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir, files, jars)

    work = os.path.join(build_dir, f"run-{uuid.uuid4().hex[:12]}")
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    resources = os.path.join(ROOT, "src", "main", "resources")
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", *JVM_GC, *opens,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", ":".join([classes, resources, os.path.join(os.path.dirname(jars[0]), "*")]),
           "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
           "--out", out, "--rev", source_rev(files, jars)]
    try:
        code = run_jvm(cmd, RUN_TIMEOUT_S)
        if code != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with code {code} and no result")
        with open(out) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(res)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
