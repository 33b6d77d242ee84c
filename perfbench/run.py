#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload olap|txn --seed N \
        --seconds S --trace 0|1 [--record]

Run from the repository root. The first run compiles the engine
(src/main/scala) together with the harness (perfbench/src) into
.bench_build/classes; later runs reuse the classes while the sources are
unchanged. The harness runs in one JVM with local[N], N = half the CPU count,
and one client thread. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1.

--record runs one pass of olap and rewrites the golden digests in
perfbench/goldens/olap.json instead of checking against them.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
DATA = os.path.join(HERE, "data", "sf0.01")
HEAP = "3g"
DEADLINE_S = 170          # a run must end within 180 s
BUILD_DEADLINE_S = 600    # the first run in a checkout may take 900 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def scala_sources():
    out = []
    for base in (MAIN_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("set SPARK_HOME to the Spark installation")
    return m.group(1)


def jars():
    found = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not found:
        fail(f"no Spark jars under {spark_jars_dir()}")
    return found


def build():
    """Compiles engine and harness unless the classes match the sources."""
    if not os.path.isdir(MAIN_SRC):
        fail("no engine sources at src/main/scala; run from a full checkout")
    srcs = scala_sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [os.path.join(spark_jars_dir(), f"scala-{m}-2.13.17.jar")
                for m in ("compiler", "library", "reflect")]
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", ":".join(jars()), "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_DEADLINE_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    if os.path.isdir(MAIN_RES):
        shutil.copytree(MAIN_RES, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)


def run_jvm(a, work, deadline):
    inp = os.path.join(work, "input.json")
    with open(inp, "w") as f:
        json.dump(workloads.generate(a.workload, a.seed), f)
    out = os.path.join(work, "result.json")
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    # half the CPUs: the driver thread, the JIT and the GC keep cores of
    # their own, and a stage waits on fewer tasks a busy host can delay
    cpus = str(max(1, (os.cpu_count() or 4) // 2))
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", ":".join([CLASSES] + jars()), "perfbench.Main",
              "--workload", a.workload, "--input", inp, "--data", DATA,
              "--work", work, "--goldens", workloads.GOLDENS,
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--out", out]
           + (["--record"] if a.record else []))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"))
    env.pop("SPARK_LOCAL_DIRS", None)
    log_path = os.path.join(BUILD, f"last-{a.workload}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=work, start_new_session=True)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"the harness did not finish in time; log in {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"the harness exited with {proc.returncode}")
    with open(log_path) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    shutil.copy(out, os.path.join(BUILD, f"last-{a.workload}.json"))
    with open(out) as f:
        res = json.load(f)
    if "fatal" in res:
        fail(f"harness error: {res['fatal']}")
    if a.trace:
        shutil.copy(os.path.join(work, "trace.jsonl"),
                    os.path.join(BUILD, f"last-{a.workload}-trace.jsonl"))
    return res


def main():
    start = time.time()
    # a terminated runner still stops the harness JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=workloads.NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true")
    a = p.parse_args()
    if a.record and a.workload == "txn":
        fail("txn checks against its in-memory model; nothing to record")

    b = spec()
    build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(a, work, max(start + DEADLINE_S, time.time() + 150))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    group = b["per_layer"] if a.trace else b["end_to_end"]
    metrics = {}
    for m in group:
        if m["name"] not in res["metrics"]:
            fail(f"the harness did not report {m['name']}")
        metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
