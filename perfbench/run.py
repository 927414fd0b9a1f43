#!/usr/bin/env python3
"""Run one workload of the rpc benchmark and print its result.

    python3 perfbench/run.py --workload construct_serial --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. The first run builds the engine and the
load generator with sbt (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. The load generator runs in one JVM:
an rpc server over the engine and closed-loop rpc clients (see README.md).

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The line before it is the run's record (failures, set-up phases,
interference).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 800

# The JDK 17 module openings Spark needs outside spark-submit (as in the
# root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_home():
    """SPARK_HOME, else the Spark installation whose jars the root build uses."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)/jars"\)', f.read())
        home = m.group(1) if m else None
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    inputs = [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    for path in sorted(inputs):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(work, home):
    stamp_file = os.path.join(work, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile"],
                         HERE, env, out, subprocess.STDOUT, BUILD_TIMEOUT_S)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (rc={rc}), log: {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_bounded(cmd, cwd, env, stdout, stderr, timeout):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--sf", default="0.1", help="scale factor of perfbench/data to serve")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"no engine sources at {ENGINE_SRC}: run from the root of a full checkout")
    data = os.path.join(HERE, "data", f"sf{a.sf}")
    if not os.path.isdir(data):
        fail(f"no data at {data}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    build_dir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    work = os.path.join(ROOT, build_dir, "perfbench")
    os.makedirs(work, exist_ok=True)
    # The Spark installation supplies Spark and the scala-library.
    home = spark_home()
    build(work, home)

    # Spark scratch, temp files and the trace stay inside the checkout.
    scratch = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(scratch)
    spans = os.path.join(work, f"spans-{a.workload}-seed{a.seed}.json")
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(scratch, "local"))
    # Local mode: Spark stays on the loopback interface.
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    # Heap cap and code cache as the root build runs the engine, with the
    # default cap held to half the host's memory: G1 grows the heap to
    # about 10 GB on bulk_concurrent when it may.
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    xmx = os.environ.get("SPARK_DRIVER_MEM", f"{min(24 * 1024, half_mb)}m")
    cmd = (["java", f"-Xmx{xmx}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={scratch}",
            f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(scratch, 'hadoop')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(home, 'jars', '*')}",
              "perfbench.RpcBench", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--data", data,
              "--spans", spans])
    log = os.path.join(work, f"run-{a.workload}.log")
    try:
        with open(log, "w") as err, open(os.path.join(scratch, "stdout"), "w+") as out:
            rc = run_bounded(cmd, ROOT, env, out, err, RUN_TIMEOUT_S)
            out.seek(0)
            lines = out.read().splitlines()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"load generator failed (rc={rc}), log: {log}")

    summary = [l for l in lines if l.startswith("PERFBENCH_SUMMARY ")]
    results = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if not results:
        fail("no result line")
    result = json.loads(results[-1].split(" ", 1)[1])
    want = spec["per_layer" if a.trace == "1" else "end_to_end"]
    got = result["metrics"]
    if set(got) != {m["name"] for m in want}:
        fail(f"metric set differs from BENCHMARK.json: {sorted(set(got) ^ {m['name'] for m in want})}")
    for m in want:
        if got[m["name"]]["unit"] != m["unit"] or got[m["name"]]["value"] is None:
            fail(f"bad metric {m['name']}: {got[m['name']]}")
    for line in summary:
        print(line)
    if a.trace == "1":
        print(f"PERFBENCH_SPANS {os.path.relpath(spans, ROOT)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
