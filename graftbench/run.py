#!/usr/bin/env python3
"""graft's benchmark: run one workload against the engine built from source.

Usage, from the root of the repository:

    python3 graftbench/run.py --workload sparql_read --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine and this harness with
scalac (about a minute); later runs reuse the build. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Per-op detail, and with --trace 1 the span tree, go to
files under the build directory (named in the log on standard error).
See graftbench/README.md.
"""
import argparse
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "graftbench")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.tsv")
WORKLOADS = ("sparql_roundtrip", "graph_dataprep")
DEADLINE_S = 170

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

UNITS = {"_s": "s", "_mb": "MB", "_ms": "ms", "util": "ratio", "frac": "ratio"}


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def unit_of(name):
    stem = name.rsplit(".", 1)[0] if name.endswith((".cold", ".warm")) else name
    for suffix, unit in UNITS.items():
        if stem.endswith(suffix):
            return unit
    return "count"


def sources():
    """Every Scala source the build compiles: the engine's and this harness's."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)


def libraries():
    """The jars the engine compiles and runs against: the directory its
    build names as `unmanagedBase` (the engine has no other dependency on
    its main classpath)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m is None:
        sys.exit("graftbench: build.sbt names no unmanagedBase directory")
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar")))
    if not jars:
        sys.exit(f"graftbench: no jars under {m.group(1)}")
    return jars


def build():
    """Compiles engine and harness in one scalac run, with the Scala
    compiler found among the engine's jars, unless the recorded build is
    current; returns the runtime classpath. sbt is not used: it locks and
    writes files under the home directory."""
    srcs = list(sources())
    jars = libraries()
    stamp = repr(sorted((p, os.stat(p).st_mtime_ns) for p in srcs + jars
                        + [os.path.join(ROOT, "build.sbt")]))
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "sources.stamp")
    classpath = os.pathsep.join([classes] + jars)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath
    compiler = [j for j in jars if re.match(r"scala-(compiler|library|reflect)-[0-9.]+\.jar$",
                                            os.path.basename(j))]
    if len(compiler) != 3:
        sys.exit("graftbench: scala-compiler, -library and -reflect jars not found")
    log(f"compiling {len(srcs)} engine and harness sources with scalac")
    shutil.rmtree(BUILD + "-new", ignore_errors=True)
    staging = os.path.join(BUILD + "-new", "classes")
    os.makedirs(os.path.join(BUILD + "-new", "tmp"))
    args = os.path.join(BUILD + "-new", "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-encoding", "UTF-8", "-nowarn", "-d", staging,
                           "-classpath", os.pathsep.join(jars)] + srcs) + "\n")
    os.makedirs(staging)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(BUILD + '-new', 'tmp')}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + args]
    code = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=840).returncode
    if code != 0:
        sys.exit(f"graftbench: build failed (scalac exit {code})")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(BUILD, exist_ok=True)
    os.rename(staging, classes)
    shutil.rmtree(BUILD + "-new", ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def jvm(cp, args, work, deadline):
    """Runs the harness in a fresh JVM; returns its result object."""
    result = os.path.join(work, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    t0_ms = time.time() * 1e3
    cmd += ["-cp", cp, "graftbench.Main", "--data", DATA, "--work", work,
            "--result", result, "--t0-ms", repr(t0_ms)] + args
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("graftbench: the measuring process ran past the deadline")
    if code != 0 or not os.path.exists(result):
        sys.exit(f"graftbench: the measuring process failed (exit {code})")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the observed outputs to expected.tsv instead of checking them")
    a = ap.parse_args()

    missing = [p for p in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"), DATA)
               if not os.path.exists(p)]
    if missing:
        sys.exit(f"graftbench: missing inputs: {', '.join(missing)}")
    if shutil.which("java") is None:
        sys.exit("graftbench: java must be on PATH")

    cp = build()
    deadline = time.monotonic() + DEADLINE_S
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    detail = os.path.join(BUILD, "out", f"{tag}.json")
    spans = os.path.join(BUILD, "out", f"{tag}-spans.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--expected", EXPECTED, "--detail", detail,
            "--spans", spans]
    try:
        res = jvm(cp, args + (["--record"] if a.record else []), work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"per-op detail: {detail}")

    if a.trace == 0:
        values = dict(res["end_to_end"], setup_s=res["setup_s"])
    else:
        values = res["per_layer"]
    metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
    if a.trace == 0:
        print(f"graftbench {a.workload} seed {a.seed}: " +
              " ".join(f"{k}={v['value']:.4f} {v['unit']}" for k, v in metrics.items()))
    else:
        print(f"graftbench {a.workload} seed {a.seed}: {len(metrics)} per-layer metrics, "
              f"spans in {spans}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
