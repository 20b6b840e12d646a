#!/usr/bin/env python3
"""Facade benchmark: build the engine and the benchmark, run one workload.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine and the benchmark with sbt
(about a minute); later runs reuse that build while the sources are
unchanged. The run prints each metric by name with its unit, then, as the
last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics. The exit code is 0 only
when a result was printed.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"

BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

# What the benchmark compiles: the engine's main sources and build, and
# the benchmark's own.
ENGINE_FILES = ["build.sbt", "project/build.properties", "src/main"]
BENCH_FILES = ["perfbench/build.sbt", "perfbench/project/build.properties",
               "perfbench/src/main"]
# Traced runs also report their end-to-end figures under this prefix.
TRACED_PREFIX = "traced."
# Files the run reads at run time.
RUNTIME_FILES = ["configs/graft-default.yaml", "BENCHMARK.json",
                 "perfbench/log4j2.properties"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    for rel in ENGINE_FILES + BENCH_FILES:
        p = ROOT / rel
        if p.is_file():
            yield p
        elif p.is_dir():
            yield from sorted(f for f in p.rglob("*") if f.is_file())


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources;
    return the runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() \
            and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(Path(p).exists() for p in cp.split(os.pathsep)):
            return cp
    print("perfbench: building engine and benchmark with sbt",
          file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[error]" in out.stdout:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})", 1)
    cp = lines[-1].strip()
    if str(HERE / "target") not in cp:
        sys.stderr.write(out.stdout[-4000:])
        fail("build did not report the benchmark classpath", 1)
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def java_cmd(cp, args, work):
    java = "java"
    if os.environ.get("JAVA_HOME"):
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    return ([java, f"-Xmx{HEAP}"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
            + [f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
               # deep call sites, so each job's innermost engine frame is
               # in its stage details (the traced runs attribute by it)
               "-Dspark.callstack.depth=256",
               f"-Djava.io.tmpdir={work / 'tmp'}",
               f"-Dgraft.scratch.dir={work / 'scratch'}",
               "-cp", cp, "perfbench.Main",
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--work-dir", str(work)])


def run_java(cmd, work):
    """Run the benchmark JVM in its own process group; kill the group on
    timeout. Returns its stdout lines."""
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(work / "spark")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}", 3)
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    missing = [f for f in ENGINE_FILES + BENCH_FILES + RUNTIME_FILES
               if not (ROOT / f).exists()]
    if missing:
        fail("not a checkout of the engine (missing " +
             ", ".join(missing) + ")", 2)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}", 2)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = build()
    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        t0 = time.monotonic()
        lines = run_java(java_cmd(cp, args, work), work)
        wall = time.monotonic() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    tagged = [l for l in lines if l.startswith("PERFBENCH ")]
    if not tagged:
        fail("benchmark printed no result", 4)
    res = json.loads(tagged[-1][len("PERFBENCH "):])
    got = res["metrics"]
    print("perfbench: all measured metrics " + json.dumps(got),
          file=sys.stderr)
    listed = {m["name"] for m in wanted}
    unlisted = {}
    if args.trace:
        # measured but not listed in BENCHMARK.json, such as a (module, op)
        # pair that a change of the engine brings up: printed by name and
        # summed into the unlisted.* metrics, so no figure is dropped
        unlisted = {k: v for k, v in got.items()
                    if k not in listed and not k.startswith(TRACED_PREFIX)}
        got["unlisted.metrics"] = float(len(unlisted))
        got["unlisted.busy_ms"] = sum(v for k, v in unlisted.items()
                                      if k.endswith(".busy_ms") and v)
    metrics = {}
    for m in wanted:
        if m["name"] in got and got[m["name"]] is not None:
            value = got[m["name"]]
        elif args.trace:
            value = 0.0  # this (module, op) pair does not occur here
        else:
            fail(f"metric {m['name']} was not measured", 4)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    for check in res["checks"]:
        print(f"perfbench: check failed: {check}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    for name, value in sorted(unlisted.items()):
        print(f"{args.workload} unlisted {name} = {value}")
    print(f"{args.workload} run wall {wall:.1f} s", file=sys.stderr)
    print(json.dumps({"correct": res["correct"],
                      "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
