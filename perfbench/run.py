#!/usr/bin/env python3
"""Run one benchmark workload of graft and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload point_lookup --seed 1 --seconds 20 --trace 0

Builds the benchmark (and through it the repository's own sources) with
sbt when the sources changed since the last build, then runs the
benchmark JVM. Human-readable lines go first; the last line of standard
output is one JSON object with the keys correct, attempted, failed and
metrics. Any failure exits non-zero without printing that line.
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

BENCH_DIR = "perfbench"
WORKLOADS = ("point_lookup", "scan_agg", "ingest_dedup")
# A later run must end within 180 s; keep a margin for start-up and clean-up.
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
HEAP = "3g"
MAIN_CLASS = "graft.perfbench.Main"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = ["src/main", "project/build.properties", "build.sbt",
             f"{BENCH_DIR}/src/main", f"{BENCH_DIR}/build.sbt",
             f"{BENCH_DIR}/project/build.properties"]
    out = []
    for r in roots:
        if os.path.isfile(r):
            out.append(r)
        for d, _, fs in os.walk(r):
            out.extend(os.path.join(d, f) for f in fs)
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_killing_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build(stamp_file):
    """Compile with sbt when the sources changed; return (classpath, jvm
    options, whether it built)."""
    digest = source_digest()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"], stamp["java_options"], False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath", "show Test/javaOptions"]
    try:
        code, out = run_killing_group(cmd, BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=env,
                                      stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                                      stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    lines = out.splitlines()
    cp = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    # the root build's JVM options (module opens Spark needs), one per line
    java_options = [l[len("[info] * "):] for l in lines if l.startswith("[info] * ")]
    java_options = [o for o in java_options if not o.startswith("-Xmx")]
    if not cp or "--add-opens" not in java_options:
        sys.stderr.write(out[-4000:])
        fail("could not read the classpath and JVM options from sbt")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(stamp_file, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1], "java_options": java_options}, fh)
    return cp[-1], java_options, True


def expected_metrics(trace):
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a terminated run still stops the JVM it started (see run_killing_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # The benchmark measures the repository it sits in: without its
    # sources there is nothing to build or run.
    for needed in ("build.sbt", "src/main/scala/graft", f"{BENCH_DIR}/build.sbt", "BENCHMARK.json"):
        if not os.path.exists(needed):
            fail(f"run from the root of a graft checkout: {needed} not found")

    started = time.monotonic()
    target = os.path.join(BENCH_DIR, "target")
    classpath, java_options, built = build(os.path.join(target, "bench-build.json"))
    # the build has its own allowance; a run on a built tree gets what is left
    budget = RUN_TIMEOUT_S if built else RUN_TIMEOUT_S - (time.monotonic() - started)

    work = os.path.abspath(os.path.join(target, "work", f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}"] + java_options + [
        "-cp", classpath, MAIN_CLASS,
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work]
    if a.trace:
        cmd += ["--spans", os.path.abspath(os.path.join(
            target, "trace", f"{a.workload}-seed{a.seed}.spans.jsonl"))]
    try:
        code, out = run_killing_group(cmd, budget, stdout=subprocess.PIPE,
                                      stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail("run timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"benchmark exited with code {code}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stderr.write(out[-4000:])
        fail("benchmark printed no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result keys: {sorted(result)}")
    want = expected_metrics(a.trace)
    if sorted(result["metrics"]) != sorted(want):
        fail(f"metrics differ from BENCHMARK.json: got {sorted(result['metrics'])}, want {sorted(want)}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
