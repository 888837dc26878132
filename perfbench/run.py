#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and
the benchmark from source with sbt (offline) into `.bench_build/`; later
runs reuse that build while the sources are unchanged. Each run generates
its seeded inputs under `.bench_work/`, removes them when it ends, and
keeps a JSON report of the run under `.bench_out/`.

The last line of standard output is the result object
`{"correct", "attempted", "failed", "metrics"}`: with `--trace 0` the
`end_to_end` metrics of BENCHMARK.json, with `--trace 1` its `per_layer`
metrics. The line before it carries the run's evidence (every pass,
set-up repetition, host steal/iowait/load and GC time), which never gates.

Extra options, for the self-test (perfbench/selftest.py): `--scale <x>`
shrinks the inputs; `--corrupt-expected` perturbs the expected outputs
after generation, so the run must report failed jobs.
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

BUILD_DIR = ".bench_build"
WORK_DIR = ".bench_work"
OUT_DIR = ".bench_out"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # with RUN_TIMEOUT_S, keeps a first (building) run under 15 minutes
HEAP = ["-Xms3g", "-Xmx3g"]
# Room for every class Spark's code generator compiles in a pass. At the
# default of 100 entries, the cache of compiled classes settles by chance
# in one of two states: all hits, or a cycle of misses that recompiles
# (and re-JITs) the same classes every pass. That made a pass's CPU
# bimodal (6.2 or 9.4 s on mr_batch). Misses are still counted, as the
# per-layer metric core.codegen_compiles.
CODEGEN_CACHE = "-Dspark.sql.codegen.cache.maxEntries=1000"

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# root build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
              "perfbench/project", "perfbench/src"]
    for top in inputs:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            for f in fs if "target" not in os.path.relpath(d, root).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait until it has ended."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} exceeded {timeout} s", 3)
    return proc.returncode, out


def build(root):
    """Compile engine and benchmark; returns the runtime classpath."""
    bdir = os.path.join(root, BUILD_DIR)
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(bdir, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(bdir, 'sbt-global')}",
           "perfbench/compile", "export perfbench/Runtime/fullClasspath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"),
                            env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True)
    with open(os.path.join(bdir, "build.log"), "w") as f:
        f.write(out)
    lines = [l.strip() for l in out.splitlines()]
    cps = [l for l in lines if l and not l.startswith("[") and ".jar" in l]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {code}); log in {BUILD_DIR}/build.log", 4)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--corrupt-expected", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the engine")

    t0 = time.time()
    cp = build(root)
    build_s = time.time() - t0

    work = os.path.join(root, WORK_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = ["java", *HEAP, "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", CODEGEN_CACHE]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
             "--scale", str(a.scale), "--corrupt-expected", "1" if a.corrupt_expected else "0"]
    try:
        code, out = run_bounded(java, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE,
                                text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or len(lines) < 2:
        fail(f"benchmark exited {code} without a result", 5)
    evidence, result = json.loads(lines[-2]), json.loads(lines[-1])

    section = "per_layer" if a.trace == "1" else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json {section}: "
             f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}", 6)
    if any(not isinstance(v["value"], (int, float)) for v in result["metrics"].values()):
        fail("a metric has no numeric value", 6)

    evidence["build_s"] = build_s
    os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
    with open(os.path.join(root, OUT_DIR,
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"evidence": evidence, "result": result}, f, indent=1)
    print(json.dumps(evidence))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
