#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the root of a checkout. For every workload it checks that:
  - untraced runs on two different seeds are correct, with every
    end-to-end metric present and positive;
  - a run whose expected outputs were corrupted after generation reports
    failed jobs, so the output checks are live;
  - a traced run reports every per-layer metric, the workload's own spans
    with non-zero wall time.
It also checks that the runner refuses, without a result, a directory
holding only BENCHMARK.json and the benchmark's own files.
Exits 0 when every check holds.
"""
import json
import os
import shutil
import subprocess
import sys

SCALE = "0.05"
SEEDS = (11, 12)
# spans each workload must exercise in a traced run
OWN_SPANS = {
    "mr_batch": ["core.plan", "jobs.terasort.sort", "jobs.terasort.validate",
                 "jobs.wordcount", "ops.datajoin", "ops.secondarysort",
                 "agg.aggregate", "sink.parquet"],
    "llm_corpus": ["core.plan", "sources.warc", "llm.curation.gates",
                   "llm.curation.keepfirst", "sink.parquet", "functions.sketch",
                   "llm.dedup.candidates", "llm.dedup.verified", "llm.dedup.components",
                   "llm.setsim"],
}


def run(cwd, workload, seed, trace, *extra):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", SCALE,
           *extra]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    return p.returncode, (json.loads(lines[-1]) if p.returncode == 0 and lines else None)


def main():
    root = os.getcwd()
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    problems = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in [x["name"] for x in spec["workloads"]]:
        for seed in SEEDS:
            code, r = run(root, w, seed, 0)
            check(code == 0 and r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                  f"{w} seed {seed}: correct")
            check(r is not None and all(r["metrics"][m["name"]]["value"] > 0
                                        for m in spec["end_to_end"]),
                  f"{w} seed {seed}: every end-to-end metric positive")
        code, r = run(root, w, SEEDS[0], 0, "--corrupt-expected")
        check(code == 0 and not r["correct"] and r["failed"] > 0,
              f"{w}: corrupted expected outputs are caught")
        code, r = run(root, w, SEEDS[0], 1)
        check(code == 0 and r["correct"], f"{w}: traced run correct")
        check(r is not None and all(r["metrics"][f"{s}.wall_s"]["value"] > 0
                                    for s in OWN_SPANS[w]),
              f"{w}: traced run times each of its spans")

    bare = os.path.join(root, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(root, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("target"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    check(p.returncode != 0 and not p.stdout.strip(),
          "bare benchmark directory: non-zero exit, no result")

    print(f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
