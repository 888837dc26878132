#!/usr/bin/env python3
"""Seed the bench drift-gate baseline from SEVERAL clean runs.

Round-14 verdict finding #2: some entries are bimodal across attested
clean runs (q150_x10 spread 7.6-14.4 s), and seeding the gate from a
single best-case run makes every later recorded run show a
scary-but-passing ~1.5x ratio on those entries. Policy since round 15:
a committed BENCH_OUT.json baseline is seeded from >=3 clean runs -
per entry, `gate_wall` is the MEDIAN of the runs' wall times (robust
to one bimodal tail draw in either direction) and `gate_conc` keeps
the MIN of the runs' conc_probe medians (the machine's best witnessed
speed; the gate is monotone there by design). Everything else (the
honest `queries`/cpu/load evidence) is taken verbatim from the LAST
run, which is also the run whose rc the seeding inherits.

Usage: seed_bench.py run1.json run2.json run3.json ... out.json
"""
import json
import statistics
import sys


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit("usage: seed_bench.py run1.json run2.json [runN.json ...] out.json")
    run_paths, out_path = sys.argv[1:-1], sys.argv[-1]
    runs = [json.load(open(p)) for p in run_paths]
    last = runs[-1]
    gate_wall = {}
    for k in last.get("queries", {}):
        vals = [r["queries"][k] for r in runs
                if r.get("queries", {}).get(k, -1) > 0]
        if vals:
            gate_wall[k] = round(statistics.median(vals), 3)
    gate_conc = {}
    for k in last.get("conc_probe", {}):
        vals = [r["conc_probe"][k] for r in runs
                if r.get("conc_probe", {}).get(k, -1) > 0]
        if vals:
            gate_conc[k] = round(min(vals), 3)
    # cpu_sec is evidence only (no gate rule reads it since the quiet
    # re-measure became the one confirming rule): median it too, so
    # the seeded file records a typical run's CPU, not one draw
    cpu_sec = {}
    for k in last.get("cpu_sec", {}):
        vals = [r["cpu_sec"][k] for r in runs
                if r.get("cpu_sec", {}).get(k, -1) > 0]
        if vals:
            cpu_sec[k] = round(statistics.median(vals), 3)
    out = dict(last)
    out["gate_wall"] = gate_wall
    out["gate_conc"] = gate_conc
    out["cpu_sec"] = cpu_sec
    out["gate_seed"] = {"policy": "median-of-%d" % len(runs),
                        "runs": run_paths}
    with open(out_path, "w") as f:
        f.write(json.dumps(out) + "\n")
    spreads = []
    for k in gate_wall:
        vals = sorted(r["queries"][k] for r in runs
                      if r.get("queries", {}).get(k, -1) > 0)
        if len(vals) >= 2 and vals[0] > 0 and vals[-1] / vals[0] >= 1.5:
            spreads.append("%s %.2f-%.2f" % (k, vals[0], vals[-1]))
    if spreads:
        print("bimodal entries (>=1.5x spread across seed runs): " +
              ", ".join(spreads))
    print("seeded %s from %d runs (%d entries)" %
          (out_path, len(runs), len(gate_wall)))


if __name__ == "__main__":
    main()
