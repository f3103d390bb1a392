#!/usr/bin/env python3
"""Steadiness report for the graft benchmark.

    python3 perfbench/steady.py --seeds 1,2,3,4,5 --extra-seed 97

Runs perfbench/run.py once per (set, workload, seed) for two sets of
the same code over every workload in BENCHMARK.json, then prints, per
workload and end-to-end metric, each set's median and quartiles, the
quartile spread as a share of the median, and whether the sets agree
within the bound BENCHMARK.json fixes: every spread within the bound,
and the second set's median within the bound of the first's, either
way. Fleet-cycle target digests must match across sets seed by seed.
With --extra-seed, each workload also runs once on that seed, to show
the metrics do not hang on one input draw. Results whose core counts
differ are never compared. The report is also written to
.bench_out/steady.json. Exits 1 when a run failed or the sets disagree.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETS = 2
OUT = os.path.join(ROOT, ".bench_out", "steady.json")


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "exit": p.returncode, "notes": {}, "stamps": {}}
    try:
        rec.update(json.loads(lines[-1]))
    except (IndexError, ValueError):
        rec.update({"correct": False, "metrics": {}, "stderr": p.stderr[-2000:]})
    for line in lines[:-1]:
        if " stamps=" in line:
            rec["stamps"] = json.loads(line.split(" stamps=", 1)[1])
        elif line.startswith("# note "):
            k, v = line[len("# note "):].split(" = ", 1)
            rec["notes"][k] = json.loads(v)
    return rec


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1,2,3,4,5")
    ap.add_argument("--extra-seed", type=int)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    seeds = [int(s) for s in args.seeds.split(",")]
    recs = []
    for s in range(1, SETS + 1):
        for w in workloads:
            for seed in seeds:
                r = run(w, seed, spec["run_seconds"])
                r["set"] = s
                recs.append(r)
                print(f"set {s} {w} seed {seed}: correct={r.get('correct')} "
                      f"steal={r['stamps'].get('cpu_steal_frac', float('nan')):.3f} "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
    extra = [dict(run(w, args.extra_seed, spec["run_seconds"]), set=0) for w in workloads] \
        if args.extra_seed is not None else []
    recs += extra

    cores = {r["stamps"].get("nproc") for r in recs if r["stamps"]}
    if len(cores) > 1:
        sys.exit(f"refusing to compare results from different core counts: {sorted(cores)}")

    ok = all(r.get("correct") for r in recs)
    for r in recs:
        if not r.get("correct"):
            print(f"FAILED run: set {r['set']} {r['workload']} seed {r['seed']}")
    print(f"\n{'workload':15} {'metric':17} " + " ".join(
        f"{'set' + str(s) + ' q1/median/q3 spread':>40}" for s in range(1, SETS + 1))
        + "  agree" + ("  extra-seed" if extra else ""))
    report = []
    for w in workloads:
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            rows, agree = [], True
            first = None
            for s in range(1, SETS + 1):
                xs = [r["metrics"][name]["value"] for r in recs
                      if r["set"] == s and r["workload"] == w and name in r["metrics"]]
                if not xs:
                    agree = False
                    rows.append(None)
                    continue
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med
                if spread > bound:
                    agree = False
                if first is None:
                    first = med
                elif abs(med - first) / first > bound:
                    agree = False
                rows.append({"set": s, "q1": q1, "median": med, "q3": q3, "spread": spread, "n": len(xs)})
            ok = ok and agree
            ex = [r["metrics"][name]["value"] for r in extra if r["workload"] == w and name in r["metrics"]]
            cells = " ".join(f"{'-':>40}" if c is None else
                             f"{c['q1']:>10.4g}/{c['median']:<10.4g}/{c['q3']:<10.4g} {c['spread']:6.3f}"
                             for c in rows)
            exs = f"  {ex[0] / first:.3f}x" if ex and first else ""
            print(f"{w:15} {name:17} {cells}  {'yes' if agree else 'NO':5}{exs}")
            report.append({"workload": w, "metric": name, "bound": bound, "sets": rows,
                           "agree": agree, "extra_seed_value": ex[0] if ex else None})

    # fleet-cycle outputs must not depend on which set produced them
    digests = {}
    for r in recs:
        if r["workload"] == "fleet_cycle" and "target_digests" in r["notes"]:
            digests.setdefault(r["seed"], set()).add(json.dumps(r["notes"]["target_digests"]))
    for seed, ds in sorted(digests.items()):
        if len(ds) > 1:
            ok = False
            print(f"fleet_cycle seed {seed}: target digests differ across runs")
    print(f"\ncores={sorted(cores)} runs={len(recs)} all_correct="
          f"{all(r.get('correct') for r in recs)} verdict={'STEADY' if ok else 'NOT STEADY'}")
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as fh:
        json.dump({"report": report, "runs": recs}, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
