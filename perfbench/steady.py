#!/usr/bin/env python3
"""Run sets and steadiness checks for the benchmark.

    # one run per (workload, seed); saves every run's metrics
    python3 perfbench/steady.py run --seeds 1-10 --out set1.json
    # two sets whose runs alternate, seed by seed
    python3 perfbench/steady.py run --seeds 1-10 --out a.json b.json
    # seed-spread mode: training workloads on 3 seeds, spread of
    # throughput and loss (the yardstick for changes to summation order)
    python3 perfbench/steady.py run --spread --out spread.json
    # two sets of the same code: per-metric medians, quartiles, verdict
    python3 perfbench/steady.py compare set1.json set2.json

A set's spread for a metric is (q3 - q1) / median of its per-run values,
quartiles as `statistics.quantiles(values, n=4)` gives them.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchlib import stats  # noqa: E402

TRAINING = ("boost_wide", "ingest_predict")
SPREAD_METRICS = ("work_per_s", "final_loss")


def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def seed_list(text):
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_one(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    if p.returncode != 0 or not last.startswith("{"):
        raise SystemExit("run failed: %s seed %d (exit %d)"
                         % (workload, seed, p.returncode))
    return json.loads(last)


def spread_table(runs, names):
    """{workload: {metric: summary}} over the runs of one set."""
    out = {}
    for w, rs in runs.items():
        out[w] = {}
        for name in names:
            # a run whose every pass failed has no value
            vals = [r["metrics"][name]["value"] for r in rs
                    if r["metrics"][name]["value"] is not None]
            if len(vals) < 2:
                continue
            med, q1, q3, spread = stats.quartile_spread(vals)
            out[w][name] = {"median": med, "q1": q1, "q3": q3,
                            "spread": spread, "min": min(vals),
                            "max": max(vals), "n": len(vals)}
    return out


def cmd_run(args):
    spec = load_spec()
    workloads = (TRAINING if args.spread else
                 [w["name"] for w in spec["workloads"]])
    seeds = seed_list(args.seeds or ("1-3" if args.spread else "1-10"))
    names = (SPREAD_METRICS if args.spread else
             [m["name"] for m in spec["end_to_end"]])
    # one set per output file; the sets' runs alternate, seed by seed,
    # and which set goes first alternates too (the first run of a seed
    # also writes its fixture)
    outs = args.out or [None]
    sets = [{} for _ in outs]
    for w in workloads:
        for i, s in enumerate(seeds):
            order = list(enumerate(sets))
            for k, runs in (order if i % 2 == 0 else order[::-1]):
                r = run_one(w, s, spec["run_seconds"])
                r["seed"] = s
                runs.setdefault(w, []).append(r)
                print("set %d %s seed %d: correct=%s %s" % (
                    k + 1, w, s, r["correct"], " ".join(
                        "%s=%s" % (m, "none" if v["value"] is None
                                   else "%.6g" % v["value"])
                        for m, v in r["metrics"].items())), flush=True)
    for k, (path, runs) in enumerate(zip(outs, sets)):
        table = spread_table(runs, names)
        for w, rows in table.items():
            for name, row in rows.items():
                print("set %d %-15s %-20s median %.6g  q1 %.6g  q3 %.6g  "
                      "spread %.4f" % (k + 1, w, name, row["median"],
                                       row["q1"], row["q3"], row["spread"]))
        if path:
            with open(path, "w") as fh:
                json.dump({"runs": runs, "spread": table}, fh, indent=1)


def cmd_compare(args):
    spec = load_spec()
    sets = []
    for path in (args.first, args.second):
        with open(path) as fh:
            sets.append(json.load(fh)["runs"])
    ok = True
    for w in sorted(sets[0]):
        bad = [r["seed"] for s in sets for r in s.get(w, [])
               if not r["correct"]]
        if bad:
            ok = False
            print("%-15s FAIL runs with failed checks, seeds %s" % (w, bad))
        per_set = [{m["name"]: [r["metrics"][m["name"]]["value"]
                                for r in s.get(w, []) if r["correct"]]
                    for m in spec["end_to_end"]} for s in sets]
        for row in stats.compare_sets(per_set[0], per_set[1],
                                      spec["end_to_end"]):
            ok &= row["ok"]
            if "first" not in row:
                print("%-15s %-20s FAIL %s" % (w, row["name"], row["reason"]))
                continue
            a, b = row["first"], row["second"]
            print("%-15s %-20s bound %.3f | spread %.4f / %.4f | median "
                  "%.6g -> %.6g (worse by %+.4f) %s"
                  % (w, row["name"], row["bound"], a["spread"], b["spread"],
                     a["median"], b["median"], row["worse_by"],
                     "ok" if row["ok"] else "FAIL"))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds")
    r.add_argument("--spread", action="store_true")
    r.add_argument("--out", nargs="+")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    (cmd_run if args.cmd == "run" else cmd_compare)(args)


if __name__ == "__main__":
    main()
