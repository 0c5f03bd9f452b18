#!/usr/bin/env python3
"""Alternating A/B pairs of perfbench runs between two checkouts.

Usage (from anywhere):

    python3 scripts/ab_pairs.py --base ../parent --change . \
        --workload dedup_batch --seeds 11-20 [--seconds 20]

For each seed it runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, one after the other; the side
that goes first alternates from seed to seed, so a drift in the host's load
falls on both sides alike. Each checkout builds itself on its first run.

It then prints, for every end-to-end metric of the result line, each side's
median and quartiles over the seeds and the number of pairs (same seed) the
change won, plus whether the difference between the medians exceeds the
spread between the base's quartiles. Which direction is better comes from
the base checkout's BENCHMARK.json. Every run's JSON result, with its side
and seed, is also printed to stderr as it finishes (`2>>runs.jsonl` keeps
them).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_range(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if r.returncode != 0 or not lines:
        return {"error": "run.py exit %d" % r.returncode}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_range, help="e.g. 11-20 or 1,3,5-7")
    ap.add_argument("--seconds", type=int, default=20)
    a = ap.parse_args()
    sides = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}
    results = {"base": {}, "change": {}}
    for i, seed in enumerate(a.seeds):
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            res = run_once(sides[side], a.workload, seed, a.seconds)
            results[side][seed] = res
            print(json.dumps({"side": side, "seed": seed, "workload": a.workload,
                              "result": res}), file=sys.stderr, flush=True)

    better = directions(sides["base"])
    ok = [s for s in a.seeds
          if all("metrics" in results[side][s] for side in results)]
    failed = {side: sum(results[side][s].get("failed", 0) for s in ok) for side in results}
    print("workload %s, %d pairs (seeds %s), failed ops base %d change %d, "
          "pairs without a result %d"
          % (a.workload, len(ok), ",".join(map(str, ok)), failed["base"],
             failed["change"], len(a.seeds) - len(ok)))
    if not ok:
        sys.exit(1)
    names = sorted(results["base"][ok[0]]["metrics"])
    print("%-12s %-8s %12s %25s %12s %25s %8s %s"
          % ("metric", "better", "base p50", "base q1-q3", "change p50", "change q1-q3",
             "won", "|dp50| > base IQR"))
    for name in names:
        lower = better[name] == "lower"
        b = [results["base"][s]["metrics"][name]["value"] for s in ok]
        c = [results["change"][s]["metrics"][name]["value"] for s in ok]
        won = sum((y < x) if lower else (y > x) for x, y in zip(b, c))
        bq, cq = quartiles(b), quartiles(c)
        print("%-12s %-8s %12.4g %12.4g-%-12.4g %12.4g %12.4g-%-12.4g %5d/%-2d %s"
              % (name, "lower" if lower else "higher", bq[1], bq[0], bq[2], cq[1], cq[0],
                 cq[2], won, len(ok), abs(cq[1] - bq[1]) > bq[2] - bq[0]))


if __name__ == "__main__":
    main()
