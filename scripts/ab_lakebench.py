#!/usr/bin/env python3
"""A/B comparison of two checkouts on one lakebench workload.

    python3 scripts/ab_lakebench.py --parent <checkout> --change <checkout> \
        --workload write_mix --pairs 10 [--seconds 5] [--out runs.jsonl]

Pair i (seeds 1..N) runs `python3 lakebench/run.py --workload <w> --seed <i>
--seconds <s>` once in each checkout, one after the other; odd pairs run the
parent first and even pairs the change first, so a drift of the host over
the runs falls on both sides alike. The first run in a checkout also
builds it (see lakebench/run.py). Nothing under lakebench/ is changed.

For every end-to-end metric of BENCHMARK.json it prints each side's median
and quartiles, the change of the median, how many pairs the change won (a
strictly better value in the metric's direction), and whether the medians
differ by more than the parent's interquartile range. A run that fails is
reported and left out of its pair.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds, verbose):
    """One lakebench run in `checkout`: its result object, or None."""
    cmd = [sys.executable, "lakebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=None if verbose else subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        print(f"  {checkout} seed {seed}: failed (exit {proc.returncode})", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    """(first quartile, median, third quartile) of `xs`."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description="alternating A/B runs of one lakebench workload")
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--out", help="append every run's result here, one JSON line each")
    ap.add_argument("--verbose", action="store_true", help="show the runs' stderr")
    a = ap.parse_args()

    bench_file = os.path.join(a.change, "BENCHMARK.json")
    metrics = json.load(open(bench_file))["end_to_end"]
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    pairs = []
    for seed in range(1, a.pairs + 1):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        got = {}
        for side in order:
            r = run_once(sides[side], a.workload, seed, a.seconds, a.verbose)
            got[side] = r
            if a.out and r is not None:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"side": side, "seed": seed, "workload": a.workload,
                                        "result": r}) + "\n")
        pass_s = {s: (got[s] or {}).get("metrics", {}).get("pass_s", {}).get("value")
                  for s in ("parent", "change")}
        print(f"pair {seed}: pass_s parent {pass_s['parent']} change {pass_s['change']}",
              file=sys.stderr)
        pairs.append(got)

    ok = [p for p in pairs if p["parent"] is not None and p["change"] is not None]
    failed = sum(1 for p in pairs for s in ("parent", "change") if p[s] is None)
    print(f"{a.workload}: {len(ok)} complete pairs of {a.pairs}, {failed} failed runs")
    if not ok:
        return 1
    print(f"{'metric':<18} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
          f" {'median':>8} {'wins':>6}  resolved")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        vals = {s: [p[s]["metrics"][name]["value"] for p in ok if name in p[s]["metrics"]]
                for s in ("parent", "change")}
        if len(vals["parent"]) != len(ok) or len(vals["change"]) != len(ok):
            print(f"{name:<18} missing in some runs")
            continue
        pq = quartiles(vals["parent"])
        cq = quartiles(vals["change"])
        wins = sum(1 for pv, cv in zip(vals["parent"], vals["change"])
                   if (cv < pv if lower else cv > pv))
        delta = (cq[1] - pq[1]) / pq[1] * 100 if pq[1] else 0.0
        resolved = abs(cq[1] - pq[1]) > pq[2] - pq[0]

        def fmt(q):
            return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        print(f"{name:<18} {fmt(pq):>30} {fmt(cq):>30} {delta:>+7.1f}% {wins:>3}/{len(ok):<2}"
              f"  {'yes' if resolved else 'no'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
