#!/usr/bin/env python3
"""Paired A/B comparison of two checkouts on the perfbench benchmark.

    python3 scripts/ab.py --parent ../parent --change . --workload lookup_serve --pairs 10 --seed 5
    python3 scripts/ab.py --parent ../parent --change . --workload all --pairs 5 --seed 1
    python3 scripts/ab.py ... --trace 1     # per-layer metrics instead

Each pair runs `python3 perfbench/run.py --workload W --seed S` once in each
checkout, alternating which side goes first (pair 1 parent first, pair 2
change first, ...). For every metric that BENCHMARK.json lists
(`end_to_end`, or `per_layer` with --trace 1) it prints each side's median
and quartiles, how many pairs the change won (direction from the metric's
`better`; ties count for neither side) and a verdict:

  improved       the change won at least 9/10 of at least 10 pairs and the
                 medians differ, in its favour, by more than the parent's
                 interquartile distance (with fewer pairs: "better (too few
                 pairs to claim)")
  worse          the change's median is worse than the parent's by more
                 than the metric's `bound`
  unresolved     the parent's own interquartile distance exceeds the bound,
                 so "within bound" could not be told apart from noise
                 (unless every change run beats every parent run)
  within bound   none of the above

Per-layer metrics have no bound; they read one of the first two or `-`. Failed and
attempted ops are summed per side. Every run's result is appended as one
JSON line to --log when given. The exit code is 1 when any run failed a
check or printed no result.
"""
import argparse
import json
import math
import statistics
import subprocess
import sys
from pathlib import Path

RUN_TIMEOUT_S = 3600
WIN_SHARE = 0.9
MIN_CLAIM_PAIRS = 10


def run_side(checkout, workload, seed, trace):
    """One perfbench run; the parsed result, or None when it printed none."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--trace", str(trace)]
    try:
        r = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"ab: {checkout}: run timed out", file=sys.stderr)
        return None
    lines = r.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        print(f"ab: {checkout}: no result (exit {r.returncode})\n{r.stderr[-2000:]}",
              file=sys.stderr)
        return None
    result = json.loads(lines[-1])
    result["exit"] = r.returncode
    return result


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(p, c, better, bound):
    """p, c: the two sides' values, pair by pair."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
    pq1, pmed, pq3 = quartiles(p)
    _, cmed, _ = quartiles(c)
    gain = sign * (cmed - pmed)
    if wins >= math.ceil(WIN_SHARE * len(p)) and gain > pq3 - pq1:
        return wins, "improved" if len(p) >= MIN_CLAIM_PAIRS else "better (too few pairs to claim)"
    if bound is None:
        return wins, "-"
    if pmed != 0 and -gain / abs(pmed) > bound:
        return wins, "worse"
    every_run_better = all(sign * (b - a) > 0 for a in p for b in c)
    if pmed != 0 and (pq3 - pq1) / abs(pmed) > bound and not every_run_better:
        return wins, "unresolved"
    return wins, "within bound"


def fmt(x):
    return f"{x:.4g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True, help="a workload name, or 'all'")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", help="append every run's result here as JSON lines")
    args = ap.parse_args()

    sides = {"parent": Path(args.parent).resolve(), "change": Path(args.change).resolve()}
    for name, d in sides.items():
        if not (d / "perfbench" / "run.py").is_file():
            sys.exit(f"ab: --{name} {d} has no perfbench/run.py")
    spec = json.loads((sides["change"] / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in spec["per_layer" if args.trace else "end_to_end"]}

    runs = {"parent": [], "change": []}
    bad = False
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            res = run_side(sides[side], args.workload, args.seed, args.trace)
            got[side] = res
            if res is None or res["exit"] != 0 or not res["correct"]:
                bad = True
            if args.log:
                with open(args.log, "a") as f:
                    f.write(json.dumps({"pair": i + 1, "side": side, "first": order[0],
                                        "workload": args.workload, "seed": args.seed,
                                        "trace": args.trace, "result": res}) + "\n")
        if got["parent"] is not None and got["change"] is not None:
            for side in runs:
                runs[side].append(got[side])
        print(f"ab: pair {i + 1}/{args.pairs} done ({order[0]} first)", file=sys.stderr)

    n = len(runs["parent"])
    if n == 0:
        sys.exit("ab: no complete pair")
    print(f"workload {args.workload}, seed {args.seed}, {n} complete pairs"
          f"{', traced' if args.trace else ''}")
    for side in runs:
        failed = sum(r["failed"] for r in runs[side])
        attempted = sum(r["attempted"] for r in runs[side])
        wrong = sum(1 for r in runs[side] if not r["correct"])
        print(f"  {side}: failed ops {failed} of {attempted}; runs with a failed check {wrong}")
    head = (f"{'metric':<44} {'parent q1/med/q3':>28} {'change q1/med/q3':>28}"
            f" {'med Δ':>8} {'wins':>6}  verdict")
    print(head)
    keys = sorted(set().union(*(r["metrics"].keys() for r in runs["parent"])))
    for key in keys:
        # 'all' prefixes each metric with its workload
        names = [k for k in metrics if key == k or key.endswith("." + k)]
        if not names or any(r["metrics"].get(key, {}).get("value") is None
                            for side in runs for r in runs[side]):
            continue
        m = metrics[max(names, key=len)]
        p = [r["metrics"][key]["value"] for r in runs["parent"]]
        c = [r["metrics"][key]["value"] for r in runs["change"]]
        wins, v = verdict(p, c, m["better"], m.get("bound"))
        pq, cq = quartiles(p), quartiles(c)
        delta = f"{(cq[1] - pq[1]) / abs(pq[1]) * 100:+.1f}%" if pq[1] else "n/a"
        print(f"{key:<44} {'/'.join(map(fmt, pq)):>28} {'/'.join(map(fmt, cq)):>28}"
              f" {delta:>8} {wins:>3}/{n:<2}  {v}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
