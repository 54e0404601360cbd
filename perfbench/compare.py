#!/usr/bin/env python3
"""Compare two sets of benchmark runs, and report the tracing overhead.

    python3 perfbench/compare.py pairs <parent_checkout> <change_checkout> \\
        --workload <name> [--pairs 10] [--first-seed 1] [--out <pairs.jsonl>]
    python3 perfbench/compare.py report <pairs.jsonl>
    python3 perfbench/compare.py overhead [<runs.jsonl>]

Runs taken at different core counts (different `local[N]` masters) are
never compared. `pairs` runs the benchmark alternately in the two checkouts, one seed per
pair, the parent first in even pairs and the change first in odd ones, and
appends every result to the pairs file (by default
`.bench_build/pairs.jsonl` of this checkout) before reporting it. `report` prints
one row per workload x end-to-end metric:

- gain: at least ten pairs, the change wins at least nine in ten of them
  (ties count for neither), and the medians differ by more than the
  parent's interquartile range;
- regression: the change's median is worse than the parent's by more than
  the metric's bound;
- unresolved: the parent's own spread (interquartile range over median) is
  wider than the bound, and not every change run beats every parent run;
- within bound: none of these.

`overhead` reads the run records a checkout keeps in
`.bench_build/records/runs.jsonl` and prints, per workload and end-to-end
metric (gated or not), the traced runs' median against the untraced runs'
median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def better(metric, a, b):
    """True when value b is better than value a."""
    return b < a if metric["better"] == "lower" else b > a


def run_once(checkout, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return None
    result = json.loads(lines[-1])
    result["master"] = json.loads(lines[-2])["record"]["master"]
    return result


def cmd_pairs(args):
    seconds = spec()["run_seconds"]
    sides = [("parent", args.parent), ("change", args.change)]
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "a") as out:
        for i in range(args.pairs):
            seed = args.first_seed + i
            for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
                result = run_once(checkout, args.workload, seed, seconds)
                out.write(json.dumps({"pair": i, "seed": seed, "side": side,
                                      "workload": args.workload, "result": result}) + "\n")
                out.flush()
                print(f"pair {i} seed {seed} {side}: "
                      f"{'ok' if result and result['correct'] else 'FAILED'}", file=sys.stderr)
    report(args.out)


def verdict(metric, parent, change):
    q1, med_a, q3 = quartiles(parent)
    _, med_b, _ = quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(better(metric, a, b) for a, b in pairs)
    worse_by = (med_b - med_a) / med_a * (1 if metric["better"] == "lower" else -1)
    spread = (q3 - q1) / med_a
    dominates = all(better(metric, a, b) for a in parent for b in change)
    if (len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(med_b - med_a) > q3 - q1
            and better(metric, med_a, med_b)):
        v = "gain"
    elif worse_by > metric["bound"]:
        v = "regression"
    elif spread > metric["bound"] and not dominates:
        v = "unresolved"
    else:
        v = "within bound"
    return med_a, (q1, q3), med_b, worse_by, wins, v


def report(path):
    rows = [json.loads(line) for line in open(path) if line.strip()]
    print(f"{'workload':14} {'metric':18} {'unit':5} {'parent median [q1, q3]':>30} "
          f"{'change':>12} {'worse by':>9} {'wins':>6}  verdict")
    for workload in sorted({r["workload"] for r in rows}):
        by_pair = {}
        for r in rows:
            if r["workload"] == workload:
                by_pair.setdefault(r["pair"], {})[r["side"]] = r["result"]
        complete = [p for p in by_pair.values() if p.get("parent") and p.get("change")]
        masters = {r["master"] for p in complete for r in p.values()}
        if len(masters) > 1:
            print(f"{workload:14} runs at different masters {sorted(masters)}: not compared")
            continue
        bad = [p for p in complete if not (p["parent"]["correct"] and p["change"]["correct"])]
        if bad or len(complete) < len(by_pair):
            print(f"{workload:14} {len(by_pair) - len(complete)} incomplete pairs, "
                  f"{len(bad)} pairs with wrong answers: unresolved")
            continue
        for m in spec()["end_to_end"]:
            a = [p["parent"]["metrics"][m["name"]]["value"] for p in complete]
            b = [p["change"]["metrics"][m["name"]]["value"] for p in complete]
            med_a, (q1, q3), med_b, worse_by, wins, v = verdict(m, a, b)
            print(f"{workload:14} {m['name']:18} {m['unit']:5} "
                  f"{med_a:12.4g} [{q1:.4g}, {q3:.4g}] {med_b:12.4g} {worse_by:+8.1%} "
                  f"{wins:>3}/{len(complete):<2}  {v}")


def cmd_overhead(args):
    recs = [json.loads(line) for line in open(args.records) if line.strip()]
    print(f"{'workload':14} {'metric':18} {'untraced (n)':>18} {'traced (n)':>18} {'overhead':>9}")
    better = {m["name"]: m["better"] for m in spec()["end_to_end"]}
    better.update(throughput_per_s="higher")
    for workload in sorted({r["workload"] for r in recs}):
        for name in sorted(set().union(*(r["end_to_end"] for r in recs)) - {"loop_s", "scored_events"}):
            ok = [r for r in recs if r["workload"] == workload and r["failed"] == 0
                  and name in r["end_to_end"]]
            plain = [r["end_to_end"][name] for r in ok if not r["trace"]]
            traced = [r["end_to_end"][name] for r in ok if r["trace"]]
            if not plain or not traced:
                continue
            u, t = statistics.median(plain), statistics.median(traced)
            sign = -1 if better.get(name) == "higher" else 1
            print(f"{workload:14} {name:18} {u:12.4g} ({len(plain):2}) "
                  f"{t:12.4g} ({len(traced):2}) {sign * (t - u) / u:+8.1%}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("pairs")
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "pairs.jsonl"))
    r = sub.add_parser("report")
    r.add_argument("pairs_file")
    o = sub.add_parser("overhead")
    o.add_argument("records", nargs="?",
                   default=os.path.join(ROOT, ".bench_build", "records", "runs.jsonl"))
    args = ap.parse_args()
    if args.cmd == "pairs":
        cmd_pairs(args)
    elif args.cmd == "report":
        report(args.pairs_file)
    else:
        cmd_overhead(args)


if __name__ == "__main__":
    main()
