#!/usr/bin/env python3
"""A/B pairs of one graftbench workload, run from two checkouts.

    python3 tools/ab_pairs.py --parent ../parent --change ../change \\
        --workload commit_stream --seeds 61-70 --log ab.jsonl
    python3 tools/ab_pairs.py --summarize ab.jsonl

Each pair runs `python3 graftbench/run.py` once in each checkout with the
same seed, alternating which side runs first. Every run is appended to
the log as one JSON line (the run's result line, plus each op kind's p50
from its .graftbench/result-*.json record), so a summary can be redone
from the log alone. Nothing under graftbench/ is changed.

The summary gives, for every metric the runs report: the parent's
median [quartiles], the change's median [quartiles], the change in
percent, and in how many pairs the change was better (ties count for
neither side). A gain holds when the change wins at least nine tenths
of the pairs and the medians differ by more than the distance between
the parent's quartiles.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")


def directions(benchmark_file=os.path.join(ROOT, "BENCHMARK.json")):
    """metric name -> "lower" or "higher", as BENCHMARK.json declares it"""
    with open(benchmark_file) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def seeds_of(spec):
    """"61-70" or "3,5,9" -> a list of ints"""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(checkout, workload, seed, seconds, trace):
    """One run.py run in `checkout`: its result line and per-kind p50s."""
    cmd = [sys.executable, "graftbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"error": f"exit {p.returncode}"}
    row = {"result": json.loads(lines[-1])}
    record = os.path.join(checkout, ".graftbench", f"result-{workload}-{seed}-{trace}.json")
    if os.path.exists(record):
        with open(record) as f:
            kinds = json.load(f).get("details", {}).get("kinds", {})
        row["kinds"] = {k: d["p50_ms"] for k, d in kinds.items()}
    return row


def values(row):
    """metric name -> value of one logged run, per-kind p50s included"""
    out = {k: m["value"] for k, m in row["result"]["metrics"].items()}
    out.update({f"kind.{k}.p50_ms": v for k, v in row.get("kinds", {}).items()})
    return out


def spread(xs):
    """(median, first quartile, third quartile)"""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q2, q1, q3


def summarize(rows, dirs):
    """One dict per metric, from logged runs grouped into pairs by "pair".

    Only pairs in which both sides produced a result are counted."""
    by_pair = {}
    for r in rows:
        if "result" in r:
            by_pair.setdefault(r["pair"], {})[r["side"]] = values(r)
    pairs = [p for _, p in sorted(by_pair.items()) if all(s in p for s in SIDES)]
    names = sorted({n for p in pairs for s in SIDES for n in p[s]})
    out = []
    for name in names:
        both = [(p["parent"][name], p["change"][name]) for p in pairs
                if name in p["parent"] and name in p["change"]]
        if not both:
            continue
        # per-kind latencies are not declared in BENCHMARK.json: lower wins
        lower = dirs.get(name, "lower") == "lower"
        par = spread([a for a, _ in both])
        chg = spread([b for _, b in both])
        wins = sum(1 for a, b in both if (b < a if lower else b > a))
        gap = abs(chg[0] - par[0])
        improved = chg[0] < par[0] if lower else chg[0] > par[0]
        out.append({
            "metric": name, "n": len(both), "better": "lower" if lower else "higher",
            "parent": par, "change": chg,
            "pct": 100.0 * (chg[0] - par[0]) / par[0] if par[0] else float("nan"),
            "wins": wins,
            "gain": improved and wins * 10 >= 9 * len(both) and gap > par[2] - par[1],
        })
    return out


def report(rows, dirs):
    lines = [f"{'metric':<34} {'parent median [q1, q3]':>30} "
             f"{'change median [q1, q3]':>30} {'change':>8} {'wins':>6}  gain"]
    for s in summarize(rows, dirs):
        fmt = lambda m: f"{m[0]:.4g} [{m[1]:.4g}, {m[2]:.4g}]"  # noqa: E731
        lines.append(f"{s['metric']:<34} {fmt(s['parent']):>30} {fmt(s['change']):>30} "
                     f"{s['pct']:>+7.1f}% {s['wins']:>3}/{s['n']:<2}  "
                     f"{'yes' if s['gain'] else 'no'}")
    for side in SIDES:
        done = [r for r in rows if r["side"] == side and "result" in r]
        att = sum(r["result"]["attempted"] for r in done)
        bad = sum(r["result"]["failed"] for r in done)
        errs = sum(1 for r in rows if r["side"] == side and "error" in r)
        wrong = sum(1 for r in done if not r["result"]["correct"])
        lines.append(f"{side}: {len(done)} runs, {bad}/{att} failed ops, "
                     f"{wrong} incorrect runs, {errs} runs without a result")
    return "\n".join(lines)


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help='e.g. "61-70" or "3,5,9"')
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", help="JSON-lines file the runs are appended to (one per set of pairs)")
    ap.add_argument("--summarize", metavar="LOG", help="only summarize a log")
    args = ap.parse_args()
    dirs = directions()
    if args.summarize:
        print(report(load(args.summarize), dirs))
        return 0
    if not (args.parent and args.change and args.workload and args.seeds and args.log):
        ap.error("--parent, --change, --workload, --seeds and --log are required")
    checkouts = {"parent": args.parent, "change": args.change}
    for i, seed in enumerate(seeds_of(args.seeds)):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for side in order:
            row = run_one(checkouts[side], args.workload, seed, args.seconds, args.trace)
            row.update(pair=i, seed=seed, side=side, workload=args.workload,
                       trace=args.trace)
            with open(args.log, "a") as f:
                f.write(json.dumps(row) + "\n")
            print(f"pair {i} seed {seed} {side}: "
                  + (row.get("error") or json.dumps(values(row))), file=sys.stderr, flush=True)
    print(report(load(args.log), dirs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
