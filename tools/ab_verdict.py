#!/usr/bin/env python3
"""Verdict for a parent/change performance A/B of perfbench runs.

    python3 tools/ab_verdict.py --claim serve_upsert:ops_per_s \\
        serve_upsert parent_su.jsonl change_su.jsonl \\
        pipeline_cold parent_pc.jsonl change_pc.jsonl

Each workload is given as a triple: its name, then a file of the parent's
result lines and a file of the change's, one JSON line per run as printed
last by perfbench/run.py (other lines are skipped, so a run's whole stdout
may be appended). Line i of the parent file is paired with line i of the
change file, so both sides must have run the same seeds in the same order.

Per workload and end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, the change's relative move, the pairs the
change won, tied and lost, and a verdict:

  claimed metric  "gain" when the change wins at least 9/10 of the pairs
                  (ties count for neither), at least 10 pairs ran, and its
                  median beats the parent's by more than the parent's
                  interquartile spread; else "not met".
  other metrics   "within bound" when the change's median is no worse than
                  the parent's by more than the metric's BENCHMARK.json
                  bound; "regressed" when it is; "unresolved" when either
                  side's interquartile spread, relative to the parent's
                  median, exceeds the bound, unless every run of the change
                  reads better than every run of the parent ("better").

It also sums failed/attempted operations per side; the change may not fail
a larger share than the parent, and every run must report correct outputs.
Exit code 0 only when every verdict passes.
"""
import argparse
import json
import os
import statistics
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")
WINS_NEEDED = 0.9
MIN_PAIRS = 10


def read_runs(path):
    runs = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line.startswith("{"):
                runs.append(json.loads(line))
    return runs


def quartiles(xs):
    """(q1, median, q3) with linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def better(a, b, higher):
    """+1 when a reads better than b, -1 when worse, 0 on a tie."""
    if a == b:
        return 0
    return 1 if (a > b) == higher else -1


def judge(metric, parent, change, claimed):
    higher = metric["better"] == "higher"
    bound = metric["bound"]
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    signs = [better(c, p, higher) for p, c in zip(parent, change)]
    wins, losses = signs.count(1), signs.count(-1)
    ties = len(signs) - wins - losses
    worse = (pm - cm if higher else cm - pm) / abs(pm) if pm else 0.0
    if claimed:
        beats = better(cm, pm, higher) == 1 and abs(cm - pm) > p3 - p1
        ok = len(signs) >= MIN_PAIRS and wins >= WINS_NEEDED * len(signs) and beats
        verdict = "gain" if ok else "not met"
    elif all(better(c, p, higher) == 1 for p in parent for c in change):
        verdict, ok = "better", True
    elif pm and max(p3 - p1, c3 - c1) / abs(pm) > bound:
        verdict, ok = "unresolved", False
    else:
        ok = worse <= bound
        verdict = "within bound" if ok else "regressed"
    return {"parent": (p1, pm, p3), "change": (c1, cm, c3), "move": -worse,
            "wlt": (wins, ties, losses), "verdict": verdict, "ok": ok}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--claim", action="append", default=[],
                    help="WORKLOAD:METRIC the change claims to improve (repeatable)")
    ap.add_argument("triples", nargs="+", metavar="WORKLOAD PARENT CHANGE")
    a = ap.parse_args()
    if len(a.triples) % 3:
        ap.error("give each workload as: NAME PARENT_FILE CHANGE_FILE")
    with open(BENCHMARK) as fh:
        metrics = json.load(fh)["end_to_end"]
    names = {m["name"] for m in metrics}
    claims = set()
    for c in a.claim:
        w, _, m = c.partition(":")
        if m not in names:
            ap.error(f"--claim {c}: {m!r} is not an end-to-end metric of {BENCHMARK}")
        claims.add((w, m))

    all_ok = True
    for i in range(0, len(a.triples), 3):
        workload, ppath, cpath = a.triples[i:i + 3]
        parent, change = read_runs(ppath), read_runs(cpath)
        n = min(len(parent), len(change))
        if len(parent) != len(change):
            print(f"{workload}: {len(parent)} parent runs, {len(change)} change runs; "
                  f"pairing the first {n}", file=sys.stderr)
        parent, change = parent[:n], change[:n]
        print(f"== {workload}: {n} pairs")
        print(f"  {'metric':<18}{'parent q1/med/q3':>30} {'change q1/med/q3':>30}"
              f"{'gain':>9}{'W/T/L':>10}  verdict")
        for m in metrics:
            name = m["name"]
            pv = [r["metrics"][name]["value"] for r in parent if name in r.get("metrics", {})]
            cv = [r["metrics"][name]["value"] for r in change if name in r.get("metrics", {})]
            if len(pv) != n or len(cv) != n or n == 0:
                print(f"  {name:<18}missing in some runs")
                all_ok = False
                continue
            claimed = (workload, name) in claims
            v = judge(m, pv, cv, claimed)
            all_ok &= v["ok"]
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"  {name:<18}{fmt(v['parent']):>30} {fmt(v['change']):>30}"
                  f"{v['move']:>+9.1%}{'/'.join(map(str, v['wlt'])):>10}  "
                  f"{v['verdict']}{' (claimed)' if claimed else ''}")
        pf = sum(r.get("failed", 0) for r in parent)
        pa = sum(r.get("attempted", 0) for r in parent)
        cf = sum(r.get("failed", 0) for r in change)
        ca = sum(r.get("attempted", 0) for r in change)
        wrong = sum(not r.get("correct", False) for r in change)
        share_ok = (cf / ca if ca else 0.0) <= (pf / pa if pa else 0.0)
        print(f"  error_rate parent {pf}/{pa}, change {cf}/{ca}; "
              f"change runs with failed output checks: {wrong}")
        all_ok &= share_ok and wrong == 0
    print("verdict:", "pass" if all_ok else "FAIL")
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
