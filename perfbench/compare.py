#!/usr/bin/env python3
"""Compare a parent and a change commit on the benchmark.

Runs alternating parent/change pairs of `perfbench/run.py` (each pair on
one seed, the side that goes first alternating), records every run, then
gives for each workload and metric each side's median and quartiles, the
share of pairs the change won and a verdict:

  improved    the change won at least 9/10 of the pairs (ties count for
              neither) and the medians differ by more than the parent's
              own spread (the distance between its quartiles);
  worse       the change's median is worse than the parent's by more
              than the metric's bound (BENCHMARK.json);
  unchanged   within the bound;
  unresolved  a side's spread (quartile distance over median) is wider
              than the bound, unless every change run beat every parent
              run.

Usage:
  python3 perfbench/compare.py --parent DIR --change DIR [--pairs 10]
      [--seconds 40] [--trace 0] [--workloads a,b] [--seed 1] [--out runs.jsonl]
      [--data DIR]
  python3 perfbench/compare.py --report runs.jsonl

DIR is the root of a checkout of each commit. `--data` is passed on to
run.py (`legis_analyst` needs it). `--report` re-reads a runs file written
by an earlier comparison.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(root, workload, seed, seconds, trace, data):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if data:
        cmd += ["--data", os.path.abspath(data)]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {root}: {p.stderr[-2000:]}")
    return json.loads(lines[-1])


def collect(a, out):
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec()["workloads"]]
    with open(out, "a") as f:
        for i in range(a.pairs):
            seed = a.seed + i
            sides = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                sides.reverse()
            for w in workloads:
                for side, root in sides:
                    res = one_run(root, w, seed, a.seconds, a.trace, a.data)
                    f.write(json.dumps({"pair": i, "side": side, "workload": w,
                                        "seed": seed, "result": res}) + "\n")
                    f.flush()
                    print(f"pair {i} {w} {side}: correct={res['correct']}", file=sys.stderr)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(parent, change, pairs, better, bound):
    lower = better == "lower"
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
    won = wins / len(pairs) if pairs else 0.0
    gain = (pmed - cmed) if lower else (cmed - pmed)
    all_better = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    spread = max((pq3 - pq1) / abs(pmed) if pmed else 0.0,
                 (cq3 - cq1) / abs(cmed) if cmed else 0.0)
    if won >= 0.9 and gain > (pq3 - pq1):
        v = "improved"
    elif bound is not None and spread > bound and not all_better:
        v = "unresolved"
    elif bound is not None and -gain > bound * abs(pmed):
        v = "worse"
    else:
        v = "unchanged"
    return {"parent_median": pmed, "parent_q1": pq1, "parent_q3": pq3,
            "change_median": cmed, "change_q1": cq1, "change_q3": cq3,
            "pairs_won": won, "verdict": v}


def report(path):
    s = spec()
    meta = {m["name"]: m for m in s["end_to_end"] + s["per_layer"]}
    rows = [json.loads(l) for l in open(path)]
    by = {}
    for r in rows:
        for name, m in r["result"]["metrics"].items():
            by.setdefault((r["workload"], name), {}).setdefault(r["pair"], {})[r["side"]] = m["value"]
    for (w, name), pairs in sorted(by.items()):
        full = [(p["parent"], p["change"]) for p in pairs.values() if "parent" in p and "change" in p]
        if not full:
            continue
        m = meta.get(name, {"better": "lower"})
        res = verdict([p for p, _ in full], [c for _, c in full], full,
                      m.get("better", "lower"), m.get("bound"))
        print(f"{w:16s} {name:32s} parent {res['parent_median']:.4g} "
              f"[{res['parent_q1']:.4g}, {res['parent_q3']:.4g}]  change {res['change_median']:.4g} "
              f"[{res['change_q1']:.4g}, {res['change_q3']:.4g}]  won {res['pairs_won']:.0%}  "
              f"{res['verdict']}")
    failed = [(r["workload"], r["side"], r["pair"]) for r in rows if not r["result"]["correct"]]
    if failed:
        print(f"runs with wrong or failed calls: {failed}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=spec()["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--workloads")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(".perfbench", "compare-runs.jsonl"))
    ap.add_argument("--report")
    ap.add_argument("--data")
    a = ap.parse_args()
    if a.report:
        report(a.report)
        return
    if not (a.parent and a.change):
        ap.error("--parent and --change are required unless --report is given")
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    collect(a, a.out)
    report(a.out)


if __name__ == "__main__":
    main()
