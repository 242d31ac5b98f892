#!/usr/bin/env python3
"""Compare two commits on the benchmark (choosing-metrics section 8).

Run alternating pairs in two checkouts, then judge every end-to-end metric
of every workload:

    python3 perfbench/compare.py run --parent ../parent --change . \
        --workload dashboard --pairs 10 --out pairs.jsonl
    python3 perfbench/compare.py report pairs.jsonl

Pair i runs both sides on seed 1000+i, the parent first on even i and the
change first on odd i. The report gives each side's median and quartiles
and one verdict per metric and workload:

- improved: the change wins at least 9 of 10 pairs (ties count for
  neither) and the medians differ by more than the parent's own spread
  (its interquartile distance);
- worse: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json;
- unresolved: not worse, but the parent's spread is wider than the bound
  and not every change run beats every parent run;
- unchanged: otherwise.

A change whose share of failed operations exceeds the parent's is marked
`failed_frac worse`, whatever its timings.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def run_once(checkout, workload, seed, seconds, trace=0):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace",
                        str(trace)], cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode not in (0, 1) or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"benchmark failed in {checkout} (exit {p.returncode})")
    return json.loads(lines[-1])


def cmd_run(a):
    spec = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    seconds = a.seconds or spec["run_seconds"]
    with open(a.out, "a") as f:
        for i in range(a.pairs):
            seed = 1000 + i
            sides = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                sides.reverse()
            for side, co in sides:
                res = run_once(co, a.workload, seed, seconds)
                f.write(json.dumps({"pair": i, "side": side, "workload": a.workload,
                                    "seed": seed, "result": res}) + "\n")
                f.flush()
                print(f"pair {i} {side}: {json.dumps(res['metrics'])}", file=sys.stderr)


def verdict(metric, parent, change, better, bound):
    pq, cq = quartiles(parent), quartiles(change)
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pairs = min(len(parent), len(change))
    spread = pq[2] - pq[0]
    worse_by = sign * (pq[1] - cq[1]) / abs(pq[1]) if pq[1] else 0.0
    if pairs and wins >= 0.9 * pairs and abs(cq[1] - pq[1]) > spread:
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif pq[1] and spread / abs(pq[1]) > bound and not (
            min(change) > max(parent) if sign > 0 else max(change) < min(parent)):
        v = "unresolved"
    else:
        v = "unchanged"
    return {"metric": metric, "verdict": v, "wins": f"{wins}/{pairs}",
            "parent_q1_med_q3": pq, "change_q1_med_q3": cq,
            "change_vs_parent": (cq[1] / pq[1] - 1.0) if pq[1] else None}


def cmd_report(a):
    spec = json.load(open(a.spec))
    meta = {m["name"]: m for m in spec["end_to_end"]}
    rows = [json.loads(l) for l in open(a.results) if l.strip()]
    out = []
    for wl in sorted({r["workload"] for r in rows}):
        by = {"parent": {}, "change": {}}
        for r in rows:
            if r["workload"] == wl:
                by[r["side"]][r["pair"]] = r["result"]
        pairs = sorted(set(by["parent"]) & set(by["change"]))
        fails = {s: sum(by[s][p]["failed"] for p in pairs) /
                 max(1, sum(by[s][p]["attempted"] for p in pairs)) for s in by}
        for name, m in meta.items():
            par = [by["parent"][p]["metrics"][name]["value"] for p in pairs]
            chg = [by["change"][p]["metrics"][name]["value"] for p in pairs]
            if not par:
                continue
            v = verdict(name, par, chg, m["better"], m.get("bound", 0.0))
            v["workload"] = wl
            out.append(v)
        out.append({"workload": wl, "metric": "failed_frac",
                    "verdict": "failed_frac worse" if fails["change"] > fails["parent"]
                    else "ok", "parent": fails["parent"], "change": fails["change"]})
    for v in out:
        print(json.dumps(v))


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent", required=True)
    r.add_argument("--change", required=True)
    r.add_argument("--workload", required=True)
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seconds", type=int, default=0)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("results")
    p.add_argument("--spec", default="BENCHMARK.json")
    a = ap.parse_args()
    cmd_run(a) if a.cmd == "run" else cmd_report(a)


if __name__ == "__main__":
    main()
