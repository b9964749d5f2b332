#!/usr/bin/env python3
"""Repeat-and-compare helper for graft's benchmark.

    # run a workload N times on seeds S..S+N-1, save the result lines
    python3 perfbench/compare.py run --workload dashboard --runs 10 --seed 1 --out base.jsonl
    # median, quartiles and spread of every metric in a set of runs
    python3 perfbench/compare.py stats base.jsonl
    # a second set against the first, under the bounds in BENCHMARK.json
    python3 perfbench/compare.py compare base.jsonl new.jsonl

Spread is (Q3 - Q1) / median, with the quartiles that
statistics.quantiles(values, n=4) gives. `compare` fails (exit 1) when a
run is incorrect, when a metric's median in the second set is worse than
the first by more than its bound, or when a metric spreads wider than
its bound in either set.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec(path=os.path.join(ROOT, "BENCHMARK.json")):
    with open(path) as f:
        return json.load(f)


def load_runs(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(values):
    """(Q1, median, Q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def metric_values(runs, name):
    return [r["result"]["metrics"][name]["value"] for r in runs if name in r["result"]["metrics"]]


def stats(runs):
    """{metric: (Q1, median, Q3, spread, n)} over a set of runs."""
    names = []
    for r in runs:
        names += [k for k in r["result"]["metrics"] if k not in names]
    out = {}
    for k in names:
        v = metric_values(runs, k)
        q1, med, q3 = quartiles(v)
        out[k] = (q1, med, q3, spread(v), len(v))
    return out


def compare(base, new, spec):
    """Checks `new` against `base` under the spec's end-to-end bounds.
    Returns a list of (metric, verdict, detail); verdict is "ok", "worse",
    "unsteady" or "incorrect"."""
    rows = []
    for label, runs in (("first", base), ("second", new)):
        bad = [r.get("seed") for r in runs if not r["result"]["correct"] or r["result"]["failed"]]
        if bad:
            rows.append(("correct", "incorrect", "%s set: seeds %s not correct" % (label, bad)))
    for m in spec["end_to_end"]:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        a, b = metric_values(base, name), metric_values(new, name)
        if not a or not b:
            rows.append((name, "incorrect", "missing from a set"))
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        change = (mb - ma) / ma if ma else 0.0
        worse = change if lower else -change
        sa, sb = spread(a), spread(b)
        detail = "median %.6g -> %.6g (%+.1f%%), spread %.3f / %.3f, bound %.3f" % (
            ma, mb, 100 * change, sa, sb, bound)
        if worse > bound:
            rows.append((name, "worse", detail))
        elif max(sa, sb) > bound:
            rows.append((name, "unsteady", detail))
        else:
            rows.append((name, "ok", detail))
    return rows


def run_set(workload, runs, seed, seconds, trace, out):
    with open(out, "a") as f:
        for s in range(seed, seed + runs):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                                "--seed", str(s), "--seconds", str(seconds), "--trace", str(trace)],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print("seed %d: run failed (exit %d)" % (s, p.returncode), file=sys.stderr)
                return 1
            files = [x.split(": ", 1)[1] for x in lines if x.startswith("result file: ")]
            rec = {"workload": workload, "seed": s, "trace": trace,
                   "result": json.loads(lines[-1]), "file": files[0] if files else None}
            f.write(json.dumps(rec) + "\n")
            f.flush()
            print("seed %d (%.0f s): %s" % (s, time.time() - t0, " ".join("%s=%.4g" % (k, v["value"])
                                                for k, v in rec["result"]["metrics"].items())))
    return 0


def print_stats(runs):
    print("%-28s %12s %12s %12s %8s %4s" % ("metric", "Q1", "median", "Q3", "spread", "n"))
    for k, (q1, med, q3, sp, n) in stats(runs).items():
        print("%-28s %12.6g %12.6g %12.6g %8.3f %4d" % (k, q1, med, q3, sp, n))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seed", type=int, default=1)
    r.add_argument("--seconds", type=int, default=None, help="default: run_seconds of BENCHMARK.json")
    r.add_argument("--trace", type=int, default=0)
    r.add_argument("--out", required=True)
    s = sub.add_parser("stats")
    s.add_argument("runs")
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    a = ap.parse_args(argv)

    if a.cmd == "run":
        seconds = a.seconds or load_spec()["run_seconds"]
        code = run_set(a.workload, a.runs, a.seed, seconds, a.trace, a.out)
        print_stats([x for x in load_runs(a.out) if x["workload"] == a.workload])
        return code
    if a.cmd == "stats":
        print_stats(load_runs(a.runs))
        return 0
    rows = compare(load_runs(a.first), load_runs(a.second), load_spec())
    for name, verdict, detail in rows:
        print("%-14s %-10s %s" % (name, verdict, detail))
    return 0 if all(v == "ok" for _, v, _ in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
