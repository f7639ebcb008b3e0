#!/usr/bin/env python3
"""Compare two sets of benchmark runs, metric by metric.

Collect alternating pairs from two checkouts (same seed within a pair,
the side that runs first alternates):

    python3 perfbench/compare.py collect PARENT_CHECKOUT CHANGE_CHECKOUT \\
        --workload linkage_stays --pairs 10 --seconds 15 --out /some/dir

Report (each side is a `.jsonl` written by `collect`, or a results
directory `.bench_build/perfbench/results` of `run.py`):

    python3 perfbench/compare.py report PARENT CHANGE

For each workload and end-to-end metric of BENCHMARK.json the report
prints each side's quartiles and median and one verdict:
  improved    the change wins at least 9 in 10 of at least ten pairs
              (ties count for neither) and the medians differ by more
              than the parent's interquartile range;
  regressed   the change's median is worse than the parent's by more
              than the bound;
  unresolved  either side's interquartile range, as a share of its
              median, exceeds the metric's bound, and not every change
              run reads better than every parent run;
  unchanged   otherwise.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    """Runs (workload, seed, metric values) in the order they were made."""
    runs = []
    if os.path.isdir(path):
        for f in glob.glob(os.path.join(path, "*.json")):
            with open(f) as fh:
                r = json.load(fh)
            if r.get("trace") == 0:
                runs.append((r["started_at"], r["workload"], r["seed"],
                             {k: m["value"] for k, m in r["metrics"].items()}))
    else:
        with open(path) as fh:
            for i, line in enumerate(fh):
                r = json.loads(line)
                runs.append((i, r["workload"], r["seed"],
                             {k: m["value"] for k, m in r["metrics"].items()}))
    runs.sort(key=lambda r: r[0])
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(a, b, bound, lower_better):
    """`a` parent values, `b` change values, paired by position."""
    def better(x, y):
        return x < y if lower_better else x > y

    qa, qb = quartiles(a), quartiles(b)
    pairs = list(zip(a, b))
    wins = sum(better(y, x) for x, y in pairs)
    gap = qb[1] - qa[1]
    worse = (gap if lower_better else -gap) / qa[1] if qa[1] else 0.0
    spread = max((qa[2] - qa[0]) / qa[1] if qa[1] else 0.0,
                 (qb[2] - qb[0]) / qb[1] if qb[1] else 0.0)
    all_better = all(better(y, x) for x in a for y in b)
    if len(pairs) >= 10 and wins >= 0.9 * len(pairs) and abs(gap) > qa[2] - qa[0] \
            and worse < 0:
        v = "improved"
    elif worse > bound:
        v = "regressed"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return qa, qb, wins, len(pairs), v


def report(parent, change):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    pa, ch = load(parent), load(change)
    worst = 0
    print(f"{'workload':18s} {'metric':24s} {'unit':6s} {'parent q1/med/q3':>32s} "
          f"{'change q1/med/q3':>32s} {'wins':>6s}  verdict")
    for w in [x["name"] for x in bench["workloads"]]:
        ra = [r for r in pa if r[1] == w]
        rb = [r for r in ch if r[1] == w]
        if not ra or not rb:
            continue
        for m in bench["end_to_end"]:
            a = [r[3][m["name"]] for r in ra if m["name"] in r[3]]
            b = [r[3][m["name"]] for r in rb if m["name"] in r[3]]
            if not a or not b:
                continue
            qa, qb, wins, n, v = verdict(a, b, m["bound"], m["better"] == "lower")
            worst = max(worst, {"regressed": 2, "unresolved": 1}.get(v, 0))
            fmt = "{:.4g}/{:.4g}/{:.4g}"
            print(f"{w:18s} {m['name']:24s} {m['unit']:6s} {fmt.format(*qa):>32s} "
                  f"{fmt.format(*qb):>32s} {wins:>3d}/{n:<2d}  {v}")
    return worst


def collect(parent, change, workload, pairs, seconds, out, seed0):
    os.makedirs(out, exist_ok=True)
    trees = {"parent": parent, "change": change}
    for i in range(pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                                "--seed", str(seed0 + i), "--seconds", str(seconds),
                                "--trace", "0"], cwd=trees[side], capture_output=True,
                               text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stderr[-3000:])
                raise SystemExit(f"{side} run failed (pair {i})")
            line = json.loads(r.stdout.strip().splitlines()[-1])
            line.update({"workload": workload, "seed": seed0 + i, "pair": i})
            with open(os.path.join(out, f"{side}.jsonl"), "a") as f:
                f.write(json.dumps(line) + "\n")
            print(f"pair {i} {side}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("parent")
    c.add_argument("change")
    c.add_argument("--workload", required=True)
    c.add_argument("--pairs", type=int, default=10)
    c.add_argument("--seconds", type=int, required=True)
    c.add_argument("--seed", type=int, default=1)
    c.add_argument("--out", required=True)
    r = sub.add_parser("report")
    r.add_argument("parent")
    r.add_argument("change")
    args = ap.parse_args()
    if args.cmd == "collect":
        collect(args.parent, args.change, args.workload, args.pairs, args.seconds, args.out,
                args.seed)
    else:
        sys.exit(report(args.parent, args.change))


if __name__ == "__main__":
    main()
