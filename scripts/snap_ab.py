#!/usr/bin/env python3
"""A/B of snapbench between a parent revision and the working tree.

Usage, from the repo root:
  python3 scripts/snap_ab.py --parent <git rev> --workload wide_parquet --seeds 701-710

Extracts the committed files of the parent revision (`git archive`) into
a temporary directory, removed at the end; unlike a `git worktree`, this
leaves nothing registered in the repository if the script is killed. For
each seed it runs `snapbench/run.py` once in each tree for BENCHMARK.json's
`run_seconds`, alternating which side runs first, so drift of the host over
the session falls on both sides alike. Then it prints, for every end-to-end
metric declared in BENCHMARK.json: each side's median [Q1, Q3], the change
of the median, the pairs the change won, and whether the gap of the medians
is larger than the parent's interquartile range, in the better direction.
A run that fails or reports `correct: false` is named and left out.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-", 1)
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run(tree, workload, seed, seconds):
    cmd = [sys.executable, "snapbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds)]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        return None, f"exit {p.returncode}, no result line"
    if not out.get("correct"):
        return None, f"incorrect: {out.get('failures') or out}"
    return {k: v["value"] for k, v in out["metrics"].items()}, None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True, choices=["wide_parquet", "deep_sqlite"])
    ap.add_argument("--seeds", required=True, help="A-B or a comma list")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]

    tmp = tempfile.mkdtemp(prefix="snap_ab-")
    parent = os.path.join(tmp, "parent")
    runs = {"parent": [], "change": []}
    try:
        os.mkdir(parent)
        archive = subprocess.Popen(["git", "archive", args.parent], cwd=ROOT,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", parent], stdin=archive.stdout, check=True)
        archive.stdout.close()
        if archive.wait():
            sys.exit(f"git archive {args.parent} failed")
        for i, seed in enumerate(seeds(args.seeds)):
            order = [("parent", parent), ("change", ROOT)]
            if i % 2:
                order.reverse()
            pair = {}
            for name, tree in order:
                m, err = run(tree, args.workload, seed, seconds)
                print(f"[snap_ab] seed {seed} {name}: " +
                      (err or f"snapshot_s {m.get('snapshot_s', float('nan')):.3f}"), file=sys.stderr)
                pair[name] = m
            for name in runs:
                runs[name].append((seed, pair[name]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    both = [(p, c) for (_, p), (_, c) in zip(runs["parent"], runs["change"]) if p and c]
    print(f"{args.workload}: {len(both)} complete pairs of {len(runs['parent'])}")
    rows = [("metric", "parent median [Q1, Q3]", "change median [Q1, Q3]", "delta", "won",
             "gap > parent IQR")]
    for spec in metrics:
        name, lower = spec["name"], spec["better"] == "lower"
        pairs = [(p[name], c[name]) for p, c in both if name in p and name in c]
        if not pairs:
            rows.append((name, "not reported", "", "", "", ""))
            continue
        pq1, pmed, pq3 = quartiles([p for p, _ in pairs])
        cq1, cmed, cq3 = quartiles([c for _, c in pairs])
        won = sum(1 for p, c in pairs if (c < p if lower else c > p))
        gap = (pmed - cmed) if lower else (cmed - pmed)
        delta = (cmed - pmed) / pmed if pmed else 0.0
        rows.append((name, f"{pmed:.4g} [{pq1:.4g}, {pq3:.4g}]", f"{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]",
                     f"{delta:+.1%}", f"{won}/{len(pairs)}", "yes" if gap > pq3 - pq1 else "no"))
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip())


if __name__ == "__main__":
    main()
