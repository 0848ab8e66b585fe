#!/usr/bin/env python3
"""Runs alternating parent/change pairs of the benchmark and compares them.

Usage, from the root of a checkout (the change side is this checkout as it
stands on disk, the parent side a `git archive` of PARENT):

    python3 tools/bench_pairs.py --parent HEAD --workload bulk --pairs 10 \
        --seed 9001 [--seconds 30] [--trace 0] [--workdir DIR] [--out FILE]

Pair i runs seed SEED + i on both sides; even pairs run the parent first,
odd pairs the change. Every run is `python3 perfbench/run.py --workload W
--seed S --seconds T --trace R` in its own tree, so both sides build and
run identical benchmark code only if PARENT's perfbench/ equals this
checkout's (the script warns when it does not). For each metric of
BENCHMARK.json (end-to-end, or per-layer with --trace 1) it prints each
side's median and quartiles, the pairs the change won and lost, and
whether the gain rule holds: the change wins at least nine tenths of the
pairs (ties count for neither) and the medians differ, in the better
direction, by more than the parent's quartile spread. It also prints each
run's exit code and failed-op count, and with --kinds the per-kind
medians (median over runs of each run's kind median). Nothing under
perfbench/ is changed; the parent tree lives in WORKDIR (a new temporary
directory by default, removed at the end unless --keep).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_once(tree, a, seed):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    result, info = None, None
    for line in p.stdout.splitlines():
        if line.startswith("info "):
            info = json.loads(line[len("info "):])
        elif line.startswith("{"):
            result = json.loads(line)
    return {"seed": seed, "exit": p.returncode, "result": result, "info": info,
            "stderr_tail": p.stderr.strip().splitlines()[-3:]}


def value(run, name):
    if run["result"] is None:
        return None
    m = run["result"]["metrics"].get(name)
    return None if m is None else m["value"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git revision of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--workdir", help="where to extract the parent (default: a new temp dir)")
    ap.add_argument("--keep", action="store_true", help="keep the extracted parent tree")
    ap.add_argument("--kinds", action="store_true", help="also print per-kind medians")
    ap.add_argument("--out", help="write every run's result and info JSON here")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "perfbench", "run.py")):
        sys.exit("bench_pairs: run from the root of a checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["per_layer" if a.trace else "end_to_end"]

    made = a.workdir is None
    work = tempfile.mkdtemp(prefix="bench_pairs_") if made else a.workdir
    parent = os.path.join(work, "parent")
    if os.path.exists(parent):
        shutil.rmtree(parent)
    os.makedirs(parent)
    archive = subprocess.run(["git", "archive", a.parent], cwd=root, capture_output=True, check=True)
    subprocess.run(["tar", "-x", "-C", parent], input=archive.stdout, check=True)
    diff = subprocess.run(["git", "diff", "--quiet", a.parent, "--", "perfbench"], cwd=root)
    if diff.returncode != 0:
        print(f"bench_pairs: WARNING perfbench/ differs from {a.parent}", file=sys.stderr)

    runs = {"parent": [], "change": []}
    try:
        for i in range(a.pairs):
            seed = a.seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                r = run_once(parent if side == "parent" else root, a, seed)
                runs[side].append(r)
                failed = r["result"]["failed"] if r["result"] else "-"
                print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: exit {r['exit']} failed {failed}",
                      file=sys.stderr, flush=True)
    finally:
        if made and not a.keep:
            shutil.rmtree(work, ignore_errors=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)

    print(f"workload {a.workload}, {a.pairs} pairs, seeds {a.seed}-{a.seed + a.pairs - 1}, "
          f"parent {a.parent}, trace {a.trace}")
    for side in ("parent", "change"):
        codes = [r["exit"] for r in runs[side]]
        fails = [r["result"]["failed"] if r["result"] else None for r in runs[side]]
        print(f"  {side}: exit codes {codes}, failed {fails}")
    print(f"{'metric':40s} {'parent median [q1, q3]':>30s} {'change median [q1, q3]':>30s} "
          f"{'wins':>5s} {'losses':>6s}  gain rule")
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        pairs = [(value(p, name), value(c, name)) for p, c in zip(runs["parent"], runs["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            print(f"{name:40s} (no complete pair)")
            continue
        wins = sum(1 for p, c in pairs if (c > p if higher else c < p))
        losses = sum(1 for p, c in pairs if (c < p if higher else c > p))
        pq1, pmed, pq3 = quartiles([p for p, _ in pairs])
        cq1, cmed, cq3 = quartiles([c for _, c in pairs])
        gain = (cmed - pmed) if higher else (pmed - cmed)
        holds = wins >= 0.9 * len(pairs) and gain > (pq3 - pq1)
        print(f"{name:40s} {f'{pmed:.4g} [{pq1:.4g}, {pq3:.4g}]':>30s} "
              f"{f'{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]':>30s} {wins:5d} {losses:6d}  "
              f"{'holds' if holds else 'does not hold'}")
    if a.kinds:
        print("per-kind medians (median over runs), parent -> change:")
        kinds = sorted({k for side in runs.values() for r in side if r["info"]
                        for k in r["info"].get("kind_median_ms", {})})
        for k in kinds:
            def med(side):
                xs = [r["info"]["kind_median_ms"][k] for r in runs[side]
                      if r["info"] and k in r["info"].get("kind_median_ms", {})]
                return statistics.median(xs) if xs else float("nan")
            print(f"  {k:40s} {med('parent'):10.1f} -> {med('change'):10.1f} ms")


if __name__ == "__main__":
    main()
