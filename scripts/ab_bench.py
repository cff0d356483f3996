#!/usr/bin/env python3
"""Interleaved A/B of the format-layer benchmark: a base ref against this checkout.

    python3 scripts/ab_bench.py --base main --workload region_lookup --seeds 201-210

Checks out the base ref as a detached `git worktree` in a temporary directory
(or uses --base-tree DIR, an existing checkout of it), then runs

    python3 perfbench/run.py --workload W --seed S --seconds R --trace 0

in both trees for every seed, alternating which tree goes first, with R the
run_seconds of BENCHMARK.json (the same on both sides). Every run must report
correct. Then, per end-to-end metric of BENCHMARK.json and for the share of
failed operations, it prints each side's median and quartiles, the base's
IQR / median (its run-to-run spread), the change/base ratio of the medians and
the change's win fraction (pairs where the change is strictly better, in the
metric's direction), followed by every pair's values.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds_of(spec: str):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run(tree: Path, workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{tree}: seed {seed} exited {p.returncode}\n{p.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res.get("correct"):
        sys.exit(f"{tree}: seed {seed} reported incorrect output")
    return {k: v["value"] for k, v in res["metrics"].items()} | {"failed_frac": res["failed"] / max(1, res["attempted"])}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base", help="git ref of the base side")
    ap.add_argument("--base-tree", help="existing checkout of the base side (instead of --base)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 201-210 or 1,5,9")
    a = ap.parse_args()
    if bool(a.base) == bool(a.base_tree):
        ap.error("give exactly one of --base and --base-tree")

    worktree = None
    if a.base_tree:
        base = Path(a.base_tree).resolve()
    else:
        worktree = Path(tempfile.mkdtemp(prefix="ab-base-")) / "tree"
        subprocess.run(["git", "worktree", "add", "--detach", str(worktree), a.base], cwd=ROOT, check=True,
                       stdout=sys.stderr)
        base = worktree
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"]} | {"failed_frac": "lower"}
    pairs = []
    try:
        for i, seed in enumerate(seeds_of(a.seeds)):
            order = [("base", base), ("change", ROOT)]
            if i % 2:
                order.reverse()
            pair = {"seed": seed, "first": order[0][0]}
            for side, tree in order:
                pair[side] = run(tree, a.workload, seed, spec["run_seconds"])
                print(f"[ab] seed {seed} {side}: " +
                      " ".join(f"{k}={pair[side][k]:.4g}" for k in better), file=sys.stderr, flush=True)
            pairs.append(pair)
    finally:
        if worktree is not None:
            subprocess.run(["git", "worktree", "remove", "--force", str(worktree)], cwd=ROOT, stdout=sys.stderr)
            shutil.rmtree(worktree.parent, ignore_errors=True)

    n = len(pairs)
    print(f"{a.workload}: {n} pairs, seeds {a.seeds}")
    print(f"{'metric':22s} {'base median [q1, q3]':>30s} {'change median [q1, q3]':>30s} "
          f"{'base IQR/med':>12s} {'chg/base':>9s} {'wins':>6s}")
    for m, direction in better.items():
        b = [p["base"][m] for p in pairs]
        c = [p["change"][m] for p in pairs]
        bq, cq = quartiles(b), quartiles(c)
        wins = sum((cv < bv) if direction == "lower" else (cv > bv) for bv, cv in zip(b, c))
        spread = (bq[2] - bq[0]) / bq[1] if bq[1] else 0.0
        ratio = cq[1] / bq[1] if bq[1] else float("nan")
        print(f"{m:22s} {bq[1]:12.4g} [{bq[0]:.4g}, {bq[2]:.4g}]".ljust(53) +
              f" {cq[1]:12.4g} [{cq[0]:.4g}, {cq[2]:.4g}]".ljust(31) +
              f" {spread:12.3f} {ratio:9.3f} {wins:>3d}/{n}")
    print("\nper pair (base -> change):")
    for p in pairs:
        print(f"  seed {p['seed']} ({p['first']} first): " +
              "  ".join(f"{m} {p['base'][m]:.4g}->{p['change'][m]:.4g}" for m in better))


if __name__ == "__main__":
    main()
