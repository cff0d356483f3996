#!/usr/bin/env python3
"""Interleaved A/B of a benchmark: a base ref against this checkout.

    python3 scripts/ab_bench.py --base main --workload region_lookup --seeds 201-210
    python3 scripts/ab_bench.py --base main --graft-bench --only format --cores 4 --pairs 10

perfbench mode (--workload):

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

graft.Bench mode (--graft-bench): runs

    SPARK_GRAFT_BENCH_ONLY=<--only> [SPARK_GRAFT_CPUS=<--cores>] sbt --batch "runMain graft.Bench"

in each tree for --pairs alternating pairs, the side that runs first swapping
every pair, so each side runs with the JVM options of its own build.sbt.
SPARK_GRAFT_SF_DIR, SPARK_GRAFT_BENCH_RUNS and SPARK_DRIVER_MEM pass through
from the caller's environment to both sides. `--only format` is the format
family of the change tree (scripts/format_family.py). Every run must exit 0
(graft.Bench exits 1 when a query throws). For each query run on both sides,
and for the sum of those queries' seconds, it prints each side's median over
the pairs and IQR / median, the change/base ratio of the medians and the
change's wins (pairs where the change is strictly faster). Each run's
per-query seconds also go to stderr as one JSON object, so an interrupted A/B
can still be read. --change-tree DIR replaces this checkout as the change
side, so two other trees can be compared.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

from format_family import format_family

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


def run_graft_bench(tree: Path, a, only: str) -> dict:
    out = Path(tempfile.mkstemp(prefix="ab-bench-", suffix=".json")[1])
    env = os.environ | {"SPARK_GRAFT_BENCH_ONLY": only, "BENCH_OUT": str(out)}
    if a.cores:
        env["SPARK_GRAFT_CPUS"] = str(a.cores)
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "runMain graft.Bench"], cwd=tree,
                           env=env, capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"{tree}: graft.Bench exited {p.returncode}\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}")
        return json.loads(out.read_text())["queries"]
    finally:
        out.unlink(missing_ok=True)


def graft_bench(a, base: Path):
    change = Path(a.change_tree).resolve() if a.change_tree else ROOT
    only = ",".join(format_family(change)) if a.only == "format" else a.only
    pairs = []
    for i in range(a.pairs):
        order = [("base", base), ("change", change)]
        if i % 2:
            order.reverse()
        pair = {"first": order[0][0]}
        for side, tree in order:
            pair[side] = run_graft_bench(tree, a, only)
            print(f"[ab] pair {i + 1} {side}: {sum(pair[side].values()):.2f} s over {len(pair[side])} queries "
                  f"{json.dumps(pair[side], sort_keys=True)}", file=sys.stderr, flush=True)
        pairs.append(pair)

    common = sorted(set(pairs[0]["base"]) & set(pairs[0]["change"]))
    for p in pairs:
        for side in ("base", "change"):
            p[side]["(sum)"] = sum(p[side][q] for q in common)
    n = len(pairs)
    settings = {k: os.environ.get(k, "default") for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_BENCH_RUNS",
                                                          "SPARK_GRAFT_SF_DIR")}
    if a.cores:
        settings["SPARK_GRAFT_CPUS"] = a.cores
    print(f"graft.Bench: {n} pairs, " + " ".join(f"{k}={v}" for k, v in settings.items()) +
          f", {len(common)} queries on both sides")
    only_one = sorted(set(pairs[0]["base"]) ^ set(pairs[0]["change"]))
    if only_one:
        print("run on one side only: " + ", ".join(only_one))
    print(f"{'query (seconds)':34s} {'base med':>9s} {'chg med':>9s} {'base IQR/med':>12s} {'chg IQR/med':>11s} "
          f"{'chg/base':>9s} {'wins':>6s}")
    for q in common + ["(sum)"]:
        b = [p["base"][q] for p in pairs]
        c = [p["change"][q] for p in pairs]
        bq, cq = quartiles(b), quartiles(c)
        wins = sum(cv < bv for bv, cv in zip(b, c))
        spread = (bq[2] - bq[0]) / bq[1] if bq[1] else 0.0
        cspread = (cq[2] - cq[0]) / cq[1] if cq[1] else 0.0
        ratio = cq[1] / bq[1] if bq[1] else float("nan")
        print(f"{q:34s} {bq[1]:9.3f} {cq[1]:9.3f} {spread:12.3f} {cspread:11.3f} {ratio:9.3f} {wins:>3d}/{n}")
    print("\nper pair (base -> change), sum of seconds:")
    for i, p in enumerate(pairs):
        print(f"  pair {i + 1} ({p['first']} first): {p['base']['(sum)']:.2f} -> {p['change']['(sum)']:.2f}")


def perfbench(a, base: Path):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    better = {m["name"]: m["better"] for m in spec["end_to_end"]} | {"failed_frac": "lower"}
    pairs = []
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


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base", help="git ref of the base side")
    ap.add_argument("--base-tree", help="existing checkout of the base side (instead of --base)")
    ap.add_argument("--workload", help="perfbench workload (perfbench mode)")
    ap.add_argument("--seeds", help="perfbench seeds, e.g. 201-210 or 1,5,9")
    ap.add_argument("--graft-bench", action="store_true", help="A/B graft.Bench instead of perfbench")
    ap.add_argument("--only", help="graft.Bench query subset: comma-separated names, or `format`")
    ap.add_argument("--cores", type=int, help="graft.Bench: sets SPARK_GRAFT_CPUS")
    ap.add_argument("--pairs", type=int, default=10, help="graft.Bench alternating pairs")
    ap.add_argument("--change-tree", help="checkout of the change side (default: this checkout)")
    a = ap.parse_args()
    if bool(a.base) == bool(a.base_tree):
        ap.error("give exactly one of --base and --base-tree")
    if a.graft_bench:
        if not a.only:
            ap.error("--graft-bench needs --only")
    elif not (a.workload and a.seeds):
        ap.error("perfbench mode needs --workload and --seeds")

    worktree = None
    if a.base_tree:
        base = Path(a.base_tree).resolve()
    else:
        worktree = Path(tempfile.mkdtemp(prefix="ab-base-")) / "tree"
        subprocess.run(["git", "worktree", "add", "--detach", str(worktree), a.base], cwd=ROOT, check=True,
                       stdout=sys.stderr)
        base = worktree
    try:
        (graft_bench if a.graft_bench else perfbench)(a, base)
    finally:
        if worktree is not None:
            subprocess.run(["git", "worktree", "remove", "--force", str(worktree)], cwd=ROOT, stdout=sys.stderr)
            shutil.rmtree(worktree.parent, ignore_errors=True)


if __name__ == "__main__":
    main()
