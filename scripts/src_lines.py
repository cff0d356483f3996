#!/usr/bin/env python3
"""Scala line counts of src/main and src/test: the working tree, and with
--base, a git ref and the delta against it.

A line is a newline character, as `cat *.scala | wc -l` counts it. The base
side reads the ref's blobs through `git cat-file --batch`, so it needs no
checkout.

    python3 scripts/src_lines.py                # working tree only
    python3 scripts/src_lines.py --base HEAD~1  # tree, base and delta
"""
import argparse
import os
import subprocess
import sys

ROOTS = ("src/main", "src/test")


def tree_counts(repo):
    counts = {}
    for root in ROOTS:
        total = 0
        for d, _, files in os.walk(os.path.join(repo, root)):
            for f in files:
                if f.endswith(".scala"):
                    with open(os.path.join(d, f), "rb") as fh:
                        total += fh.read().count(b"\n")
        counts[root] = total
    return counts


def ref_counts(repo, ref):
    names = subprocess.run(["git", "-C", repo, "ls-tree", "-r", "--name-only", ref, "--", *ROOTS],
                           check=True, capture_output=True, text=True).stdout.split("\n")
    names = [n for n in names if n.endswith(".scala")]
    batch = subprocess.run(["git", "-C", repo, "cat-file", "--batch"], check=True, capture_output=True,
                           input="".join(f"{ref}:{n}\n" for n in names).encode()).stdout
    counts = dict.fromkeys(ROOTS, 0)
    pos = 0
    for n in names:
        header_end = batch.index(b"\n", pos)
        size = int(batch[pos:header_end].split()[2])
        body = batch[header_end + 1:header_end + 1 + size]
        pos = header_end + 1 + size + 1  # the blob's trailing newline
        counts[next(r for r in ROOTS if n.startswith(r + "/"))] += body.count(b"\n")
    return counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", help="git ref to compare the working tree against")
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    args = ap.parse_args()
    tree = tree_counts(args.repo)
    if args.base is None:
        for root in ROOTS:
            print(f"{root}\t{tree[root]}")
        return 0
    base = ref_counts(args.repo, args.base)
    print(f"root\t{args.base}\ttree\tdelta")
    for root in ROOTS:
        print(f"{root}\t{base[root]}\t{tree[root]}\t{tree[root] - base[root]:+d}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
