#!/usr/bin/env python3
"""Self-test of the format-layer benchmark.

    python3 perfbench/selftest.py

Checks, through run.py itself:
  1. the same seed gives byte-identical BAM/VCF fixtures and identical
     expected results (row checksums, lookup counts) in two separate
     processes, and a different seed gives different ones;
  2. a planted wrong expected value (one count or checksum off) makes every
     workload report a failure: correct=false, failed >= 1, non-zero exit.
Prints one line per check and exits non-zero if any check fails. Takes a
few minutes (short runs, one set-up each).
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
ROOT = RUN.parent.parent


def run(*args):
    p = subprocess.run([sys.executable, str(RUN), "--seconds", "1", "--trace", "0", "--setups", "1", *args],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    return p.returncode, (json.loads(lines[-1]) if lines else None)


def main():
    ok = True

    def check(name, cond):
        nonlocal ok
        ok &= bool(cond)
        print(f"{'PASS' if cond else 'FAIL'}  {name}")

    with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build" if (ROOT / ".bench_build").is_dir() else None) as tmp:
        digests = {}
        for tag, wl, seed in [("a", "region_lookup", 11), ("b", "region_lookup", 11), ("c", "region_lookup", 12),
                              ("d", "write", 11), ("e", "write", 11), ("f", "write", 12)]:
            out = Path(tmp) / f"{tag}.digest"
            code, res = run("--workload", wl, "--seed", str(seed), "--digest-out", str(out))
            check(f"{wl} seed {seed} runs clean", code == 0 and res and res["correct"])
            digests[tag] = out.read_text() if out.exists() else None
        check("same seed, same fixtures (region_lookup)", digests["a"] and digests["a"] == digests["b"])
        check("other seed, other fixtures (region_lookup)", digests["c"] and digests["a"] != digests["c"])
        check("same seed, same rows (write)", digests["d"] and digests["d"] == digests["e"])
        check("other seed, other rows (write)", digests["f"] and digests["d"] != digests["f"])

    for wl in ["scan", "region_lookup", "write"]:
        code, res = run("--workload", wl, "--seed", "13", "--plant-wrong")
        check(f"{wl}: planted wrong expectation is reported",
              code != 0 and res is not None and not res["correct"] and res["failed"] >= 1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
