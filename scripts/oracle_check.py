#!/usr/bin/env python3
"""Compare a `graft.Verify` output directory against the DuckDB oracles.

`graft.Verify <sf_dir> <out_dir>` writes one parquet directory per query
plus `<out_dir>/oracle_sql.json` (query name -> DuckDB SQL). This script
registers each `<sf_dir>/<table>.parquet` as a DuckDB view, runs every
oracle, reads the matching `<out_dir>/<name>/*.parquet`, and compares the
two as stringified tables: columns sorted by name, every value rendered as
text (floats exactly, as Python's shortest round-trip repr), rows sorted.

    python3 scripts/oracle_check.py <out_dir> <sf_dir> [q_a,q_b,...]

Prints one line per query: OK, MISSING (no Verify output), ORACLEERR,
COLMISMATCH, ROWCOUNT or VALUEMISMATCH. Exits 1 when any line is not OK.
"""
import argparse
import glob
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def cell(v):
    if v is None:
        return "None"
    if isinstance(v, float):
        if math.isnan(v):
            return "None"
        return repr(v)
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return cell(v.tolist())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{cell(v[k])}" for k in sorted(v)) + "}"
    try:
        if pd.isna(v):
            return "None"
    except (TypeError, ValueError):
        pass
    return str(v)


def table(df):
    cols = sorted(df.columns)
    rows = [tuple(cell(v) for v in r)
            for r in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("sf_dir")
    ap.add_argument("only", nargs="?", default="",
                    help="comma-separated query names (default: every oracle)")
    a = ap.parse_args()

    with open(os.path.join(a.out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    names = [n for n in a.only.split(",") if n] or sorted(oracles)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(a.sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    bad = 0
    for name in names:
        files = sorted(glob.glob(os.path.join(a.out_dir, name, "*.parquet")))
        if name not in oracles:
            status = "MISSING (no oracle)"
        elif not files:
            status = "MISSING"
        else:
            try:
                want = con.execute(oracles[name]).fetchdf()
            except Exception as e:  # the oracle itself failed
                status = f"ORACLEERR {e}"
            else:
                got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
                gc, gr = table(got)
                wc, wr = table(want)
                if gc != wc:
                    status = f"COLMISMATCH got={gc} want={wc}"
                elif len(gr) != len(wr):
                    status = f"ROWCOUNT got={len(gr)} want={len(wr)}"
                elif gr != wr:
                    i = next(i for i in range(len(gr)) if gr[i] != wr[i])
                    status = f"VALUEMISMATCH first at sorted row {i}: got={gr[i]} want={wr[i]}"
                else:
                    status = "OK"
        if status != "OK":
            bad += 1
        print(f"{name}: {status}")
    print(f"{len(names) - bad}/{len(names)} OK")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
