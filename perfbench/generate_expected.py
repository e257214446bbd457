#!/usr/bin/env python3
"""Regenerates perfbench/expected/board.json: the row count and ordered
fingerprint of every registry query at the board's scale, each oracle
query's result cross-checked against its DuckDB SQL first.

    python3 perfbench/generate_expected.py

Run it from the root of a full checkout, on a commit whose answers are
trusted. It refuses to write the file if any oracle query disagrees.
"""
import glob
import json
import os
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd

import run

SCALE = "sf0.001"  # Board.Scale


def oracle_failures(data_dir, dump_dir):
    """{query: reason} for every oracle query whose Spark result differs
    from DuckDB's: same columns, same rows in the same order, exact values
    (the comparison tools/check_oracle.py makes)."""
    con = duckdb.connect()
    for p in glob.glob(f"{data_dir}/*.parquet"):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    with open(f"{dump_dir}/oracle_sql.json") as fh:
        oracle = json.load(fh)
    bad = {}
    for name, sql in sorted(oracle.items()):
        odf = con.execute(sql).df()
        sdf = pd.concat([pd.read_parquet(f) for f in
                         sorted(glob.glob(f"{dump_dir}/{name}/*.parquet"))],
                        ignore_index=True)
        if sorted(sdf.columns) != sorted(odf.columns):
            bad[name] = f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"
            continue
        if len(sdf) != len(odf):
            bad[name] = f"rows {len(sdf)} vs {len(odf)}"
            continue
        for c in sorted(odf.columns):
            a, b = sdf[c].to_numpy(), odf[c].to_numpy()
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                aa, bb = a.astype(float), b.astype(float)
                eq = (np.isnan(aa) & np.isnan(bb)) | (aa == bb)
            else:
                eq = (pd.Series(a).astype(str) == pd.Series(b).astype(str)).to_numpy()
            if not eq.all():
                bad[name] = f"column {c} differs in {int((~eq).sum())} rows"
                break
    return oracle, bad


def main():
    run.build(run.source_hash())
    scratch = os.path.join(run.WORK, "expected")
    dump = os.path.join(scratch, "dump")
    raw = os.path.join(scratch, "board.json")
    os.makedirs(dump, exist_ok=True)
    subprocess.run(run.java_cmd(scratch, [
        "--generate-expected", raw, "--dump", dump, "--data", run.DATA]),
        cwd=scratch, env=run.JAVA_ENV, check=True)
    oracle, bad = oracle_failures(os.path.join(run.DATA, SCALE), dump)
    for name, why in sorted(bad.items()):
        print(f"ORACLE MISMATCH {name}: {why}", file=sys.stderr)
    if bad:
        sys.exit(1)
    with open(raw) as fh:
        entries = json.load(fh)
    lines = []
    for name, e in entries.items():
        e["oracle"] = "pass" if name in oracle else "none"
        lines.append(f'  "{name}": ' + json.dumps(e))
    with open(run.EXPECTED, "w") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"{len(entries)} queries, {len(oracle)} oracle-checked -> {run.EXPECTED}")


if __name__ == "__main__":
    main()
