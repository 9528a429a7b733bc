#!/usr/bin/env python3
"""Record the golden output digests of the catalog workloads.

    python3 perfbench/record_goldens.py [--sf 0.01]

Runs every query of `relational` and `curation` twice on the generated
tables, dumps its output, and compares the dump
with the query's DuckDB oracle twin (`SparkEntry.oracleSql`): columns by
name, rows sorted, exact values, identical dtypes. Goldens are written only if every query that has
a twin matches it. A query whose digest differs between its two runs is
checked on its row count only; a query without a twin is recorded from
graft's own output and marked `"oracle": false`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def same(got, exp):
    """None if the two frames hold the same typed rows, else why not."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"{len(got)} rows vs {len(exp)}"
    bad = [c for c in got.columns if got[c].dtype != exp[c].dtype]
    if bad:
        return "dtypes differ: " + ", ".join(f"{c} {got[c].dtype}/{exp[c].dtype}" for c in bad)
    g = got.sort_values(list(got.columns)).reset_index(drop=True)
    e = exp.sort_values(list(exp.columns)).reset_index(drop=True)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if gv.dtype.kind == "f":
            eq = (gv.isna() & ev.isna()) | (gv == ev)
        else:
            eq = (gv.isna() & ev.isna()) | (gv.astype(object) == ev.astype(object))
        if not eq.all():
            return f"values differ in column {c}"
    return None


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--sf", default="0.01", choices=("0.01", "0.001"))
    sf = p.parse_args().sf
    cp = run.build()
    sf_dir, hashes = run.catalog_data(sf)
    dumps = os.path.join(run.WORK, "dumps")
    shutil.rmtree(dumps, ignore_errors=True)
    os.makedirs(dumps)
    recorded = {}
    for w in ("relational", "curation"):
        out = os.path.join(dumps, f"{w}.json")
        cmd = ["java", *run.ADD_OPENS, f"-Xmx{run.XMX}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={dumps}", "-cp", cp, "perfbench.Main",
               "--mode", "record", "--workload", w, "--cores", str(run.nproc()),
               "--work", dumps, "--sf-dir", sf_dir, "--dumps", dumps, "--out", out]
        with open(os.path.join(dumps, f"{w}.log"), "w") as log:
            subprocess.run(cmd, cwd=run.ROOT, stdout=log, stderr=log, check=True)
        with open(out) as f:
            recorded.update(json.load(f)["queries"])
    with open(os.path.join(dumps, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    problems = []
    for name, g in sorted(recorded.items()):
        got = con.execute(f"SELECT * FROM read_parquet('{dumps}/{name}/*.parquet')").df()
        g["oracle"] = name in oracle
        why = same(got, con.execute(oracle[name]).df()) if g["oracle"] else None
        print(f"{name:32s} {g['rows']:7d} rows  oracle={'yes' if g['oracle'] else 'no '}"
              f"  stable={g['stable']}  {why or 'ok'}")
        if why:
            problems.append(name)
    if problems:
        sys.exit(f"not recorded: {len(problems)} queries differ from their oracle: {problems}")
    path = run.golden_path(sf)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"sf": sf, "data_seed": run.DATA_SEED, "data": hashes,
                   "queries": recorded}, f, indent=1, sort_keys=True)
    shutil.rmtree(dumps, ignore_errors=True)
    print(f"wrote {os.path.relpath(path, run.ROOT)}")


if __name__ == "__main__":
    main()
