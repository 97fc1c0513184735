#!/usr/bin/env python3
"""Re-pin the query fingerprints in perfbench/expected/queries.tsv.

    python3 perfbench/pin.py

Runs each query of the llm_kernels workload once on the generated tables,
cross-checks each result against the query's DuckDB oracle SQL (Registry.oracleSql) over the same tables, and writes the
fingerprint (row count and order-independent row hash) of every query.
Where a query's result does not match its oracle, the oracle's result is
fingerprinted instead (cast to the query's result schema) and pinned, so
the query's op fails until the product is fixed (a query in the
known_mismatch role is not a timed op; each run reports it with the
settings); the mismatch is recorded as a comment in the pinned file and
printed. Needs python3 with duckdb
and pandas.
"""
import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(con, sql, result_dir):
    """None when the Spark result equals the oracle's, else a reason."""
    import pandas as pd
    s = pd.read_parquet(result_dir)
    d = con.sql(sql).df()
    s, d = s[sorted(s.columns)], d[sorted(d.columns)]
    if list(s.columns) != list(d.columns):
        return f"columns differ: spark={list(s.columns)} duckdb={list(d.columns)}"
    if len(s) != len(d):
        return f"row counts differ: spark={len(s)} duckdb={len(d)}"

    def norm(df):
        df = df.copy()
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(lambda v: None if v is None or (
                    isinstance(v, float) and math.isnan(v)) else str(v))
        return df.sort_values(by=list(df.columns), na_position="first") \
            .reset_index(drop=True)

    s, d = norm(s), norm(d)
    for c in s.columns:
        sv, dv = s[c], d[c]
        if sv.dtype.kind == "f" or dv.dtype.kind == "f":
            eq = (sv.isna() & dv.isna()) | ((sv - dv).abs() <= 1e-9 * (1 + dv.abs()))
        else:
            eq = (sv.isna() & dv.isna()) | (sv.astype(str) == dv.astype(str))
        if not eq.all():
            i = (~eq).idxmax()
            return f"column {c} row {i}: spark={sv[i]!r} duckdb={dv[i]!r}"
    return None


def run_jvm(cp, work, args, log):
    rc = run.run_jvm(run.jvm_cmd(cp, work, run.spark_props(run.cores(), work),
                                 [args[0], str(run.cores()), work] + args[1:]),
                     os.path.join(work, log), 3600)
    if rc != 0:
        sys.exit(f"{args[0]} JVM failed:\n" + run.tail(os.path.join(work, log)))


def read_tsv(path):
    with open(path) as fh:
        return {l.split("\t")[0]: l.rstrip("\n").split("\t") for l in fh if l.strip()}


def main():
    import duckdb
    cp = build.ensure_built()
    sf = run.DATA_SF["llm_kernels"]
    data = run.ensure_data(cp, sf)
    work = os.path.join(build.OUT, "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work + "/tmp")
    out = os.path.join(work, "results")
    run_jvm(cp, work, ["pin", data, out], "pin.log")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet/*.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    spark_fp = read_tsv(os.path.join(out, "fingerprints.tsv"))
    os.makedirs(os.path.join(out, "oracle"))
    verdicts, notes = {}, []
    for name in spark_fp:
        if name not in oracles:
            notes.append(f"{name} has no oracle SQL; pinned as computed")
            continue
        try:
            verdicts[name] = compare(con, oracles[name], os.path.join(out, name))
            con.sql(oracles[name]).write_parquet(os.path.join(out, "oracle", name))
        except Exception as e:  # an oracle that DuckDB cannot run
            verdicts.pop(name, None)
            notes.append(f"{name}: oracle failed ({type(e).__name__}: {e}); "
                         "pinned as computed")
    run_jvm(cp, work, ["oracle-fingerprints", out] + sorted(verdicts),
            "oracle-fingerprints.log")
    oracle_fp = read_tsv(os.path.join(out, "oracle_fingerprints.tsv"))
    lines = []
    for name, (_, role, rows, hsh) in sorted(spark_fp.items()):
        why = verdicts.get(name)
        if why:
            # The product is wrong here: pin the oracle's fingerprint, so
            # the op fails until the product is fixed.
            _, rows, hsh = oracle_fp[name]
            then = ("reported as a known mismatch" if role == "known_mismatch"
                    else "so its op fails")
            notes.append(f"{name} does not match its DuckDB oracle ({why}); "
                         f"pinned to the oracle's result, {then}")
        elif name in verdicts and oracle_fp[name][1:] != [rows, hsh]:
            notes.append(f"{name} matches its oracle within tolerance but "
                         "their fingerprints differ; pinned as computed")
        lines.append("\t".join((name, role, rows, hsh)))
    dest = os.path.join(HERE, "expected", "queries.tsv")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "w") as fh:
        fh.write(f"# Written by perfbench/pin.py on the generated tables at sf{sf}.\n"
                 "# name\tworkload\trows\thash. Each fingerprint is the query's "
                 "own result, checked against its DuckDB oracle, except:\n")
        for n in notes:
            fh.write(f"# {n}\n")
        for line in lines:
            fh.write(line + "\n")
    for n in notes:
        print(n)
    print(f"pinned {len(lines)} queries, {len(notes)} noted")


if __name__ == "__main__":
    main()
