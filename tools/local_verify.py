#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: load each Verify
parquet output, run the oracle SQL in DuckDB over the same tables, compare
rows (sorted columns by name, sorted rows). Exits 1 when any query does
not PASS, 0 otherwise."""
import sys, json, glob, math, os
import duckdb, pandas as pd

sfdir = sys.argv[1] if len(sys.argv) > 1 else '/root/testdata/sf0.01'
outdir = sys.argv[2] if len(sys.argv) > 2 else '/tmp/graft_verify'

con = duckdb.connect()
for t in ['region','nation','customer','supplier','part','orders','lineitem',
          'events','documents','embeddings']:
    src = f'{sfdir}/{t}.parquet'
    if os.path.isdir(src):  # Spark-written table: a directory of part files
        src = f'{src}/*.parquet'
    if t == 'events':
        # A Spark-rewritten events table stores ts as BIGINT nanos (Spark
        # timestamps cap at µs). Rebuild a µs timestamp so the epoch_ns/
        # epoch oracle SQL sees the same µs-truncated instants Spark's
        # readEvents produces (`ts div 1000`) on the same file.
        typ = con.sql(f"SELECT typeof(ts) FROM '{src}' LIMIT 1").fetchone()[0]
        if typ == 'BIGINT':
            con.sql(f"CREATE VIEW {t} AS SELECT * REPLACE "
                    f"(make_timestamp(ts // 1000) AS ts) FROM '{src}'")
            continue
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

oracles = json.load(open(f'{outdir}/oracle_sql.json'))
results = {}
for name in sorted(oracles):
    sql = oracles[name]
    try:
        spark_df = pd.read_parquet(f'{outdir}/{name}')
    except Exception as e:
        results[name] = f'SPARK-READ-FAIL {e}'; continue
    try:
        duck_df = con.sql(sql).df()
    except Exception as e:
        results[name] = f'ORACLE-FAIL {type(e).__name__} {e}'; continue
    if list(duck_df.columns) == ['__graft_oracle_failed']:
        # the dump could not build this query's oracle (Registry.oracleSqlFor)
        results[name] = f'ORACLE-FAILED {duck_df.iloc[0, 0]}'; continue
    s = spark_df[sorted(spark_df.columns)]
    d = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(d.columns):
        results[name] = f'SCHEMA-MISMATCH spark={list(s.columns)} duck={list(d.columns)}'; continue
    if len(s) != len(d):
        results[name] = f'ROWS-MISMATCH spark={len(s)} duck={len(d)}'; continue
    def norm(df):
        df = df.copy()
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
        return df.sort_values(by=list(df.columns), na_position='first').reset_index(drop=True)
    s, d = norm(s), norm(d)
    mismatch = None
    for c in s.columns:
        sv, dv = s[c], d[c]
        try:
            if sv.dtype.kind == 'f' or dv.dtype.kind == 'f':
                eq = ((sv.isna() & dv.isna()) | (sv == dv))
            else:
                eq = (sv.isna() & dv.isna()) | (sv.astype(str) == dv.astype(str))
            if not eq.all():
                i = (~eq).idxmax()
                mismatch = f'VALUE-MISMATCH col={c} row={i} spark={sv[i]!r} duck={dv[i]!r}'
                break
        except Exception as e:
            mismatch = f'COMPARE-FAIL col={c} {e}'; break
    results[name] = mismatch or 'OK'

nok = sum(1 for v in results.values() if v == 'OK')
for k, v in results.items():
    print(('PASS ' if v=='OK' else 'FAIL ') + k + ('' if v=='OK' else '  ' + v))
print(f'== {nok}/{len(results)} oracled queries pass')
sys.exit(0 if nok == len(results) else 1)
