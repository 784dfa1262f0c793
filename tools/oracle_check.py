"""Exact compare of a graft.Verify dump against its expected side.

    python3 tools/oracle_check.py <outDir> <sfDir>
        DuckDB mode: registers each <sfDir>/<table>.parquet as a view,
        runs every SQL of <outDir>/oracle_sql.json and compares the rows
        (sorted by all columns) with <outDir>/<name>/*.parquet.

    python3 tools/oracle_check.py <outDir> <expectedDumpDir>
        dump-vs-dump mode (the second directory holds an oracle_sql.json):
        compares every query dumped in either directory, including the
        queries that have no DuckDB oracle. Float columns must match bit
        for bit and column types must agree.

Prints one line per query and ends with `FAILED: none` or the list.
"""
import glob
import json
import os
import sys

import duckdb
import numpy as np

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']


def read_dump(con, d):
    return con.sql(f"select * from read_parquet('{d}/*.parquet')").df()


def compare(name, got, exp, exact_bits):
    """None when equal, else a one-line reason (plus printed samples)."""
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f'SCHEMA MISMATCH {gc} vs {ec}'
    if exact_bits:
        gt = [str(got[c].dtype) for c in gc]
        et = [str(exp[c].dtype) for c in gc]
        if gt != et:
            return f'TYPE MISMATCH {dict(zip(gc, gt))} vs {dict(zip(gc, et))}'
    g = got[gc].sort_values(gc).reset_index(drop=True)
    e = exp[ec].sort_values(ec).reset_index(drop=True)
    if len(g) != len(e):
        return f'ROWS {len(g)} vs {len(e)}'
    for c in gc:
        a, b = g[c], e[c]
        if exact_bits and a.dtype.kind == 'f':
            bits = f'i{a.dtype.itemsize}'
            eq = a.values.view(bits) == b.values.view(bits)
        elif a.dtype.kind in 'fc' or b.dtype.kind in 'fc':
            eq = (a.astype(float).values == b.astype(float).values)
        else:
            eq = (a.astype(object).values == b.astype(object).values)
        if not np.asarray(eq).all():
            bad = (~np.asarray(eq)).nonzero()[0][:3]
            for i in bad:
                print('   got:', g.iloc[i].to_dict(), '\n   exp:', e.iloc[i].to_dict())
            return f'VALUE MISMATCH col={c} rows={bad.tolist()}'
    return None


def queries(d):
    return {n for n in os.listdir(d)
            if glob.glob(f'{d}/{n}/*.parquet')}


def main(outdir, other):
    con = duckdb.connect()
    dump_mode = os.path.exists(f'{other}/oracle_sql.json')
    if dump_mode:
        names = sorted(queries(outdir) | queries(other))
        expected = lambda n: read_dump(con, f'{other}/{n}')
    else:
        for t in TABLES:
            con.sql(f"create view {t} as select * from read_parquet('{other}/{t}.parquet')")
        oracle = json.load(open(f'{outdir}/oracle_sql.json'))
        names = sorted(oracle)
        expected = lambda n: con.sql(oracle[n]).df()
    fails = []
    for name in names:
        pq = f'{outdir}/{name}'
        if not glob.glob(f'{pq}/*.parquet'):
            print(f'{name}: MISSING spark output'); fails.append(name); continue
        try:
            got = read_dump(con, pq)
            exp = expected(name)
        except Exception as ex:
            kind = 'EXPECTED DUMP' if dump_mode else 'ORACLE'
            print(f'{name}: {kind} ERROR {ex}'); fails.append(name); continue
        why = compare(name, got, exp, exact_bits=dump_mode)
        if why is None:
            print(f'{name}: OK ({len(got)} rows)')
        else:
            print(f'{name}: {why}'); fails.append(name)
    print('FAILED:', fails if fails else 'none')
    return 1 if fails else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv[1], sys.argv[2]))
