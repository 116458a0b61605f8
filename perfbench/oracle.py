"""Output checks for the registry workloads: every timed query's result is
compared with its `oracleSql` run in DuckDB over the same corpus files.

The comparison is the repo's own correctness gate, `tools/check.py`: its
`canon` (columns sorted by name, rows sorted over all columns) and
`cell_eq` (exact cell equality, NaN == NaN) are loaded from that file
unchanged, and the same column / row-count / dtype checks run first.
"""
import ast
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq



def gate_helpers(root):
    """`canon` and `cell_eq` exactly as tools/check.py defines them."""
    path = os.path.join(root, "tools", "check.py")
    with open(path) as f:
        tree = ast.parse(f.read())
    fns = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name in ("canon", "cell_eq")]
    if len(fns) != 2:
        raise RuntimeError(f"canon/cell_eq not found in {path}")
    ns = {"np": np, "pd": pd}
    exec(compile(ast.Module(body=fns, type_ignores=[]), path, "exec"), ns)
    return ns["canon"], ns["cell_eq"]


def compare(s_df, d_df, canon, cell_eq):
    """'' when equal, else the reason (the check.py sequence of tests)."""
    if sorted(s_df.columns) != sorted(d_df.columns):
        return f"columns spark={sorted(s_df.columns)} duck={sorted(d_df.columns)}"
    if len(s_df) != len(d_df):
        return f"rows spark={len(s_df)} duck={len(d_df)}"
    try:
        s_df, d_df = canon(s_df), canon(d_df)
    except Exception as e:
        return f"unsortable rows: {type(e).__name__}: {e}"
    bad = [c for c in s_df.columns if s_df[c].dtype != d_df[c].dtype]
    if bad:
        return "dtype mismatch " + str({c: (str(s_df[c].dtype), str(d_df[c].dtype)) for c in bad})
    for i, (sr, dr) in enumerate(zip(s_df.itertuples(index=False, name=None),
                                     d_df.itertuples(index=False, name=None))):
        if not all(cell_eq(a, b) for a, b in zip(sr, dr)):
            return f"row {i} differs: spark={sr} duck={dr}"
    return ""


def check_registry(raw, root, corpus_dir, tables):
    """{(pass, query): reason} for every successful op whose output is wrong."""
    canon, cell_eq = gate_helpers(root)
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(os.path.dirname(corpus_dir), 'duckdb_tmp')}'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    expected, bad = {}, {}
    for op in raw["ops"]:
        if op["error"]:
            continue
        name = op["name"]
        if name not in expected:
            sql = raw["oracle"].get(name)
            try:
                expected[name] = con.execute(sql).df() if sql else "no oracleSql"
            except Exception as e:
                expected[name] = f"oracle sql error: {type(e).__name__}: {e}"
        exp = expected[name]
        if isinstance(exp, str):
            bad[(op["pass"], name)] = exp
            continue
        try:
            got = pq.read_table(os.path.join(raw["out_dir"], f"p{op['pass']}", name)).to_pandas()
        except Exception as e:
            bad[(op["pass"], name)] = f"output unreadable: {e}"
            continue
        why = compare(got, exp, canon, cell_eq)
        if why:
            bad[(op["pass"], name)] = why
    con.close()
    return bad
