"""The registry corpus: a seed-permuted copy of the fixture tables.

`fixture/sf0.01` and `fixture/sf0.001` are byte copies of the fixture set
the query registry is gated on (TESTDATA.md: one snappy parquet file per
table, seed 42). They sit inside the benchmark so a run reads nothing
outside its checkout. Each pass gets its own copy, written afresh: every
table except `events` in a row order permuted by the seed, so a query
cannot lean on key order; `events` is an append-only log and stays in ts
order, which is how its streaming consumers read it.

The same seed gives byte-identical files; another seed permutes
differently. Single-threaded pyarrow, no Spark.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")


def tables(scale):
    """The fixture's table names at `scale` (e.g. "sf0.01"), sorted."""
    d = os.path.join(FIXTURE, scale)
    names = sorted(f[:-len(".parquet")] for f in os.listdir(d) if f.endswith(".parquet"))
    if not names:
        raise RuntimeError(f"no fixture tables under {d}")
    return names


def write_copy(scale, out_dir, seed):
    """Write the seed-permuted copy of fixture `scale` into `out_dir`;
    returns table name → rows."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for i, name in enumerate(tables(scale)):
        t = pq.read_table(os.path.join(FIXTURE, scale, f"{name}.parquet"))
        if name != "events" and t.num_rows > 1:
            rng = np.random.default_rng(np.random.SeedSequence([seed, i]))
            t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="snappy",
                       row_group_size=1 << 30)
        rows[name] = t.num_rows
    return rows


if __name__ == "__main__":
    import sys
    print(write_copy(sys.argv[1], sys.argv[2], int(sys.argv[3])))
