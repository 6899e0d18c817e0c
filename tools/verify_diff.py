#!/usr/bin/env python3
"""Compare two `graft.Verify` output directories query by query.

Each query's parquet output must hold the same schema and the same rows in
the same order in both directories. Prints one line per differing query
(missing on one side, schema, row count, or first differing row) and a
summary line; exits 1 if any query differs, 0 otherwise.

    sbt 'runMain graft.Verify /root/testdata/sf0.01 /tmp/vout_a'   # build A
    sbt 'runMain graft.Verify /root/testdata/sf0.01 /tmp/vout_b'   # build B
    python3 tools/verify_diff.py /tmp/vout_a /tmp/vout_b
"""
import glob
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def queries(out_dir):
    return {os.path.basename(d) for d in glob.glob(f"{out_dir}/*") if os.path.isdir(d)}


def read(out_dir, name):
    files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
    if not files:
        return None
    return pa.concat_tables([pq.read_table(f) for f in files])


def norm(v):
    # NaN never equals itself; two NaNs in one cell are the same result
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def diff(a, b):
    """None when `a` and `b` hold the same schema and rows in order, else why not."""
    if a is None or b is None:
        return "no parquet output in " + ("A" if a is None else "B")
    if a.schema != b.schema:
        return f"schema {a.schema.to_string(show_schema_metadata=False)!r} vs " \
               f"{b.schema.to_string(show_schema_metadata=False)!r}"
    if a.num_rows != b.num_rows:
        return f"rows {a.num_rows} vs {b.num_rows}"
    for i, (ra, rb) in enumerate(zip(a.to_pylist(), b.to_pylist())):
        if norm(list(ra.values())) != norm(list(rb.values())):
            return f"row {i}: {ra} vs {rb}"
    return None


def main(dir_a, dir_b):
    qa, qb = queries(dir_a), queries(dir_b)
    bad = 0
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            why = f"only in {'A' if name in qa else 'B'}"
        else:
            why = diff(read(dir_a, name), read(dir_b, name))
        if why is not None:
            bad += 1
            print(f"DIFF {name}: {why}")
    print(f"{len(qa | qb) - bad} identical, {bad} differ")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
