#!/usr/bin/env python3
"""Compare two `graft.Verify` dump directories row by row. Usage:

    python3 tools/dump_diff.py <parentDump> <changeDump> [rows]

`rows` is a comma-separated list of query names (default: every dump
directory in either side). Each row's parquet dump is read on both sides
and compared after `local_verify.canon` (columns sorted by name, rows
sorted by all columns, floats rounded to 6dp, inside array and struct
cells too). Prints one PASS/FAIL line per row and exits non-zero if any
row differs or is missing on a side.
"""
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from local_verify import canon  # noqa: E402


def rounded(v):
    """A nested cell value with every float rounded to 6dp, as `canon`
    rounds float columns (-0.0 and 0.0 print alike)."""
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, float):
        return round(v, 6) + 0.0
    if isinstance(v, (list, tuple)):
        return [rounded(x) for x in v]
    if isinstance(v, dict):
        return {k: rounded(x) for k, x in v.items()}
    return v


def hashable(df: pd.DataFrame) -> pd.DataFrame:
    """Array and struct cells become the string form of their rounded
    values, so `canon` can sort rows that carry them and a float inside
    one compares to 6dp like a float column."""
    df = df.copy()
    for c in df.columns:
        if df[c].dtype == object and df[c].map(
                lambda v: not isinstance(v, (str, bytes, type(None)))).any():
            df[c] = df[c].map(lambda v: None if v is None else repr(rounded(v)))
    return df


def compare(parent: str, change: str) -> str:
    """None when the two dumps are equal after canon, else the reason."""
    if not os.path.isdir(parent) or not os.path.isdir(change):
        return "missing on the %s side" % ("parent" if not os.path.isdir(parent) else "change")
    a, b = canon(hashable(pd.read_parquet(parent))), canon(hashable(pd.read_parquet(change)))
    if list(a.columns) != list(b.columns):
        return "columns %s != %s" % (list(a.columns), list(b.columns))
    if len(a) != len(b):
        return "rows %d != %d" % (len(a), len(b))
    if not a.equals(b):
        bad = ((a != b) & ~(a.isna() & b.isna())).any(axis=1)
        return "%d of %d rows differ; first: %s vs %s" % (
            bad.sum(), len(a), a[bad].head(1).to_dict("records"), b[bad].head(1).to_dict("records"))
    return None


def main(parent_dir: str, change_dir: str, rows: str = None) -> int:
    if rows:
        names = [n for n in rows.split(",") if n]
    else:
        names = sorted({n for d in (parent_dir, change_dir) for n in os.listdir(d)
                        if os.path.isdir(os.path.join(d, n))})
    n_fail = 0
    for name in names:
        why = compare(os.path.join(parent_dir, name), os.path.join(change_dir, name))
        if why is None:
            print(f"  [PASS] {name}")
        else:
            print(f"  [FAIL] {name}: {why}")
            n_fail += 1
    print(f"== {len(names) - n_fail} identical, {n_fail} differ ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    sys.exit(main(*sys.argv[1:]))
