#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

Usage: python3 tools/diff_dumps.py <verifyA> <verifyB>

Checks that both runs list the same queries.json (names and order), then
for every listed query that each side's dump (<dir>/<name>/*.parquet,
part files in name order) has the same schema (column names and Arrow
types, in order) and the same rows, in order, with exact values (NaN
equals NaN; -0.0 differs from 0.0). Prints every name that differs or is
missing on either side and exits 1 on any difference, 0 when the two
dumps are identical.

Dev-only tool, not part of the shipped library.
"""
import json
import math
import struct
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq


def load_names(out):
    qj = out / "queries.json"
    return json.loads(qj.read_text()) if qj.exists() else None


def load_dump(qdir):
    """The dump as one table, or None when the directory has no parquet."""
    parts = sorted(qdir.glob("*.parquet")) if qdir.is_dir() else []
    if not parts:
        return None
    return pa.concat_tables([pq.read_table(p) for p in parts])


def exact(v):
    """A value key under which equal means bit-identical (floats by bits)."""
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else struct.pack("<d", v))
    if isinstance(v, dict):
        return ("d", tuple((k, exact(x)) for k, x in v.items()))
    if isinstance(v, list):
        return ("l", tuple(exact(x) for x in v))
    return ("v", v)


def diff_query(a, b):
    """None when the two dumps match, else a one-line reason."""
    if a is None or b is None:
        side = "A" if a is None else "B"
        return f"no dump on side {side}"
    sa = [(f.name, str(f.type)) for f in a.schema]
    sb = [(f.name, str(f.type)) for f in b.schema]
    if sa != sb:
        return f"schema {sa} != {sb}"
    if a.num_rows != b.num_rows:
        return f"rows {a.num_rows} != {b.num_rows}"
    ra, rb = a.to_pylist(), b.to_pylist()
    for i, (x, y) in enumerate(zip(ra, rb)):
        if exact(x) != exact(y):
            return f"row {i}: {x} != {y}"
    return None


def main(dir_a, dir_b):
    a, b = Path(dir_a), Path(dir_b)
    names_a, names_b = load_names(a), load_names(b)
    bad = 0
    if names_a is None or names_b is None:
        print(f"[diff] queries.json missing in {a if names_a is None else b}")
        return 1
    if names_a != names_b:
        bad += 1
        only_a = [n for n in names_a if n not in set(names_b)]
        only_b = [n for n in names_b if n not in set(names_a)]
        print(f"[diff] queries.json differs: only in A {only_a}, only in B {only_b}"
              + ("" if only_a or only_b else " (same names, different order)"))
    names = list(dict.fromkeys(names_a + names_b))
    for name in names:
        why = diff_query(load_dump(a / name), load_dump(b / name))
        if why is not None:
            bad += 1
            print(f"[diff] {name}: {why}")
    print(f"[diff] {len(names)} queries compared, {bad} difference(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
