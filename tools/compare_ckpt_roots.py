"""Compare two checkpoint roots table by table.

    python tools/compare_ckpt_roots.py ROOT_A ROOT_B

Every table directory under either root (``_``-prefixed ones such as
``_metrics`` skipped) is read with hive partitioning, so a partition
column like lineage's ``op`` is part of each row.  Each table present
in both roots is compared as a multiset of rows over the union of its
columns; tables present on one side only are listed.  Prints one line
per table and exits 1 if any shared table differs.
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter

import pyarrow.dataset as pads


def tables(root: str) -> set[str]:
    return {
        name for name in os.listdir(root)
        if not name.startswith(("_", "."))
        and os.path.isdir(os.path.join(root, name))
    }


def _value(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _value(x)) for k, x in v.items()))
    return v


def rows(path: str, columns: list[str]) -> Counter:
    data = pads.dataset(path, format="parquet", partitioning="hive")
    have = set(data.schema.names)
    table = data.to_table(columns=[c for c in columns if c in have])
    return Counter(
        tuple(_value(r.get(c)) for c in columns) for r in table.to_pylist()
    )


def compare(root_a: str, root_b: str) -> bool:
    """Print the comparison; True when every shared table is equal."""
    a, b = tables(root_a), tables(root_b)
    same = True
    for name in sorted(a & b):
        pa_, pb = os.path.join(root_a, name), os.path.join(root_b, name)
        columns = sorted(
            set(pads.dataset(pa_, partitioning="hive").schema.names)
            | set(pads.dataset(pb, partitioning="hive").schema.names)
        )
        ra, rb = rows(pa_, columns), rows(pb, columns)
        if ra == rb:
            print(f"{name}: equal ({sum(ra.values())} rows)")
            continue
        same = False
        only_a, only_b = ra - rb, rb - ra
        example = repr(next(iter(only_a or only_b)))[:200]
        print(f"{name}: DIFFERENT ({sum(ra.values())} vs {sum(rb.values())}"
              f" rows; {sum(only_a.values())} only in A,"
              f" {sum(only_b.values())} only in B; e.g. {example})")
    for name in sorted(a - b):
        print(f"{name}: only in A")
    for name in sorted(b - a):
        print(f"{name}: only in B")
    return same


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(0 if compare(sys.argv[1], sys.argv[2]) else 1)
