"""Local stand-in for the driver's verify: runs entry() as a smoke
check, then each queries()[name] vs oracle_sql()[name] through DuckDB at
a given sf dir, comparing row count, column names, and an
order-insensitive value hash.

CRITICAL: this mirrors the DRIVER's comparison path, not the most
convenient one.  Two checker blind spots shipped red rows as "green"
in rounds 2-3 (VERDICT r3 "What's wrong" #3), both because this tool
fetched results through a different code path than the driver:

- The driver pulls the DuckDB result through pandas (``rel.df()``),
  where an un-cast ``sum()`` HUGEINT becomes float64 and hashes as
  '3549.0' vs Spark's '3549'.  ``fetchall()`` hid that by giving
  Python ints.  -> fetch via ``.df()`` on the DuckDB side and
  ``.toPandas()`` on the Spark side, and hash dtype-faithfully
  (int64 -> '3549', float64 -> '3549.0').
- The driver canonicalizes by sorting the pandas frame on EVERY
  column, which raises on list cells (``TypeError: unhashable type``).
  -> hard-fail here on ANY non-scalar cell so an array-typed output
  column can never pass locally.

NaN vs NULL: a float NaN hashes as the DISTINCT token 'NaN', not
'NULL'.  Both fetch paths render SQL NULL in a float64 column as NaN
(Spark ``toPandas()`` and DuckDB ``rel.df()`` alike), so inside float
columns the two are indistinguishable post-fetch on BOTH sides
symmetrically and the token choice cannot flip a verdict there; the
distinct token matters for object-typed columns, where a genuine NaN
value (e.g. 0.0/0.0 in a metric) must not silently hash equal to a
true None.  (The driver's own conflation behavior is unobservable
from this sandbox — this is the conservative reading: anything that
hashes green here hashes green there for all-scalar, NaN-free
outputs, which every oracle query in the registry is.)
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from graphgen_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# the driver verifies only the first N queries() entries
DRIVER_WINDOW = 50


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        if pd.isna(v):
            return "NaN"  # distinct from NULL — see module docstring
        # full-precision repr of the PANDAS dtype: float64(3549.0)
        # must NOT hash equal to int64(3549) — that exact divergence
        # (DuckDB HUGEINT -> pandas float64) was invisible for three
        # rounds because the old checker read ints via fetchall()
        return repr(float(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, dict, set, tuple, np.ndarray)):
        raise TypeError(
            f"non-scalar cell {type(v).__name__}: the driver's "
            "sort-on-all-columns canonicalization would raise on this "
            "column — emit array_join/explode instead"
        )
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def frame_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    lines = sorted(
        "\x1f".join(norm_cell(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def check_registry(qs: dict, oracles: dict) -> list[str]:
    """Structural gates on the registry itself (driver-window safety)."""
    problems = []
    names = list(qs)
    for o in oracles:
        if o not in qs:
            problems.append(f"oracle {o!r} has no queries() entry")
            continue
        if names.index(o) >= DRIVER_WINDOW:
            problems.append(
                f"oracle-backed query {o!r} sits at position "
                f"{names.index(o)} — beyond the driver's first "
                f"{DRIVER_WINDOW} entries, so it would go unchecked"
            )
    first_rows_only = next(
        (i for i, n in enumerate(names) if n not in oracles), len(names)
    )
    for i in range(first_rows_only, len(names)):
        if names[i] in oracles:
            problems.append(
                f"registry order: oracle-backed {names[i]!r} appears "
                "after a rows-only entry — keep oracle-backed first"
            )
    return problems


def main(sf_dir: str = "/root/testdata/sf0.01", only: str | None = None):
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []

    reg_problems = check_registry(qs, oracles)
    for p in reg_problems:
        print(f"  REGISTRY: {p}")
    if reg_problems:
        failures.append("registry")

    if only is None:
        t0 = time.time()
        df = entrymod.entry(spark)
        n = df.count()
        print(f"entry(): {n} rows, schema={df.columns} "
              f"[{time.time()-t0:.1f}s]")
        assert n >= 0

    wanted = set(only.split(",")) if only else None
    for name, fn in qs.items():
        if wanted and name not in wanted:
            continue
        t0 = time.time()
        try:
            spdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # mirror the driver: record, keep going
            print(f"  {name}: ERR {type(e).__name__}: {e}")
            failures.append(name)
            continue
        elapsed = time.time() - t0
        if name not in oracles:
            print(
                f"  {name}: rows-only, {len(spdf)} rows [{elapsed:.1f}s]"
            )
            continue
        dpdf = con.sql(oracles[name]).df()
        ok_cols = sorted(spdf.columns) == sorted(dpdf.columns)
        ok_count = len(spdf) == len(dpdf)
        try:
            sh = frame_hash(spdf)
            dh = frame_hash(dpdf)
        except TypeError as e:
            print(f"  {name}: ERR {e}")
            failures.append(name)
            continue
        ok_hash = sh == dh
        status = "OK" if (ok_cols and ok_count and ok_hash) else "FAIL"
        print(
            f"  {name}: {status} rows={len(spdf)}/{len(dpdf)} "
            f"cols_ok={ok_cols} hash_ok={ok_hash} [{elapsed:.1f}s]"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print(f"    spark cols: {sorted(spdf.columns)}")
                print(f"    duck  cols: {sorted(dpdf.columns)}")
            if ok_cols and not ok_hash and len(spdf) < 50:
                cols = sorted(spdf.columns)
                srows = sorted(
                    tuple(norm_cell(v) for v in row)
                    for row in spdf[cols].itertuples(index=False, name=None)
                )
                drows = sorted(
                    tuple(norm_cell(v) for v in row)
                    for row in dpdf[cols].itertuples(index=False, name=None)
                )
                diff = [
                    (a, b) for a, b in zip(srows, drows) if a != b
                ][:3]
                for a, b in diff:
                    print(f"    spark: {a}")
                    print(f"    duck : {b}")
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all checks passed")


if __name__ == "__main__":
    main(*sys.argv[1:])
