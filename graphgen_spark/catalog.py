"""Snapshot commits: Iceberg's core commit model, emulated on parquet.

Every write is a new immutable snapshot; a snapshot's manifest lists
the data directories that comprise it (append = parent manifest + one
new dir, overwrite = one new dir); the table's current version is a
single pointer file swapped with an atomic ``os.replace``.  Readers see
the old or the new snapshot, never a partial write; time travel and
rollback are metadata-only.  Single-writer per table (the Iceberg
optimistic-retry loop needs a CAS the local FS doesn't give us —
documented boundary).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def _meta_dir(location: str, name: str) -> str:
    return os.path.join(location, name, "metadata")


def _hint_path(location: str, name: str) -> str:
    return os.path.join(_meta_dir(location, name), "VERSION_HINT")


def current_snapshot_id(location: str, name: str) -> int | None:
    try:
        with open(_hint_path(location, name), encoding="utf-8") as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _load_meta(location: str, name: str, snapshot_id: int) -> dict:
    p = os.path.join(
        _meta_dir(location, name), f"v{snapshot_id:05d}.json"
    )
    with open(p, encoding="utf-8") as f:
        return json.load(f)


def snapshot_write(
    spark: SparkSession,
    df: DataFrame,
    location: str,
    name: str,
    mode: str = "append",
) -> int:
    """Commit ``df`` as a new snapshot of table ``name``; returns the
    new snapshot id.  ``mode='append'`` adds the rows to the current
    snapshot's data; ``mode='overwrite'`` replaces it.  Data lands
    first, the manifest second, and the VERSION_HINT pointer is
    swapped last (atomic ``os.replace``)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"snapshot mode must be append|overwrite: {mode}")
    parent = current_snapshot_id(location, name)
    # allocate past every EXISTING version, not parent+1: after a
    # rollback the parent is old but later snapshot files still exist
    # (time-travel-readable) and must never be overwritten
    # parse the FULL stem: a fixed fn[1:6] slice reads 'v100000.json'
    # as 10000 and the next allocation collides with (and overwrites)
    # an existing snapshot's metadata past id 99999
    existing = [
        int(fn[1:-5])
        for fn in (
            os.listdir(_meta_dir(location, name))
            if os.path.isdir(_meta_dir(location, name))
            else []
        )
        if fn.startswith("v") and fn.endswith(".json")
        and fn[1:-5].isdigit()
    ]
    snap_id = max(existing, default=0) + 1
    data_rel = os.path.join("snapshots", f"snap-{snap_id:05d}")
    data_path = os.path.join(location, name, data_rel)

    df.write.mode("overwrite").parquet(data_path)

    if mode == "append" and parent is not None:
        parent_meta = _load_meta(location, name, parent)
        data_dirs = parent_meta["data_dirs"] + [data_rel]
    else:
        data_dirs = [data_rel]

    meta = {
        "snapshot_id": snap_id,
        "parent_id": parent,
        "operation": mode,
        "data_dirs": data_dirs,
        "schema": df.schema.jsonValue(),
    }
    os.makedirs(_meta_dir(location, name), exist_ok=True)
    meta_path = os.path.join(
        _meta_dir(location, name), f"v{snap_id:05d}.json"
    )
    tmp = meta_path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(meta, f, sort_keys=True)
    os.replace(tmp, meta_path)

    hint_tmp = _hint_path(location, name) + ".tmp"
    with open(hint_tmp, "w", encoding="utf-8") as f:
        f.write(str(snap_id))
    os.replace(hint_tmp, _hint_path(location, name))
    return snap_id


def snapshot_read(
    spark: SparkSession,
    location: str,
    name: str,
    snapshot_id: int | None = None,
) -> DataFrame:
    """Read the table as of ``snapshot_id`` (time travel) or the
    current snapshot."""
    sid = (
        snapshot_id
        if snapshot_id is not None
        else current_snapshot_id(location, name)
    )
    if sid is None:
        raise FileNotFoundError(
            f"no committed snapshot for table {name} at {location}"
        )
    meta = _load_meta(location, name, sid)
    paths = [
        os.path.join(location, name, rel) for rel in meta["data_dirs"]
    ]
    # one read per snapshot dir + union by name: appended snapshots
    # may differ in columns, and a union of a handful of them is
    # plan-cheap
    from functools import reduce

    dfs = [spark.read.parquet(p) for p in paths]
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
    )


def snapshot_rollback(location: str, name: str, snapshot_id: int) -> None:
    """Metadata-only rollback: point the table at an earlier snapshot
    (later snapshots stay on disk and remain time-travel-readable)."""
    _load_meta(location, name, snapshot_id)  # must exist
    hint_tmp = _hint_path(location, name) + ".tmp"
    with open(hint_tmp, "w", encoding="utf-8") as f:
        f.write(str(snapshot_id))
    os.replace(hint_tmp, _hint_path(location, name))
