"""File-level view of a ``ParquetIncrementalSink`` root: what a load
wrote, and what the tables' current snapshots hold.

The sink keeps ``<root>/<table>/_version.json`` pointing at an
immutable ``v{N}`` snapshot; untouched partitions of a new snapshot are
hard links to the previous one.  So "written by a run" means a data
file whose inode did not exist before the run.
"""

from __future__ import annotations

import json
import os


def _data_files(top: str):
    for d, _, files in os.walk(top):
        for f in files:
            if f.endswith(".parquet"):
                yield os.path.join(d, f)


def inodes(root: str) -> set[int]:
    return {os.stat(p).st_ino for p in _data_files(root)} if os.path.isdir(root) else set()


def snapshot_dir(root: str, table: str) -> str | None:
    pointer = os.path.join(root, table, "_version.json")
    if not os.path.exists(pointer):
        return None
    with open(pointer) as f:
        return os.path.join(root, table, f"v{int(json.load(f)['version']):06d}")


def tables(root: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    return sorted(t for t in os.listdir(root) if snapshot_dir(root, t) is not None)


def written_since(root: str, before: set[int]) -> dict:
    """Data files under ``root`` that are new since ``before`` (inodes):
    count, bytes, rows (parquet footers) and leaf partition dirs."""
    import pyarrow.parquet as pq

    files = [p for p in _data_files(root) if os.stat(p).st_ino not in before]
    return {
        "files": len(files),
        "bytes": sum(os.path.getsize(p) for p in files),
        "rows": sum(pq.ParquetFile(p).metadata.num_rows for p in files),
        "partitions": len({os.path.dirname(p) for p in files}),
    }


def current_files(root: str) -> int:
    """Data files in the current snapshots of every table."""
    return sum(len(list(_data_files(snapshot_dir(root, t)))) for t in tables(root))
