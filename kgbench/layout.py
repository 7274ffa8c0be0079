"""File-level facts about the tables a pipeline run lands."""

from __future__ import annotations

import os

TABLES = ("extracted", "triples", "dependencies", "metrics", "entries")


def files(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every file below ``path``."""
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.relpath(os.path.join(d, n), path)] = (
                st.st_size, st.st_mtime_ns)
    return out


def tree_bytes(path: str) -> int:
    return sum(size for size, _ in files(path).values())


def data_files(path: str) -> list[str]:
    return [p for p in files(path) if p.endswith(".parquet")]


def partition_dirs(path: str) -> int:
    """Leaf directories holding parquet files."""
    return len({os.path.dirname(p) for p in data_files(path)})
