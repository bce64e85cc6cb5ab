"""Output checks, read with DuckDB from the written parquet after the
timed passes, so checking adds no Spark job to a pass."""
from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb


@dataclass
class Check:
    name: str
    ok: bool
    detail: str


def _src(path: str) -> str:
    glob = os.path.join(path, "**", "*.parquet").replace("'", "''")
    return f"read_parquet('{glob}', hive_partitioning = false)"


def _query(sql: str) -> list[tuple]:
    with duckdb.connect() as con:
        return con.execute(sql).fetchall()


def rows(path: str) -> int:
    return _query(f"SELECT count(*) FROM {_src(path)}")[0][0]


def column(path: str, col: str) -> list:
    return [r[0] for r in _query(f'SELECT "{col}" FROM {_src(path)}')]


def checksum(path: str, cols: list[str]) -> int:
    """Order-insensitive checksum of ``cols`` over every row."""
    key = ", ".join(f'"{c}"' for c in cols)
    return int(_query(
        f"SELECT coalesce(sum(hash({key}) % 4294967291), 0) "
        f"FROM {_src(path)}")[0][0])


def labels_before_first_annotation(frames: str, annotations: str) -> int:
    """Frames that carry a label before their doc's first annotation."""
    return _query(f"""
        SELECT count(*) FROM {_src(frames)} f
        JOIN (SELECT doc_id, min(position) AS first
              FROM {_src(annotations)} GROUP BY doc_id) a USING (doc_id)
        WHERE f.position < a.first AND f.label IS NOT NULL""")[0][0]
