"""Upsert / merge without a transactional table format (SURVEY.md K3/K5).

Reference: functions.py:178-183 — ``INSERT INTO d_players ... ON CONFLICT
(id_from_json) DO UPDATE SET nickname = EXCLUDED.nickname``.

Vanilla parquet has no MERGE, so the idiomatic Spark decomposition is
``updates ∪ (current ▷ updates)`` — new rows win, untouched rows survive via
an anti-join. For persistence, :func:`upsert_parquet` writes to a temp dir
and swaps (atomic-enough for a single writer; a real deployment would use
Delta/Iceberg MERGE INTO — gated behind an import-try since those jars are
not in this image).

Scale notes: the updates side of a dimension upsert is typically small →
broadcast the anti-join; the full dimension is never shuffled.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def upsert_by_key(current: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Rows of ``updates`` replace same-key rows of ``current`` (K3).

    Equivalent to Postgres INSERT ... ON CONFLICT DO UPDATE: the update row
    wins on key collision, other rows are untouched.
    """
    kept = current.join(
        F.broadcast(updates.select(key)), on=key, how="left_anti"
    )
    return updates.unionByName(kept)


def _old_dir(path: str) -> str:
    return f"{path}.__old"


def recover_swap(path: str) -> None:
    """Make the table at ``path`` consistent after an unclean exit.

    The swap protocol below has exactly two non-atomic windows and both
    are repaired here, so callers (and the upsert/delete entry points)
    converge to a consistent table:

    * crash between ``rename(path, old)`` and ``rename(tmp, path)`` —
      ``path`` is missing but ``old`` holds the full pre-swap table:
      roll back by renaming it into place;
    * crash before ``rmtree(old)`` completed — ``path`` is the new table
      and ``old`` is stale: drop it.

    Orphaned ``path.__tmp_*`` write dirs are removed either way.
    """
    old = _old_dir(path)
    if os.path.exists(old):
        if os.path.exists(path):
            shutil.rmtree(old)  # swap completed, cleanup didn't
        else:
            os.rename(old, path)  # swap half-done: roll back
    parent, base = os.path.dirname(path) or ".", os.path.basename(path)
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            if name.startswith(f"{base}.__tmp_"):
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


def _swap_in(path: str, tmp: str) -> None:
    """Replace ``path`` with ``tmp`` without a window where the table is
    deleted but the replacement not yet in place (the old rmtree-then-
    rename lost the table on a crash in between — the reference's
    Postgres ``ON CONFLICT`` upsert is atomic, functions.py:178-183).
    Every crash point leaves a state :func:`recover_swap` repairs."""
    old = _old_dir(path)
    if os.path.exists(path):
        os.rename(path, old)  # atomic aside, data never unlinked
    os.rename(tmp, path)  # atomic publish
    if os.path.exists(old):
        shutil.rmtree(old)  # point of no return is already behind us


def write_swapped(df: DataFrame, path: str) -> None:
    """Replace the table at ``path`` with ``df``: write it next to the
    table, then publish it with :func:`_swap_in`. ``df`` may read
    ``path``; it is fully written before the swap."""
    tmp = f"{path}.__tmp_{uuid.uuid4().hex}"
    df.write.mode("overwrite").parquet(tmp)
    _swap_in(path, tmp)


def _check_columns(path: str, columns: list[str]) -> None:
    """Raise ValueError unless the parquet table at ``path`` has exactly
    ``columns`` (case-insensitive, as ``unionByName`` matches them).
    Reads one part file's footer with pyarrow: no Spark job."""
    import pyarrow.parquet as pq

    part = next(
        (f for f in sorted(os.listdir(path)) if f.endswith(".parquet")),
        None,
    )
    if part is None:
        return
    have = {c.lower() for c in pq.read_schema(os.path.join(path, part)).names}
    want = {c.lower() for c in columns}
    if have != want:
        raise ValueError(
            f"upsert columns differ from the table at {path}: "
            f"missing {sorted(have - want)}, extra {sorted(want - have)}"
        )


def upsert_parquet(
    spark: SparkSession, path: str, updates: DataFrame, key: str
) -> None:
    """Persisted upsert with write-temp-then-rename-aside swap (K3/K5).

    Parquet is immutable, so the merged table is materialized next to the
    target and swapped into place; the pre-swap table is renamed aside
    (never deleted) until the new one is published, so a crash at any
    point leaves either the old or the new table recoverable
    (:func:`recover_swap`, run automatically on entry). Single-writer
    only — concurrent writers need a transactional format (Delta MERGE
    INTO).

    The table must carry ``updates``' columns (ValueError otherwise,
    checked against one part file's footer on the driver); it is then
    read with ``updates``' schema: no footer inference job per upsert.
    """
    recover_swap(path)
    if os.path.exists(path):
        _check_columns(path, updates.columns)
        current = spark.read.schema(updates.schema).parquet(path)
        merged = upsert_by_key(current, updates, key)
    else:
        merged = updates
    write_swapped(merged, path)


def delete_by_key(current: DataFrame, keys: DataFrame, key: str) -> DataFrame:
    """Rows of ``current`` whose key appears in ``keys`` are removed.

    The GDPR/right-to-erasure primitive a training-data store needs next
    to upsert: one broadcast anti-join (the delete-key set is small
    relative to the corpus), the fact side never shuffles.
    """
    return current.join(F.broadcast(keys.select(key)), on=key, how="left_anti")


def delete_parquet(
    spark: SparkSession, path: str, keys: DataFrame, key: str
) -> None:
    """Persisted keyed delete with the same write-temp-then-swap contract
    as :func:`upsert_parquet` (single-writer; Delta/Iceberg DELETE at
    production scale)."""
    recover_swap(path)
    current = spark.read.parquet(path)
    write_swapped(delete_by_key(current, keys, key), path)
