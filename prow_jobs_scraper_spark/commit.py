"""How a write becomes visible: the one commit protocol of every on-disk
writer (index build, segment compaction, ingest ticks, table rewrites).

The rule is the snapshot commit of the Iceberg tables this engine stands
in for, with no table-format jar: data files first, then one atomic
metadata write. Concretely:

- a Spark table write is committed when Spark's ``_SUCCESS`` marker is
  in place (:func:`done`). Whole-table writes are static overwrites
  (:func:`overwrite`), so Spark writes the marker itself;
- a partition-granular write (:func:`overwrite_partitions`) replaces only
  the partitions its frame holds. The dynamic overwrite mode is set on
  that one write, never on the session, so no later write of the caller
  changes meaning;
- a row append (:func:`append`) is committed when Spark moves its part
  file in: the index build's manifest rows and the ingest staging table;
- a JSON document (an index's ``meta.json``, a tick's ``segments.json``)
  is committed by :func:`write_json`: temp file, fsync, ``os.replace``.
  Readers see the old document or the new one, never a torn one. An
  index directory without ``meta.json`` is not an index: the build and
  the compaction write it last;
- a whole-directory replacement goes through a staging dir
  (:func:`staged`) and a swap via ``<path>.old`` (:func:`swap_dir`),
  which :func:`recover` finishes or rolls back after a crash;
- what a commit made unreachable (staging dirs, emptied partitions,
  folded segments) is deleted after it by :func:`remove`, which also
  withdraws an old ``meta.json`` before its index's tables are rewritten.

Every commit point of the package is a call into this module, so a
fault-injection test reaches each one by patching a function here.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame


def done(path: str) -> bool:
    """Is the table at ``path`` committed (Spark's ``_SUCCESS`` marker)?"""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _overwrite(df: DataFrame, path: str, cols: Sequence[str],
               mode: str) -> None:
    w = df.write.mode("overwrite").option("partitionOverwriteMode", mode)
    if cols:
        w = w.partitionBy(*cols)
    w.parquet(path)


def overwrite(df: DataFrame, path: str, cols: Sequence[str] = ()) -> None:
    """Replace the whole table at ``path`` (optionally partitioned by
    ``cols``); Spark marks it :func:`done`."""
    _overwrite(df, path, cols, "static")


def overwrite_partitions(df: DataFrame, path: str,
                         cols: Sequence[str]) -> None:
    """Replace only the ``cols`` partitions ``df`` holds; every other
    partition's files stay as they are. Each partition gets its old or
    its new files, never neither. No ``_SUCCESS`` is written."""
    _overwrite(df, path, cols, "dynamic")


def append(df: DataFrame, path: str) -> None:
    """Add ``df``'s rows to the table at ``path``."""
    df.write.mode("append").parquet(path)


def write_json(path: str, obj) -> None:
    """Atomically replace the JSON document at ``path`` with ``obj``."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


@contextmanager
def staged(path: str) -> Iterator[str]:
    """A fresh staging dir beside ``path``, removed on exit whatever
    happened. A crash leaves it behind, unread: every caller stages
    under a new name."""
    staging = f"{path}.staging-{uuid.uuid4().hex[:8]}"
    try:
        yield staging
    finally:
        remove(staging)


def swap_dir(staging: str, path: str) -> None:
    """Replace directory ``path`` by ``staging``: the live dir moves
    aside to ``path.old``, staging moves in, then ``.old`` is dropped.
    Live data is deleted only once its replacement is in place; a crash
    between the steps leaves a state :func:`recover` heals."""
    shutil.move(path, path + ".old")
    shutil.move(staging, path)
    shutil.rmtree(path + ".old")


def recover(path: str) -> bool:
    """Heal a table whose :func:`swap_dir` crashed mid-way.

    Two crash states exist:
    - ``path`` missing, ``path + ".old"`` present — the crash hit between
      the two moves; the data is intact under .old: restore it.
    - BOTH present — the swap completed but dropping .old didn't; the
      live table is authoritative: drop the stale .old (if it survived,
      a later swap's ``move(path, path + ".old")`` would nest the live
      table INSIDE it, wedging recovery).
    Returns True if a recovery ran."""
    if not os.path.exists(path) and os.path.exists(path + ".old"):
        shutil.move(path + ".old", path)
        return True
    if os.path.exists(path) and os.path.exists(path + ".old"):
        shutil.rmtree(path + ".old")
        return True
    return False


def remove(*paths: str) -> None:
    """Delete directories or files a commit made unreachable. A missing
    path is skipped; any other failure raises, since a half-deleted
    partition would bring back rows a rewrite dropped."""
    for p in paths:
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
