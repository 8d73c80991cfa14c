"""Tracked ``localCheckpoint`` handles with explicit release.

``DataFrame.localCheckpoint(eager=True)`` pins a full copy of the rows
in executor storage as RDD blocks. Those blocks are NOT covered by
``spark.catalog.clearCache()`` (which only drops SQL-cached plans), so
in a long session every fact-scale checkpoint — dense-id assignment
pins its sorted input, incremental MinHash pins the delta signatures —
stays resident until driver-side GC happens to collect the DataFrame.
That is precisely the storage-memory squeeze the round-7 composed
pipeline diagnosed for SQL caches, one layer down.

This module closes the blind spot: operators take their checkpoint via
:func:`tracked_local_checkpoint`, and a hygiene point (the registry's
``clear_cache_per_asset`` boundary, a test fixture, or a caller loop)
calls :func:`release_local_checkpoints` once the outputs are
materialized. Releasing is safe-by-loudness: a plan that still reads a
released checkpoint fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``
(lineage is truncated, so Spark cannot silently recompute a DIFFERENT
labeling — the failure mode id assignment requires), never a silent
wrong answer.

The parquet checkpoints that iterative operators write when the caller
gives no directory go to :func:`session_temp_dir`: a driver-local temp
dir that lives until the interpreter exits.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame

#: strong handles to live checkpointed DataFrames, in creation order
_LIVE: list[DataFrame] = []


def tracked_local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)`` whose pinned blocks are registered
    for a later :func:`release_local_checkpoints`."""
    ck = df.localCheckpoint(eager=eager)
    _LIVE.append(ck)
    return ck


def live_checkpoint_count() -> int:
    return len(_LIVE)


def release_checkpoint(ck: DataFrame) -> bool:
    """Release ONE tracked checkpoint's blocks immediately (for operators
    that can free a large intermediate before returning). Identity-based
    removal — ``DataFrame.__eq__`` builds a Column, so ``in``/``remove``
    would misbehave."""
    ok = False
    try:
        ck._jdf.queryExecution().analyzed().rdd().unpersist(False)
        ok = True
    except Exception:
        pass
    _LIVE[:] = [c for c in _LIVE if c is not ck]
    return ok


def release_local_checkpoints(blocking: bool = False) -> int:
    """Unpersist every tracked checkpoint's underlying RDD blocks and
    clear the registry; returns how many were released. Call only after
    all consumers of the checkpointed plans have materialized their
    outputs — later reads fail loudly (see module docstring). Handles
    from an already-stopped session are skipped. ``blocking=True`` waits
    for block eviction to finish — ``trbench`` uses it so cleanup
    cannot overlap the next stage's timed region."""
    released = 0
    for ck in _LIVE:
        try:
            # the checkpointed Dataset's analyzed plan is a LogicalRDD
            # over the persisted internal RDD — unpersist exactly it
            ck._jdf.queryExecution().analyzed().rdd().unpersist(blocking)
            released += 1
        except Exception:
            pass  # session stopped / blocks already gone — nothing to free
    _LIVE.clear()
    return released


def session_temp_dir(prefix: str) -> str:
    """A fresh ``tempfile.mkdtemp(prefix=prefix)`` dir, removed when the
    interpreter exits. Not removed earlier: the DataFrames an operator
    returns read their checkpoint files lazily, after it has returned."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path
