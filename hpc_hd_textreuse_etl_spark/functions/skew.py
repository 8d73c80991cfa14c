"""Skew-handling primitives: key salting for hot-key aggregations and
joins.

AQE's skew-join handling (enabled in session.py) covers sort-merge join
splits at runtime; salting is the complementary manual tool for
aggregation skew and for broadcast-averse hot keys — e.g. the text-reuse
piece graph, where a handful of viral quotes dominate the reception
fan-out.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, key_cols: Sequence[str], buckets: int, salt_col: str = "__salt") -> DataFrame:
    """Deterministic salt derived from the hash of the NON-key columns —
    the salt must vary *within* a key group to spread a hot key over
    ``buckets`` partitions, so hashing the keys adds nothing (and
    xxhash64 fails outright on map-typed columns, which we skip).

    Falls back to ``monotonically_increasing_id() % buckets`` when no
    hashable non-key column exists (still deterministic within a plan,
    though not across re-reads — fine for load-spreading)."""
    keys = set(key_cols)
    hashable = [
        f.name
        for f in df.schema.fields
        if f.name not in keys and not f.dataType.typeName().startswith("map")
    ]
    if hashable:
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.lit(buckets))
    else:
        salt = F.pmod(F.monotonically_increasing_id(), F.lit(buckets))
    return df.withColumn(salt_col, salt)


def salted_aggregate(
    df: DataFrame,
    key_cols: Sequence[str],
    aggs: dict[str, tuple],
    buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    ``aggs`` maps output column → ("sum"|"count"|"min"|"max", input col).
    Phase 1 aggregates on (key, salt) — hot keys split across tasks;
    phase 2 re-aggregates partials on the key. Associative aggregates
    only (that's what makes the split sound).
    """
    salted = with_salt(df, key_cols, buckets)
    partial_exprs, final_exprs = [], []
    for out, (fn, col) in aggs.items():
        p = f"__p_{out}"
        if fn == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(p))
            final_exprs.append(F.sum(p).alias(out))
        elif fn == "sum":
            partial_exprs.append(F.sum(col).alias(p))
            final_exprs.append(F.sum(p).alias(out))
        elif fn == "min":
            partial_exprs.append(F.min(col).alias(p))
            final_exprs.append(F.min(p).alias(out))
        elif fn == "max":
            partial_exprs.append(F.max(col).alias(p))
            final_exprs.append(F.max(p).alias(out))
        else:
            raise ValueError(f"non-associative aggregate {fn!r} cannot be salted")
    phase1 = salted.groupBy(*key_cols, "__salt").agg(*partial_exprs)
    return phase1.groupBy(*key_cols).agg(*final_exprs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key_cols: Sequence[str],
    buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skewed equi-join: salt the big side, replicate the small side
    ``buckets``× with an exploded salt, join on (keys + salt).

    Use when the small side is too big to broadcast but the big side's
    key distribution is pathological. Replication factor = ``buckets``.

    Only ``inner`` and ``left`` (big side preserved) are sound: a right
    or full join would emit every unmatched small-side row once per
    replica — ``buckets`` duplicates."""
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports only inner/left joins, got {how!r}: "
            "right/full would duplicate unmatched small-side rows per salt replica"
        )
    b = with_salt(big, key_cols, buckets)
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    out = b.join(s, [*key_cols, "__salt"], how)
    return out.drop("__salt")


def spread_small_input(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition an UNDER-PARTITIONED input before
    CPU-heavy per-row work — the straggler sibling of key salting
    (guide §2.5 "input skew: one huge unsplittable file … repartition
    immediately after the read").

    A single gzip file or single parquet row group arrives as ONE scan
    task, so every expression evaluated below the first exchange (the
    MinHash md5-per-shingle pass, tokenizer folds, window-gram builds)
    runs serially no matter how many cores the cluster has. When the
    planned partition count is already ≥ ``min_parts`` (the normal case
    at corpus scale, where inputs arrive as thousands of splits) this
    returns ``df`` UNCHANGED — no shuffle is added; the repartition only
    fires for inputs that would otherwise leave the cluster idle, and
    what it shuffles is exactly the projected columns the caller passes.

    The count is ``df.rdd.getNumPartitions()``: building the RDD of a
    scan or a checkpoint runs no job, but on a shuffled input adaptive
    execution runs the shuffle first to learn its coalesced count.

    ``min_parts`` defaults to the session's ``defaultParallelism``.
    The repartition is keyless round-robin — deterministic under retry
    (sort-before-repartition, SPARK-23207) and immune to key skew.
    Callers must only rely on it ahead of ORDER-INDEPENDENT work
    (hash/min/sum aggregations, joins); it changes row order.
    """
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
