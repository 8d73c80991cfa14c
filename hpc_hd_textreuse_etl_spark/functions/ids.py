"""Dense, stable integer surrogate-key assignment.

The reference re-keys every string identifier to dense ``1..N`` ids in a
stable sorted order (``etl_textreuse/spark_utils.py:140-230``:
``dfZipWithIndex`` / ``materialise_row_numbers`` /
``materialise_with_int_id``). Ids are contractually dense and sorted —
``monotonically_increasing_id`` is NOT a valid substitute.

Two strategies, picked from a size estimate of the input
(:func:`dense_ids`):

- ``row_number() OVER (ORDER BY keys)`` — one wide window. Catalyst plans
  a single global sort; the final window runs on one task, so it is
  kept for inputs of a few hundred thousand rows.
- sort + a JVM-only ``zipWithIndex`` — a count per partition, then a
  label pass that adds each partition's offset from a literal array, so
  every partition is labeled in parallel with no broadcast join and no
  Python worker task; this is the scale path for fact tables with
  billions of rows (the reference's ``piece_id`` exceeds 2^32,
  ``database_assets/downstream_clusters.py:18``).
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
    tracked_local_checkpoint,
)


def zip_with_index(df: DataFrame, id_col: str = "id", offset: int = 1) -> DataFrame:
    """Prepend a dense LongType ordinal preserving current row order.

    JVM-only equivalent of ``rdd.zipWithIndex`` (which in PySpark would
    pickle every row through Python — unusable at fact-table scale):
    ``monotonically_increasing_id`` encodes ``partition_id * 2^33 +
    local_offset`` with consecutive local offsets, so decoding it and
    adding per-partition cumulative counts yields the exact global
    ordinal. The counts come back to the driver in one small collect and
    go out again as a literal array indexed by partition id (one entry
    per partition up to the largest non-empty one, so empty partitions
    are covered): no offsets table, no broadcast join, and no Python
    worker task — a ``createDataFrame`` of the offsets would be a
    parallelized, pickled RDD with a job of its own. Two scans of the
    input, zero shuffles of the data itself.

    The input MUST be materialized once and read by both passes: the
    count job and the label job are separate Spark jobs, and a lazy
    upstream (sort after distinct, AQE-planned exchanges) is NOT
    partition-stable across job executions — RangePartitioner re-samples
    its boundaries per execution, so rows near a boundary can sit in
    different partitions in the two jobs, which mislabels ordinals
    (duplicates + gaps). This is not theoretical: the round-7 composed
    pipeline hit it at 1.28M defrag targets (~0.8% duplicate ids).
    ``localCheckpoint(eager)`` pins the partitions; it truncates lineage,
    so a lost block fails the job LOUDLY instead of silently recomputing
    a different labeling — the correct failure mode for id assignment.

    The pinned blocks are TRACKED (functions/checkpoints.py): RDD-level
    checkpoint storage is invisible to ``spark.catalog.clearCache()``,
    so after the labeled output is materialized, call
    ``release_local_checkpoints()`` (the registry's per-asset hygiene
    does this) or the copy stays resident for the session.
    """
    tagged = tracked_local_checkpoint(
        df.withColumn("__mono", F.monotonically_increasing_id())
    )
    pid = F.shiftright("__mono", 33)
    counts = (
        tagged.groupBy(pid.alias("__pid"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    n = {row["__pid"]: row["__n"] for row in counts}
    sizes = [n.get(p, 0) for p in range(max(n, default=0) + 1)]
    starts = accumulate(sizes[:-1], initial=offset)
    local = F.col("__mono").bitwiseAND(F.lit((1 << 33) - 1))
    start = F.element_at(
        F.array(*[F.lit(x).cast("long") for x in starts]), (pid + 1).cast("int")
    )
    out = tagged.withColumn(id_col, (start + local).cast("long")).drop("__mono")
    return out.select(id_col, *df.columns)


#: dense-id strategy threshold: inputs whose size estimate
#: (:func:`plan_size_bytes`) exceeds this go through the parallel zip
#: path. File-backed estimates are compressed parquet bytes, 7-15 B per
#: row for span-shaped inputs,
#: so this admits a few hundred thousand rows to the single-task window
#: sort — about where it stops beating the zip path on 4 cores (200k
#: spans: window 0.8 s, zip 1.2 s; 1M: 2.4 s vs 2.0 s; 4M: 10.7 s vs
#: 6.0 s, local[4])
WINDOW_MAX_BYTES = 4 << 20


def _children(node) -> list:
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _has_product_join(plan) -> bool:
    """Whether the plan joins without an equality key (a cross or range
    join), whose output can exceed its inputs by their product."""
    if plan.nodeName() == "Join":
        cond = plan.condition()
        conjuncts = [cond.get()] if cond.isDefined() else []
        while conjuncts:
            e = conjuncts.pop()
            if e.nodeName() == "And":
                conjuncts.extend(_children(e))
            elif e.nodeName() in ("EqualTo", "EqualNullSafe") and not any(
                c.foldable() for c in _children(e)
            ):
                break
        else:
            return True
    return any(_has_product_join(c) for c in _children(plan))


def plan_size_bytes(df: DataFrame) -> int | None:
    """Size estimate of the input (bytes), or None if it can't be read:
    the sum of the analyzed plan's leaf relations (file sources report
    their real sizes, a persisted intermediate counts as the scans it
    reads), so an equi-join counts as the sum of its sides, not as
    Catalyst's product of them. A plan with a join on no equality key
    keeps Catalyst's product. An equi-join whose key repeats on both
    sides can still exceed the sum; no dense-id input is one (the hits
    join the document ids on their unique name, and the defrag targets
    are grouped back to one row per piece). A leaf with no statistics
    reports Long.MaxValue — which :func:`dense_ids` treats as 'too big',
    the scale-safe direction."""
    try:
        qe = df._jdf.queryExecution()
        plan = qe.analyzed()
        if _has_product_join(plan):
            return int(str(qe.optimizedPlan().stats().sizeInBytes()))
        leaves = plan.collectLeaves()
        return sum(
            int(str(leaves.apply(i).stats().sizeInBytes())) for i in range(leaves.size())
        )
    except Exception:
        return None


def dense_ids(df: DataFrame, order_by: list[str], id_col: str = "id") -> DataFrame:
    """Assign dense ids 1..N ordered by ``order_by`` over the given rows.

    One rule picks the strategy from the input's size estimate
    (:func:`plan_size_bytes`): the window when the input is provably
    dimension-sized (estimate ≤ :data:`WINDOW_MAX_BYTES`), the parallel
    sorted-zipWithIndex path otherwise — including when no estimate
    exists, so "unknown" can never silently become a single-task global
    window over a fact table. Both paths produce identical ids
    (strategy-agreement tested); the choice is purely physical.
    """
    size = plan_size_bytes(df)
    if size is not None and size <= WINDOW_MAX_BYTES:
        # deliberately unpartitioned: a dense GLOBAL ordinal needs a
        # global order. Reached only by dimension-sized inputs (its
        # WindowExec single-partition warning is the documented
        # exception in SCALE.md "Unpartitioned windows").
        w = Window.orderBy(*[F.col(c) for c in order_by])
        return df.withColumn(id_col, F.row_number().over(w))
    return zip_with_index(df.orderBy(*order_by), id_col=id_col)


def with_int_id(
    df: DataFrame,
    value_col: str,
    id_col: str | None = None,
    keep_value: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Re-key a string/composite column to a dense int id.

    Returns ``(rekeyed_df, mapping_df)`` where ``mapping_df`` has
    ``(value_col, id_col)`` for the distinct sorted values — the
    equivalent of ``materialise_with_int_id``
    (``spark_utils.py:176-230``), reusable as a dimension table. The
    mapping's ids come from :func:`dense_ids`, which picks its strategy
    from the distinct values' size estimate.
    """
    id_col = id_col or f"{value_col}_id"
    mapping = dense_ids(
        df.select(value_col).distinct(), order_by=[value_col], id_col=id_col
    )
    joined = df.join(mapping, value_col, "inner")
    if not keep_value:
        joined = joined.drop(value_col)
    return joined, mapping
