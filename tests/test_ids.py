"""Dense-id assignment: both strategies must produce identical dense,
stable, order-preserving ids.

``dense_ids`` picks its strategy from the input's size estimate, so a
test reaches the window path through an input estimated under
``WINDOW_MAX_BYTES`` (``spark.range``-derived or file-backed) and the zip
path through one estimated over it (a Python-built DataFrame has no
statistics) or through ``zip_with_index(df.orderBy(...))``, which is
what ``dense_ids`` runs on that side. Each asserts the plan it got.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from hpc_hd_textreuse_etl_spark.functions.ids import (
    dense_ids,
    with_int_id,
    zip_with_index,
)


def _has_window(df) -> bool:
    return "Window" in df._jdf.queryExecution().executedPlan().toString()


def test_zip_with_index_preserves_sorted_order(spark):
    df = spark.range(0, 10_000).select(
        (F.col("id") * 37 % 10_000).alias("k")
    ).repartition(8)
    out = zip_with_index(df.orderBy("k"), id_col="rid")
    rows = out.orderBy("rid").collect()
    assert [r.rid for r in rows[:3]] == [1, 2, 3]
    assert len(rows) == 10_000
    # ids dense 1..N and aligned with sort order
    ks = [r.k for r in rows]
    assert ks == sorted(ks)
    assert rows[-1].rid == 10_000


def test_dense_ids_strategies_agree(spark):
    df = spark.range(500).select(
        F.format_string("v%04d", (F.col("id") * 7919) % 500).alias("val")
    ).repartition(7)
    window = dense_ids(df, ["val"], "i")
    assert _has_window(window)
    zipped = zip_with_index(df.orderBy("val"), id_col="i")
    assert not _has_window(zipped)
    w = {(r.val, r.i) for r in window.collect()}
    z = {(r.val, r.i) for r in zipped.collect()}
    assert w == z
    assert {i for _, i in w} == set(range(1, 501))


def test_with_int_id_mapping(spark):
    df = spark.createDataFrame(
        [("b", 1), ("a", 2), ("b", 3)], "name string, x int"
    )
    rekeyed, mapping = with_int_id(df, "name", keep_value=True)
    m = {r.name: r.name_id for r in mapping.collect()}
    assert m == {"a": 1, "b": 2}  # sorted order → dense ids
    assert {(r.name, r.name_id) for r in rekeyed.collect()} == {
        ("b", 2),
        ("a", 1),
        ("b", 2),
    }


def test_dense_ids_auto_strategy_is_honest(spark, tmp_path):
    """The strategy rule must be a real decision, not a hard-coded
    window. Small file-backed input (known small stats) → window; huge
    estimated input or NO estimate → parallel zip path — unknown size
    can never silently become a single-task global window."""
    from pyspark.sql import functions as F

    from hpc_hd_textreuse_etl_spark.functions.ids import (
        WINDOW_MAX_BYTES,
        plan_size_bytes,
    )

    small_path = str(tmp_path / "small.parquet")
    spark.createDataFrame(
        [(f"v{i:04d}",) for i in range(500)], "val string"
    ).write.parquet(small_path)
    small = spark.read.parquet(small_path)
    assert plan_size_bytes(small) <= WINDOW_MAX_BYTES

    huge = spark.range(10**10).select(F.col("id").alias("val"))
    assert plan_size_bytes(huge) > WINDOW_MAX_BYTES

    unknown = spark.createDataFrame([("a",)], "val string")
    assert plan_size_bytes(unknown) > WINDOW_MAX_BYTES  # Long.MaxValue

    # the small input takes the window plan (a Window node, no
    # monotonically_increasing_id); the unknown-size input takes the
    # zip path (no Window node)
    auto_small = dense_ids(small, ["val"], "i")
    assert _has_window(auto_small)
    auto_unknown = dense_ids(unknown, ["val"], "i")
    assert not _has_window(auto_unknown)
    # and the window result is identical to the zip path's
    zipped = zip_with_index(small.orderBy("val"), id_col="i")
    z = {(r.val, r.i) for r in zipped.collect()}
    assert {(r.val, r.i) for r in auto_small.collect()} == z


def test_orig_pieces_mid_scale_takes_zip_path(spark, tmp_path):
    """Far below fact scale a span table can already be too big for one
    task to sort: 320k random hits give ~640k distinct spans, estimated
    at ~7 MB of compressed parquet, so ``orig_pieces`` labels them on
    the parallel zip path, densely."""
    from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
        release_local_checkpoints,
    )
    from hpc_hd_textreuse_etl_spark.plans.textreuse import orig_pieces

    def span(side: int) -> list:
        # rand seeds its partitions with seed + partition index: keep
        # the four seeds far apart so the sides do not repeat each other
        start = (F.rand(1000 * side) * 1_000_000).cast("int")
        return [
            (F.rand(1000 * side + 500) * 12_500).cast("int").alias(f"trs{side}_id"),
            start.alias(f"trs{side}_start"),
            (start + 50).alias(f"trs{side}_end"),
        ]

    path = str(tmp_path / "hits")
    spark.range(320_000).select(*span(1), *span(2)).write.parquet(path)
    pieces = orig_pieces(spark.read.parquet(path))
    try:
        assert not _has_window(pieces)
        n, top = pieces.agg(F.count("*"), F.max("piece_id")).first()
        assert n > 600_000 and top == n
    finally:
        release_local_checkpoints()


def test_zip_checkpoint_release_frees_pinned_blocks(spark):
    """ADVICE item: zip_with_index's eager localCheckpoint pins a copy of
    the input in executor storage that clearCache() cannot see; the
    tracked-release hook must actually free it."""
    from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
        live_checkpoint_count,
        release_local_checkpoints,
    )

    release_local_checkpoints()  # clean slate (incl. other tests' leftovers)
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    # no statistics: the zip path
    df = spark.createDataFrame([(f"k{i}",) for i in range(1000)], "val string")
    out = dense_ids(df, ["val"], "i")
    assert not _has_window(out)
    assert out.count() == 1000  # materialize the labeled output first
    assert live_checkpoint_count() >= 1
    assert jsc.getPersistentRDDs().size() > before
    spark.catalog.clearCache()  # the blind spot: does NOT free RDD blocks
    assert jsc.getPersistentRDDs().size() > before
    released = release_local_checkpoints()
    assert released >= 1
    assert jsc.getPersistentRDDs().size() == before
    assert live_checkpoint_count() == 0


def test_zip_with_index_stable_under_nondeterministic_upstream(spark):
    """Round-7 regression: the scale path's two jobs (per-partition
    counts, then labeling) must read the SAME materialized partitions.
    Before the localCheckpoint pin, a lazy sort/distinct upstream was
    re-executed per job with freshly-sampled range boundaries, and rows
    near a boundary mislabeled (duplicate + missing ordinals — ~0.8% of
    1.28M defrag targets in the composed-pipeline run). This input's
    emission ORDER changes on every execution; the assigned ids must
    still be exactly the sorted ranks, with no duplicates or gaps."""
    import random

    n = 100_000

    def emit(split, it):
        rows = [(f"k{i:07d}",) for i in range(split, n, 8)]
        # a fresh SystemRandom draw per physical execution — any job
        # re-running this partition sees a different row order
        random.SystemRandom().shuffle(rows)
        return iter(rows)

    rdd = spark.sparkContext.parallelize(range(8), 8).mapPartitionsWithIndex(
        lambda split, it: emit(split, it)
    )
    df = spark.createDataFrame(rdd, "val string")  # no statistics: zip path
    labeled = dense_ids(df, ["val"], "i")
    assert not _has_window(labeled)
    out = labeled.collect()
    assert len(out) == n
    ids = sorted(r.i for r in out)
    assert ids == list(range(1, n + 1))  # dense, no dupes, no gaps
    # and each id is the exact sorted rank of its value
    by_val = sorted(out, key=lambda r: r.val)
    assert all(r.i == rank + 1 for rank, r in enumerate(by_val))


def test_zip_with_index_dense_over_empty_partitions(spark):
    """Offsets cover every partition id up to the largest non-empty one,
    so empty partitions — the first, the last and some in between —
    neither shift nor break the labeling. AQE coalescing is off, so the
    zip sees all 16 input partitions and the sort is not coalesced; both
    paths must give exactly the sorted ranks 1..N."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        conf.set("spark.sql.shuffle.partitions", "16")
        # 16 input partitions of 100 ids; 0, 3, 7, 8 and 15 emptied
        empty = [0, 3, 7, 8, 15]
        df = spark.range(0, 1600, 1, 16).filter(
            ~(F.floor(F.col("id") / 100)).isin(empty)
        )
        assert df.rdd.getNumPartitions() == 16
        out = zip_with_index(df, id_col="rid").collect()
        want = sorted(r.id for r in df.collect())
        assert [r.rid for r in out] == list(range(1, len(want) + 1))
        assert [r.id for r in out] == want

        vals = df.select(
            F.format_string("v%05d", (F.col("id") * 7919) % 1600).alias("val")
        )
        assert vals.rdd.getNumPartitions() == 16
        zipped = zip_with_index(vals.orderBy("val"), id_col="i")
        assert not _has_window(zipped)
        got = sorted((r.i, r.val) for r in zipped.collect())
        assert [i for i, _ in got] == list(range(1, len(want) + 1))
        assert [v for _, v in got] == sorted(v for _, v in got)
        window = dense_ids(vals, ["val"], "i")  # range-sized: window path
        assert _has_window(window)
        w = {(r.val, r.i) for r in window.collect()}
        assert {(v, i) for i, v in got} == w
    finally:
        for k, v in saved.items():
            conf.set(k, v)


#: jobs to build and write the 5 000-row input below (measured); an
#: offsets table broadcast-joined into the labels adds one
ZIP_PATH_JOBS = 6


def test_zip_path_job_count(spark, tmp_path):
    """Building and writing dense ids on the zip path runs no job for
    the per-partition offsets: they travel as a literal array, not a
    parallelized table that is broadcast-joined (one job more, in Python
    workers)."""
    sc = spark.sparkContext
    df = spark.range(0, 5000, 1, 4).select(
        F.format_string("k%05d", (F.col("id") * 7919) % 5000).alias("val")
    )
    group = "test_zip_path_job_count"
    sc.setJobGroup(group, group)
    try:
        zip_with_index(df.orderBy("val"), id_col="i").write.parquet(
            str(tmp_path / "ids")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= ZIP_PATH_JOBS, jobs
