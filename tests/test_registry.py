"""Recipe registry: topological materialization, resume-if-absent,
cycle detection."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hpc_hd_textreuse_etl_spark.plans.registry import CycleError, Registry


def _make_registry(calls):
    reg = Registry()

    @reg.add("base")
    def base(spark):
        calls.append("base")
        return spark.range(10).withColumnRenamed("id", "x")

    @reg.add("doubled", deps=["base"])
    def doubled(spark, base):
        calls.append("doubled")
        return base.select((F.col("x") * 2).alias("y"))

    @reg.add("summed", deps=["doubled", "base"])
    def summed(spark, doubled, base):
        calls.append("summed")
        return doubled.crossJoin(base.select(F.sum("x").alias("total")))

    return reg


def test_topological_order_and_build(spark, tmp_path):
    calls = []
    reg = _make_registry(calls)
    assert reg.order(["summed"]) == ["base", "doubled", "summed"]
    out = reg.materialise(spark, str(tmp_path), ["summed"])
    assert calls == ["base", "doubled", "summed"]
    assert out["summed"].count() == 10
    assert spark.table("doubled").count() == 10  # views registered


def test_resume_skips_existing(spark, tmp_path):
    calls = []
    reg = _make_registry(calls)
    reg.materialise(spark, str(tmp_path), ["doubled"])
    calls.clear()
    reg2 = _make_registry(calls)
    reg2.materialise(spark, str(tmp_path), ["summed"])
    assert calls == ["summed"]  # base + doubled reused from disk


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_reuse_reads_known_schema_without_jobs(spark, tmp_path):
    """Every materialise call walks its targets' closure; a snapshot this
    Registry wrote is reused with the schema it was written with, so the
    reuse runs no footer-reading inference job, and the schema is the one
    an inferring read gives. A fresh Registry over the same dir still
    reuses the snapshot without calling the builder."""
    calls = []
    reg = _make_registry(calls)
    reg.materialise(spark, str(tmp_path), ["base"])
    assert calls == ["base"]
    out, jobs = _jobs_in_group(
        spark, "test_reuse_known_schema",
        lambda: reg.materialise(spark, str(tmp_path), ["base"]),
    )
    assert jobs == 0
    assert calls == ["base"]
    inferred = spark.read.parquet(str(tmp_path / "base.parquet"))
    assert out["base"].schema == inferred.schema
    assert out["base"].count() == 10

    reg2 = _make_registry(calls)
    again = reg2.materialise(spark, str(tmp_path), ["base"])
    assert calls == ["base"]  # reused from disk, not rebuilt
    assert again["base"].schema == inferred.schema


def _chain(calls):
    """a <- b <- c <- d, each built from the one before."""
    reg = Registry()

    @reg.add("a")
    def a(spark):
        calls.append("a")
        return spark.range(5)

    def step(name, dep):
        def build(spark, **deps):
            calls.append(name)
            return deps[dep].select((F.col("id") + 1).alias("id"))

        reg.add(name, deps=[dep], builder=build)

    for dep, name in (("a", "b"), ("b", "c"), ("c", "d")):
        step(name, dep)
    return reg


def test_reuse_reads_only_what_builders_consume(spark, tmp_path, monkeypatch):
    """A reused snapshot ends the walk: nothing upstream of it is checked
    or read. A rebuilt asset's direct dependencies are checked and read;
    their own dependencies only if they are rebuilt too."""
    import shutil

    from hpc_hd_textreuse_etl_spark.plans import registry as R

    checked = []
    valid = R.snapshot_is_valid
    monkeypatch.setattr(R, "snapshot_is_valid",
                        lambda s, path: checked.append(path) or valid(s, path))
    calls = []
    reg = _chain(calls)
    base = str(tmp_path)
    reg.materialise(spark, base, ["d"])
    assert calls == ["a", "b", "c", "d"]

    checked.clear()
    out = reg.materialise(spark, base, ["d"])
    assert calls == ["a", "b", "c", "d"]
    assert checked == [str(tmp_path / "d.parquet")]
    assert set(out) == {"d"}

    shutil.rmtree(tmp_path / "d.parquet")
    checked.clear()
    out = reg.materialise(spark, base, ["d"])
    assert calls[4:] == ["d"]
    assert checked == [str(tmp_path / "d.parquet"), str(tmp_path / "c.parquet")]
    assert set(out) == {"c", "d"}
    assert [r.id for r in out["d"].orderBy("id").collect()] == [3, 4, 5, 6, 7]


def test_reuse_still_validates_whole_closure(spark, tmp_path):
    """A reused target still raises on a cycle or an unknown recipe
    anywhere in its closure."""
    calls = []
    reg = _chain(calls)
    reg.materialise(spark, str(tmp_path), ["d"])
    reg.add("a", deps=["d"], builder=lambda spark, d: d)
    with pytest.raises(CycleError):
        reg.materialise(spark, str(tmp_path), ["d"])
    reg = _chain(calls)
    reg.add("a", deps=["ghost"], builder=lambda spark, ghost: ghost)
    with pytest.raises(KeyError, match="ghost"):
        reg.materialise(spark, str(tmp_path), ["d"])
    assert calls == ["a", "b", "c", "d"]


def test_partial_snapshot_rebuilt(spark, tmp_path):
    """A crashed write (directory without _SUCCESS) must be rebuilt, not
    trusted."""
    calls = []
    reg = _make_registry(calls)
    reg.materialise(spark, str(tmp_path), ["base"])
    # simulate a crashed write: remove the success marker
    (tmp_path / "base.parquet" / "_SUCCESS").unlink()
    calls.clear()
    reg2 = _make_registry(calls)
    out = reg2.materialise(spark, str(tmp_path), ["base"])
    assert calls == ["base"]  # rebuilt
    assert out["base"].count() == 10


def test_cycle_detection(spark):
    reg = Registry()
    reg.add("a", deps=["b"], builder=lambda spark, b: b)
    reg.add("b", deps=["a"], builder=lambda spark, a: a)
    with pytest.raises(CycleError):
        reg.order(["a"])


def test_unknown_dep(spark):
    reg = Registry()
    reg.add("a", deps=["ghost"], builder=lambda spark, ghost: ghost)
    with pytest.raises(KeyError, match="ghost"):
        reg.order(["a"])


def test_target_files_bounds_snapshot_file_count(spark, tmp_path):
    """Round-8 small-files hygiene: a registry default (and per-recipe
    override) must bound each snapshot's parquet file count via a
    shuffle-free coalesce."""
    import glob

    reg = Registry()
    reg.add(
        "wide",
        builder=lambda spark: spark.range(0, 10_000, 1, 16).withColumnRenamed(
            "id", "x"
        ),
    )
    reg.add(
        "pinned",
        deps=["wide"],
        builder=lambda spark, wide: wide.select((F.col("x") + 1).alias("y")),
        target_files=1,
    )
    out = reg.materialise(
        spark, str(tmp_path), ["pinned"], default_target_files=4
    )
    assert out["pinned"].count() == 10_000

    def nfiles(name):
        return len(glob.glob(str(tmp_path / f"{name}.parquet" / "*.parquet")))

    assert nfiles("wide") <= 4       # registry default applied
    assert nfiles("pinned") == 1     # per-recipe override wins
    # and without any default the write keeps its natural parallelism
    reg.add("loose", builder=lambda spark: spark.range(0, 100, 1, 8))
    reg.materialise(spark, str(tmp_path), ["loose"])
    assert nfiles("loose") == 8


def test_golden_expected_hashes_pin_oracle_free_queries(spark):
    """Every QuerySpec carrying an `expected` record is an oracle-free
    query whose output is nonetheless bit-deterministic — re-run it at
    each recorded scale and require the exact golden value hash. Today
    that is chinese_whispers_clusters (seeded coins + sorted folds):
    semantic drift in the CW loop fails HERE instead of sliding under
    the two invariant gates (component containment, intra-edge
    fraction), which only bound it."""
    from hpc_hd_textreuse_etl_spark.plans.queries import (
        QUERIES,
        golden_value_hash,
    )

    pinned = {n: q for n, q in QUERIES.items() if q.expected}
    assert "chinese_whispers_clusters" in pinned
    for name, q in pinned.items():
        for sf_base, rec in q.expected.items():
            df = q.builder(spark, f"/root/testdata/{sf_base}")
            digest, rows = golden_value_hash(df)
            assert rows == rec["rows"], (name, sf_base, rows)
            assert digest == rec["sha256"], (name, sf_base, digest)


def test_golden_value_hash_handles_nulls_and_ignores_order(spark):
    """The pin hash must (a) be usable on NULL-bearing nullable outputs —
    Python 3 tuple sort raises TypeError comparing None with non-None,
    so the sort key is repr — and (b) stay invariant under row order and
    column order, moving only when the value set changes."""
    from hpc_hd_textreuse_etl_spark.plans.queries import golden_value_hash

    rows = [(1, None), (None, "b"), (2, "a")]
    df = spark.createDataFrame(rows, "x int, y string")
    digest, n = golden_value_hash(df)  # must not raise on the None mix
    assert n == 3
    shuffled = spark.createDataFrame(
        [rows[2], rows[0], rows[1]], "x int, y string"
    ).select("y", "x")
    assert golden_value_hash(shuffled) == (digest, 3)
    changed = spark.createDataFrame(
        [(1, None), (None, "b"), (2, "CHANGED")], "x int, y string"
    )
    assert golden_value_hash(changed)[0] != digest


@pytest.mark.slow  # soak tier, default-off (round-12 verify-window fix; run with -m slow)
def test_composed_pipeline_harness_tiny(spark, tmp_path, monkeypatch):
    """The composed-DAG harness (examples/pipeline_scale.py) caught two
    real bugs in round 7 (job-unstable dense ids, CW cache thrash) —
    keep its wiring itself green: generate a tiny reference-shaped
    corpus, materialize the full 35-asset DAG through the registry with
    per-asset cache hygiene, and require every sanity invariant."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "pipeline_scale",
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
            "examples", "pipeline_scale.py",
        ),
    )
    ps = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ps)

    data_dir = str(tmp_path / "corpus")
    ps.generate(spark, data_dir, n_docs=120, n_hits=4000)
    reg = ps.build_registry(spark, data_dir)
    done = reg.materialise(
        spark, str(tmp_path / "assets"), list(ps.TERMINALS),
        clear_cache_per_asset=True,
    )
    rows = {name: df.count() for name, df in done.items()}
    assert all(v > 0 for v in rows.values()), {
        k: v for k, v in rows.items() if v == 0
    }
    assert rows["defrag_pieces"] <= rows["orig_pieces"]
    assert rows["clustered_defrag_pieces"] == rows["defrag_pieces"]
    dp = done["defrag_pieces"]
    assert dp.select("piece_id").distinct().count() == rows["defrag_pieces"]
    # resume-if-absent still holds through the composed registry
    again = reg.materialise(spark, str(tmp_path / "assets"), ["coverages"])
    assert again["coverages"].count() == rows["coverages"]
