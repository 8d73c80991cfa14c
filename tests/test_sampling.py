"""Property tests for operators/sampling.py — the invariants the module
docstring promises (partition-independence, nested samples, cross-table
consistency, split disjointness) verified mechanically. The exact sampled
row SETS are additionally value-hash-checked against DuckDB via the
hash_sampled_orders / train_test_split_orders / stratified_sample_counts /
per_key_quota_orders contract queries (tests/test_oracle_parity.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hpc_hd_textreuse_etl_spark.catalog import load_testdata
from hpc_hd_textreuse_etl_spark.operators.sampling import (
    hash_sample,
    per_key_quota,
    sample_hash,
    stratified_hash_sample,
    threshold,
    train_test_split,
    weighted_sample_topk,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def tables(spark):
    load_testdata(spark, SF_SMOKE)
    return spark


def _keys(df, col):
    return {r[0] for r in df.select(col).collect()}


def test_threshold_bounds():
    assert threshold(0.0) == 0
    assert threshold(1.0) == 1 << 60
    with pytest.raises(ValueError):
        threshold(-0.1)
    with pytest.raises(ValueError):
        threshold(1.5)


def test_hash_sample_partition_independent(tables):
    """Same sample regardless of physical layout — the defining property
    hash gating has and df.sample() lacks."""
    orders = tables.table("orders")
    base = _keys(hash_sample(orders, ["o_orderkey"], 0.2), "o_orderkey")
    relaid = _keys(
        hash_sample(orders.repartition(37, "o_custkey"), ["o_orderkey"], 0.2),
        "o_orderkey",
    )
    assert base == relaid
    assert 0 < len(base) < orders.count()


def test_hash_sample_nested(tables):
    """Growing the fraction only moves the boundary: sample(f1) is a
    subset of sample(f2) for f1 < f2 under the same salt."""
    orders = tables.table("orders")
    small = _keys(hash_sample(orders, ["o_orderkey"], 0.05), "o_orderkey")
    large = _keys(hash_sample(orders, ["o_orderkey"], 0.2), "o_orderkey")
    assert small <= large


def test_hash_sample_cross_table_consistent(tables):
    """Sampling orders and lineitem by the shared order key keeps
    referential integrity: every sampled lineitem's order is sampled."""
    orders = tables.table("orders")
    li = tables.table("lineitem")
    o_keys = _keys(hash_sample(orders, ["o_orderkey"], 0.15, salt="s"), "o_orderkey")
    l_keys = _keys(hash_sample(li, ["l_orderkey"], 0.15, salt="s"), "l_orderkey")
    assert l_keys <= o_keys


def test_hash_sample_fraction_approximate(tables):
    orders = tables.table("orders")
    n = orders.count()
    got = hash_sample(orders, ["o_orderkey"], 0.3).count()
    assert abs(got / n - 0.3) < 0.1


def test_train_test_split_disjoint_exhaustive(tables):
    orders = tables.table("orders")
    tagged = train_test_split(orders, ["o_orderkey"], 0.25)
    n = orders.count()
    counts = {r["split"]: r["n"] for r in
              tagged.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "test"}
    assert counts["train"] + counts["test"] == n
    # one side per key, even when the key repeats (lineitem shares keys)
    li = train_test_split(tables.table("lineitem"), ["l_orderkey"], 0.25,
                          salt="split-v1")
    sides_per_key = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("split").alias("s"))
        .agg(F.max("s"))
        .collect()[0][0]
    )
    assert sides_per_key == 1


def test_train_test_matches_hash_sample_band(tables):
    """The 'test' side IS hash_sample at the same fraction/salt — splits
    are threshold bands of one hash, so samples nest into splits."""
    orders = tables.table("orders")
    test_keys = _keys(
        train_test_split(orders, ["o_orderkey"], 0.2, salt="x").where(
            F.col("split") == "test"
        ),
        "o_orderkey",
    )
    sampled = _keys(hash_sample(orders, ["o_orderkey"], 0.2, salt="x"), "o_orderkey")
    assert test_keys == sampled


def test_stratified_rates_and_default(tables):
    """Per-stratum fractions honored; strata not listed fall back to
    default_fraction (0.0 → dropped entirely)."""
    orders = tables.table("orders")
    sampled = stratified_hash_sample(
        orders, "o_orderstatus", {"O": 0.1, "F": 1.0}, ["o_orderkey"]
    )
    by_status = {
        r["o_orderstatus"]: r["n"]
        for r in sampled.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()
    }
    totals = {
        r["o_orderstatus"]: r["n"]
        for r in orders.groupBy("o_orderstatus").agg(F.count("*").alias("n")).collect()
    }
    assert by_status.get("F", 0) == totals["F"]  # fraction 1.0 keeps all
    assert "P" not in by_status  # default 0.0 drops unlisted strata
    if "O" in by_status:
        assert by_status["O"] < totals["O"]


def test_stratified_gate_consistent_with_hash_sample(tables):
    """A stratum at fraction f contains exactly the rows hash_sample at f
    (same salt) would keep — the CASE chain resolves to the same gate."""
    orders = tables.table("orders")
    strat = stratified_hash_sample(
        orders, "o_orderstatus", {"O": 0.3}, ["o_orderkey"], salt="z"
    )
    only_o = orders.where(F.col("o_orderstatus") == "O")
    assert _keys(strat, "o_orderkey") == _keys(
        hash_sample(only_o, ["o_orderkey"], 0.3, salt="z"), "o_orderkey"
    )


def test_per_key_quota_deterministic_under_repartition(tables):
    orders = tables.table("orders")
    order_by = [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    a = per_key_quota(orders, ["o_custkey"], 2, order_by)
    b = per_key_quota(orders.repartition(41), ["o_custkey"], 2, order_by)
    rows_a = sorted((r["o_custkey"], r["o_orderkey"], r["quota_rank"])
                    for r in a.select("o_custkey", "o_orderkey", "quota_rank").collect())
    rows_b = sorted((r["o_custkey"], r["o_orderkey"], r["quota_rank"])
                    for r in b.select("o_custkey", "o_orderkey", "quota_rank").collect())
    assert rows_a == rows_b
    per_key = a.groupBy("o_custkey").agg(F.count("*").alias("n"))
    assert per_key.agg(F.max("n")).collect()[0][0] <= 2


# --- Hypothesis: threshold-band algebra over real hash values ---------
# One Spark collect supplies genuine gate-hash values; Hypothesis then
# explores fraction pairs over pure driver-side arithmetic (fast, no
# Spark job per example).

from hypothesis import given, settings
from hypothesis import strategies as st

from hpc_hd_textreuse_etl_spark.operators.sampling import HASH_SPACE, sample_hash


@pytest.fixture(scope="module")
def gate_hashes(tables):
    rows = (
        tables.table("orders")
        .select(sample_hash(["o_orderkey"], "hyp").alias("h"))
        .limit(2000)
        .collect()
    )
    return [r.h for r in rows]


@settings(max_examples=200, deadline=None)
@given(
    f1=st.floats(min_value=0.0, max_value=1.0),
    f2=st.floats(min_value=0.0, max_value=1.0),
)
def test_threshold_bands_nest_and_partition(gate_hashes, f1, f2):
    lo, hi = sorted((f1, f2))
    t_lo, t_hi = threshold(lo), threshold(hi)
    assert 0 <= t_lo <= t_hi <= HASH_SPACE
    small = {h for h in gate_hashes if h < t_lo}
    large = {h for h in gate_hashes if h < t_hi}
    assert small <= large  # nested samples
    # split bands partition the keyspace: test + train = everything
    test = {h for h in gate_hashes if h < t_hi}
    train = {h for h in gate_hashes if h >= t_hi}
    assert test | train == set(gate_hashes) and not (test & train)


@settings(max_examples=100, deadline=None)
@given(f=st.floats(min_value=0.0, max_value=1.0))
def test_hash_values_in_space_and_fraction_monotone(gate_hashes, f):
    assert all(0 <= h < HASH_SPACE for h in gate_hashes)
    kept = sum(h < threshold(f) for h in gate_hashes)
    assert 0 <= kept <= len(gate_hashes)
    if f == 0.0:
        assert kept == 0
    if f == 1.0:
        assert kept == len(gate_hashes)


# ---------------------------------------------------------------------------
# Leakage-safe (group-aware) split
# ---------------------------------------------------------------------------

from hpc_hd_textreuse_etl_spark.operators.sampling import (  # noqa: E402
    leakage_safe_split,
)


def _docs_and_pairs(spark):
    docs = spark.createDataFrame([(i,) for i in range(100)], "doc_id bigint")
    # chains 0-1-2, 10-11; everything else singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a bigint, id_b bigint"
    )
    return docs, pairs


def test_leakage_split_groups_move_atomically(spark):
    docs, pairs = _docs_and_pairs(spark)
    out = leakage_safe_split(docs, "doc_id", pairs, test_fraction=0.3)
    side = {r["doc_id"]: r["split"] for r in out.collect()}
    assert side[0] == side[1] == side[2]
    assert side[10] == side[11]


def test_leakage_split_disjoint_exhaustive(spark):
    docs, pairs = _docs_and_pairs(spark)
    out = leakage_safe_split(docs, "doc_id", pairs, test_fraction=0.3).collect()
    assert len(out) == 100
    assert {r["split"] for r in out} <= {"train", "test"}


def test_leakage_split_without_pairs_matches_plain_split(spark):
    docs = spark.createDataFrame([(i,) for i in range(200)], "doc_id bigint")
    empty = spark.createDataFrame([], "id_a bigint, id_b bigint")
    grouped = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            docs, "doc_id", empty, test_fraction=0.25, salt="s1"
        ).collect()
    }
    # singleton groups key by their own id → same bands as gating doc_id
    plain = {
        r["doc_id"]: "test"
        if r["__h"] < threshold(0.25)
        else "train"
        for r in docs.select(
            "doc_id", sample_hash(["doc_id"], "s1").alias("__h")
        ).collect()
    }
    assert grouped == plain


# --- weighted_sample_topk (priority sampling / bottom-k PPSWOR) -----------


def _weighted_df(spark, n=200):
    return spark.createDataFrame(
        [(i, float(1 + (i % 7))) for i in range(n)], "id bigint, w double"
    )


def test_weighted_sample_deterministic_and_partition_independent(spark):
    df = _weighted_df(spark)
    base = sorted(
        r["id"]
        for r in weighted_sample_topk(df, ["id"], "w", 25).collect()
    )
    assert len(base) == 25
    for n in (1, 13):
        got = sorted(
            r["id"]
            for r in weighted_sample_topk(
                df.repartition(n), ["id"], "w", 25
            ).collect()
        )
        assert got == base


def test_weighted_sample_is_bottom_k_of_priority(spark):
    df = _weighted_df(spark, 100)
    scored = df.select(
        "id",
        (sample_hash(["id"], "wsample-v1").cast("double") / F.col("w")).alias(
            "pri"
        ),
    ).collect()
    expect = sorted((r["pri"], r["id"]) for r in scored)[:10]
    got = weighted_sample_topk(df, ["id"], "w", 10).collect()
    assert sorted((r["sample_priority"], r["id"]) for r in got) == expect


def test_weighted_sample_merge_algebra(spark):
    """bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B)) — shards
    pre-sampled independently compose without re-reading the data."""
    from pyspark.sql import DataFrame

    df = _weighted_df(spark, 300)
    a = df.where(F.col("id") < 150)
    b = df.where(F.col("id") >= 150)
    k = 20
    merged = weighted_sample_topk(
        weighted_sample_topk(a, ["id"], "w", k).unionByName(
            weighted_sample_topk(b, ["id"], "w", k)
        ),
        ["id"],
        "w",
        k,
    )
    direct = weighted_sample_topk(df, ["id"], "w", k)
    assert sorted(r["id"] for r in merged.collect()) == sorted(
        r["id"] for r in direct.collect()
    )


def test_weighted_sample_weight_bias(spark):
    """Heavier keys must be sampled at a visibly higher rate."""
    rows = [(i, 100.0 if i % 2 == 0 else 1.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "id bigint, w double")
    kept = weighted_sample_topk(df, ["id"], "w", 200).collect()
    heavy = sum(1 for r in kept if r["id"] % 2 == 0)
    assert heavy > 170  # ~100x weight → overwhelmingly heavy rows


def test_weighted_sample_rejects_nonpositive_weight(spark):
    df = spark.createDataFrame([(1, 0.0)], "id bigint, w double")
    with pytest.raises(Exception):
        weighted_sample_topk(df, ["id"], "w", 1).collect()


def test_weighted_sample_plans_take_ordered(spark):
    df = _weighted_df(spark)
    plan = (
        weighted_sample_topk(df, ["id"], "w", 5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


# --- negative_samples -------------------------------------------------------

from hpc_hd_textreuse_etl_spark.operators.sampling import negative_samples  # noqa: E402


def _pos_corpus(spark):
    pos = spark.createDataFrame([(i,) for i in range(40)], "qid bigint")
    corpus = spark.createDataFrame([(100 + i,) for i in range(17)], "doc bigint")
    return pos, corpus


def test_negative_samples_shape_and_range(spark):
    pos, corpus = _pos_corpus(spark)
    out = negative_samples(pos, ["qid"], corpus, "doc", k=3).collect()
    assert len(out) == 40 * 3
    ids = {r["negative_id"] for r in out}
    assert ids <= {100 + i for i in range(17)}
    per_q = {}
    for r in out:
        per_q.setdefault(r["qid"], set()).add(r["sample_idx"])
    assert all(v == {1, 2, 3} for v in per_q.values())


def test_negative_samples_partition_independent(spark):
    pos, corpus = _pos_corpus(spark)
    base = sorted(
        tuple(r) for r in negative_samples(pos, ["qid"], corpus, "doc", 2).collect()
    )
    got = sorted(
        tuple(r)
        for r in negative_samples(
            pos.repartition(7), ["qid"], corpus.repartition(3), "doc", 2
        ).collect()
    )
    assert got == base


def test_negative_samples_zip_index_path_matches_window_path(spark):
    """The corpus index takes the window path for a corpus estimated
    small (``spark.range``-derived) and the zip path for one with no
    statistics (Python-built); the draws must not differ."""
    pos, corpus = _pos_corpus(spark)
    ranged = spark.range(17).select((F.col("id") + 100).alias("doc"))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    window = negative_samples(pos, ["qid"], ranged, "doc", 2)
    zipped = negative_samples(pos, ["qid"], corpus, "doc", 2)
    assert "Window" in plan(window)
    assert "Window" not in plan(zipped)
    assert sorted(map(tuple, window.collect())) == sorted(map(tuple, zipped.collect()))


def test_negative_samples_k_validation(spark):
    pos, corpus = _pos_corpus(spark)
    with pytest.raises(ValueError):
        negative_samples(pos, ["qid"], corpus, "doc", 0)


# --- kfold_assignment -------------------------------------------------------

from hpc_hd_textreuse_etl_spark.operators.sampling import kfold_assignment  # noqa: E402


def test_kfold_folds_in_range_and_stable(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], "k bigint")
    a = {r["k"]: r["fold"] for r in kfold_assignment(df, ["k"], 5).collect()}
    b = {r["k"]: r["fold"] for r in kfold_assignment(df.repartition(7), ["k"], 5).collect()}
    assert a == b and set(a) == set(range(200))
    assert set(a.values()) <= set(range(5))
    # all folds populated at n=200 (probabilistic but deterministic here)
    assert len(set(a.values())) == 5


def test_kfold_group_consistency_across_tables(spark):
    parent = spark.createDataFrame([(i,) for i in range(50)], "k bigint")
    child = spark.createDataFrame(
        [(i, j) for i in range(50) for j in range(3)], "k bigint, item int"
    )
    pf = {r["k"]: r["fold"] for r in kfold_assignment(parent, ["k"], 4).collect()}
    cf = {(r["k"], r["item"]): r["fold"] for r in kfold_assignment(child, ["k"], 4).collect()}
    assert all(cf[(k, j)] == pf[k] for k in pf for j in range(3))


def test_kfold_k_validation(spark):
    df = spark.createDataFrame([(1,)], "k bigint")
    with pytest.raises(ValueError):
        kfold_assignment(df, ["k"], 1)


def test_budget_mixture_rates_exact_shares():
    from hpc_hd_textreuse_etl_spark.operators.sampling import budget_mixture_rates

    counts = {"web": 1_000_000, "code": 100_000, "books": 50_000}
    weights = {"web": 0.3, "code": 0.5, "books": 0.2}
    rates = budget_mixture_rates(counts, weights, 500_000)
    # sampled tokens hit the budget at exactly the target shares
    sampled = {k: rates[k] * counts[k] for k in counts}
    assert sum(sampled.values()) == pytest.approx(500_000)
    for k in counts:
        assert sampled[k] / 500_000 == pytest.approx(weights[k])
    assert rates["code"] > 1  # small high-weight source upsamples (epochs)


def test_budget_mixture_rates_cap_waterfills():
    from hpc_hd_textreuse_etl_spark.operators.sampling import budget_mixture_rates

    counts = {"web": 1_000_000, "code": 100_000, "books": 50_000}
    weights = {"web": 0.3, "code": 0.5, "books": 0.2}
    rates = budget_mixture_rates(counts, weights, 500_000, max_epochs=2.0)
    # code would be 2.5 uncapped; the redistribution then pushes books
    # over the cap too (300k x 0.4 / 50k = 2.4 epochs) — the iteration
    # must catch BOTH, leaving web to absorb the rest
    assert rates["code"] == 2.0 and rates["books"] == 2.0
    sampled = {k: rates[k] * counts[k] for k in counts}
    assert sum(sampled.values()) == pytest.approx(500_000)  # budget still met
    assert sampled["web"] == pytest.approx(200_000)
    assert rates["web"] == pytest.approx(0.2)


def test_budget_mixture_rates_infeasible_and_validation():
    from hpc_hd_textreuse_etl_spark.operators.sampling import budget_mixture_rates

    counts = {"a": 100, "b": 100}
    with pytest.raises(ValueError, match="infeasible"):
        budget_mixture_rates(counts, {"a": 1.0, "b": 1.0}, 10_000, max_epochs=2.0)
    with pytest.raises(ValueError):
        budget_mixture_rates(counts, {"a": 1.0}, 100)  # key mismatch
    with pytest.raises(ValueError):
        budget_mixture_rates(counts, {"a": 0.0, "b": 0.0}, 100)
    # zero-weight source gets rate 0 under a cap (and is excluded from capacity)
    rates = budget_mixture_rates(
        {"a": 100, "b": 1000}, {"a": 1.0, "b": 0.0}, 150, max_epochs=2.0
    )
    assert rates["b"] == 0.0 and rates["a"] == pytest.approx(1.5)
