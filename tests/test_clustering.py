"""Chinese Whispers clustering: deterministic (seeded) convergence on
known graph shapes (FIXTURES.md §8: disjoint cliques + bridging chain),
coin parity with Spark SQL, pinned trajectories and the checkpoint
layout."""

from __future__ import annotations

import glob
import os
import tempfile

import numpy as np
import pytest

import itertools

from hpc_hd_textreuse_etl_spark.operators.clustering import (
    _components,
    adjacency_list,
    chinese_whispers,
    clustered_pieces,
    coins_portable,
    coins_xxhash64,
    tie_accept_portable,
    tie_accept_xxhash64,
)


def _clique(nodes):
    return [(a, b) for a, b in itertools.combinations(nodes, 2)]


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "piece1_id long, piece2_id long")
    adj = adjacency_list(df)
    state, iters = chinese_whispers(adj, **kw)
    return {r.piece_id: r.cluster_id for r in clustered_pieces(state).collect()}, iters


def test_disjoint_cliques_converge(spark):
    edges = _clique(range(1, 6)) + _clique(range(10, 15))
    clusters, iters = _run(spark, edges, max_iter=30, seed=42)
    assert iters < 30  # converged, not capped
    assert len(clusters) == 10
    a = {clusters[n] for n in range(1, 6)}
    b = {clusters[n] for n in range(10, 15)}
    assert len(a) == 1 and len(b) == 1 and a != b


def test_bridged_cliques_converge(spark):
    edges = _clique(range(1, 7)) + _clique(range(10, 16)) + [(6, 10)]
    clusters, iters = _run(spark, edges, max_iter=50, seed=42)
    assert iters < 50
    # each clique interior agrees on a single label
    assert len({clusters[n] for n in range(1, 6)}) == 1
    assert len({clusters[n] for n in range(11, 16)}) == 1


def test_resume_matches_uninterrupted_run(spark, tmp_path):
    """Interrupt after 3 iterations, resume from the checkpoint dir:
    the final clustering must equal the uninterrupted run's (coins are
    keyed on absolute iteration)."""
    edges = _clique(range(1, 6)) + _clique(range(10, 15)) + [(5, 10)]
    df = spark.createDataFrame(edges, "piece1_id long, piece2_id long")

    straight, straight_iters = _run(spark, edges, max_iter=25, seed=3)

    ckpt = str(tmp_path / "clp")
    adj = adjacency_list(df)
    chinese_whispers(adj, max_iter=3, seed=3, checkpoint=ckpt)
    state, resumed_iters = chinese_whispers(
        adj, max_iter=25, seed=3, checkpoint=ckpt, resume=True
    )
    resumed = {r.piece_id: r.cluster_id for r in clustered_pieces(state).collect()}
    assert resumed == straight
    assert resumed_iters == straight_iters


@pytest.mark.slow  # soak tier, default-off (round-12 verify-window fix; run with -m slow)
def test_tie_freeze_converges_where_reference_semantics_never_do(spark):
    """Round-8 convergence fix: a bridge vertex tied between two stable
    equal cliques votes 1-1 forever — under the reference's semantics
    (tie_freeze=None) it stays active and the loop always pays max_iter
    (measured here: still-active vertices at the cap). With the default
    tie-freeze, vertices whose vote map is static for k iterations are
    frozen and the loop terminates by CONVERGENCE, with the same
    clique structure."""
    edges = _clique(range(1, 6)) + _clique(range(10, 15)) + [(5, 20), (10, 20)]
    df = spark.createDataFrame(edges, "piece1_id long, piece2_id long")

    state_ref, iters_ref = chinese_whispers(
        adjacency_list(df), max_iter=20, seed=42, tie_freeze=None
    )
    assert iters_ref == 20  # capped, not converged
    assert state_ref.filter("active").count() > 0  # ties still churning

    state, iters = chinese_whispers(adjacency_list(df), max_iter=20, seed=42)
    assert iters < 20  # converged before the cap
    assert state.filter("active").count() == 0
    clusters = {r.piece_id: r.cluster_id for r in clustered_pieces(state).collect()}
    assert len({clusters[n] for n in range(1, 6)}) == 1
    assert len({clusters[n] for n in range(10, 15)}) == 1
    assert clusters[1] != clusters[10]
    assert clusters[20] in (clusters[1], clusters[10])


def test_min_active_floor_terminates_early(spark):
    """The activity floor stops the loop once the active count is within
    the floor — iteration 0 when the floor exceeds the vertex count, and
    earlier-than-exact convergence for a fractional floor — while exact
    semantics (floor 0) still run to zero active."""
    edges = _clique(range(1, 6)) + _clique(range(10, 15))
    df = spark.createDataFrame(edges, "piece1_id long, piece2_id long")

    state, iters = chinese_whispers(adjacency_list(df), max_iter=30, min_active=100)
    assert iters == 0  # floor above vertex count: nothing to do

    _, exact_iters = chinese_whispers(adjacency_list(df), max_iter=30)
    _, floored_iters = chinese_whispers(
        adjacency_list(df), max_iter=30, min_active=0.5
    )
    assert floored_iters <= exact_iters
    assert exact_iters < 30  # exact semantics unchanged: converges to 0


def test_seeded_runs_reproduce(spark):
    edges = _clique(range(1, 6)) + [(5, 6), (6, 7)] + _clique(range(7, 12))
    c1, _ = _run(spark, edges, max_iter=30, seed=7)
    c2, _ = _run(spark, edges, max_iter=30, seed=7)
    assert c1 == c2


def test_portable_hash_family_matches_contract(spark):
    """hash_family='portable' (the DuckDB-reproducible coin family,
    plans/queries.py chinese_whispers_portable) converges on the clique
    fixture, reproduces bit-for-bit across runs, and rejects unknown
    families before any work."""
    import pytest

    edges = _clique(range(1, 6)) + _clique(range(10, 15))
    clusters, iters = _run(
        spark, edges, max_iter=30, seed=42, hash_family="portable"
    )
    assert iters < 30
    assert len(clusters) == 10
    a = {clusters[n] for n in range(1, 6)}
    b = {clusters[n] for n in range(10, 15)}
    assert len(a) == 1 and len(b) == 1 and a != b
    again, _ = _run(spark, edges, max_iter=30, seed=42, hash_family="portable")
    assert again == clusters
    with pytest.raises(ValueError, match="hash_family"):
        _run(spark, edges, hash_family="sha1")


def test_coins_match_spark_sql(spark):
    """Both coin families equal the Spark SQL expressions they stand
    for, ``pmod(xxhash64(...), 1e9)`` and the portable md5 form, on
    random ids: negative, above 2^31, and 0, in the tie form (two longs,
    two ints) and the gate form (one long, two ints)."""
    rng = np.random.default_rng(7)
    a = np.concatenate([[0, -1, 2**31, -(2**31) - 1, 2**63 - 1, -(2**63)],
                        rng.integers(-(2**62), 2**62, 400), rng.integers(-50, 2**33, 400)])
    b = rng.permutation(a)
    rows = [(int(x), int(y)) for x, y in zip(a, b)]
    df = spark.createDataFrame(rows, "a long, b long")
    portable = ("pmod(CAST(conv(substr(md5(concat_ws('|', {})), 1, 15), 16, 10) AS BIGINT),"
                " 1000000000)")
    got = df.selectExpr(
        "pmod(xxhash64(a, b, int(3), int(42)), 1000000000) AS xt",
        "pmod(xxhash64(a, int(7), int(-5)), 1000000000) AS xg",
        "{} AS pt".format(portable.format(
            "CAST(a AS STRING), CAST(b AS STRING), CAST(int(3) AS STRING), "
            "CAST(int(42) AS STRING)")),
        "{} AS pg".format(portable.format(
            "CAST(a AS STRING), CAST(int(7) AS STRING), CAST(int(-5) AS STRING)")),
    ).collect()
    assert [r.xt for r in got] == coins_xxhash64([a, b], (3, 42)).tolist()
    assert [r.xg for r in got] == coins_xxhash64([a], (7, -5)).tolist()
    assert [r.pt for r in got] == coins_portable([a, b], (3, 42)).tolist()
    assert [r.pg for r in got] == coins_portable([a], (7, -5)).tolist()


def test_tie_threshold_matches_spark_sql(spark):
    """The reservoir test ``coin < 1.0 / n`` for n = 1..5000, at the
    coins just below, at and above each threshold: the xxhash64 family
    in Spark's decimal arithmetic, the portable family in doubles; and
    the 0.9 update gate."""
    rows = [(v, n) for n in range(1, 5001) for v in range(10**9 // n - 1, 10**9 // n + 2)]
    rows += [(900_000_000, 1), (900_000_001, 1)]
    df = spark.createDataFrame(rows, "v long, n long")
    got = df.selectExpr(
        "v", "n",
        "(v / 1000000000.0) < 1.0/greatest(n, 1) AS dec",
        "(v / 1000000000.0) < CAST(1.0 AS DOUBLE)/greatest(n, 1) AS dbl",
        "(v / 1000000000.0) <= 0.9 AS gate",
    ).collect()
    v = np.array([r.v for r in got], dtype=np.int64)
    n = np.array([r.n for r in got], dtype=np.int64)
    assert [r.dec for r in got] == tie_accept_xxhash64(v, n).tolist()
    assert [r.dbl for r in got] == tie_accept_portable(v, n).tolist()
    assert [r.gate for r in got] == (v <= 900_000_000).tolist()


_RING = [(20 + i, 20 + (i + 1) % 12) for i in range(12)] + [
    (20 + i, 20 + (i + 3) % 12) for i in range(12)
]
_CLIQUES4 = [list(range(10 * k + 1, 10 * k + 6)) for k in range(4)]
#: (edges, chinese_whispers kwargs, T, labels, active vertices), pinned
#: from the iteration-at-a-time Spark SQL loop this engine replaced
_PINNED = {
    # two components that go quiet at different iterations; the
    # fractional floor (int(0.6 * 17) = 10 active) ends the run at 18,
    # two iterations before exact convergence
    "floor": (
        _clique(range(1, 6)) + _RING,
        dict(max_iter=30, seed=5, min_active=0.6),
        18,
        {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 20: 23, 21: 23, 22: 28, 23: 23, 24: 23,
         25: 23, 26: 23, 27: 23, 28: 23, 29: 23, 30: 23, 31: 23},
        [20, 21, 22, 23, 24, 25, 26, 28, 31],
    ),
    # hubs tied among stable cliques never settle without tie-freeze
    "hub": (
        sum((_clique(c) for c in _CLIQUES4), [])
        + [(100, c[0]) for c in _CLIQUES4] + [(101, 2), (101, 12)],
        dict(max_iter=15, seed=42, tie_freeze=None),
        15,
        {1: 5, 2: 5, 3: 5, 4: 5, 5: 5, 11: 13, 12: 13, 13: 13, 14: 13, 15: 13,
         21: 23, 22: 23, 23: 23, 24: 23, 25: 23, 31: 34, 32: 34, 33: 34, 34: 34,
         35: 34, 100: 5, 101: 13},
        [1, 11, 21, 31, 100, 101],
    ),
    # parallel edges vote twice; 50 has only a self-loop
    "parallel": (
        [(1, 2), (1, 2), (2, 1), (2, 3), (3, 4), (4, 1), (3, 5), (5, 5), (50, 50),
         (60, 61), (61, 61)],
        dict(max_iter=20, seed=9),
        20,
        {1: 2, 2: 2, 3: 5, 4: 2, 5: 5, 50: 50, 60: 61, 61: 61},
        [1, 2, 3, 4, 5],
    ),
}


def _outcome(state):
    rows = state.collect()
    return (
        {r.piece_id: r.cluster_id for r in rows},
        sorted(r.piece_id for r in rows if r.active),
    )


@pytest.mark.parametrize("name", sorted(_PINNED))
def test_pinned_trajectories(spark, name):
    edges, kw, t, labels, active = _PINNED[name]
    adj = adjacency_list(spark.createDataFrame(edges, "piece1_id long, piece2_id long"))
    state, iters = chinese_whispers(adj, **kw)
    assert iters == t
    assert _outcome(state) == (labels, active)


def test_pinned_trajectory_resumes_after_three_iterations(spark, tmp_path):
    edges, kw, t, labels, active = _PINNED["floor"]
    adj = adjacency_list(spark.createDataFrame(edges, "piece1_id long, piece2_id long"))
    ckpt = str(tmp_path / "clp")
    _, first = chinese_whispers(adj, checkpoint=ckpt, **dict(kw, max_iter=3))
    assert first == 3
    state, iters = chinese_whispers(adj, checkpoint=ckpt, resume=True, **kw)
    assert iters == t
    assert _outcome(state) == (labels, active)


def test_checkpoint_layout_and_stats(spark, tmp_path, monkeypatch):
    """The final state is written where a reader of the checkpoint dir
    finds it (``clusters_counts_{T % 2}/active=true|false``, ``clp_meta``
    holding T), the components' temp state stays inside the checkpoint
    dir, and ``stats`` reports the run."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    edges, kw, t, _, active = _PINNED["hub"]
    adj = adjacency_list(spark.createDataFrame(edges, "piece1_id long, piece2_id long"))
    stats: dict = {}
    state, iters = chinese_whispers(adj, stats=stats, **kw)
    (ckpt,) = glob.glob(str(tmp_path / "clp-checkpoint-*"))
    assert sorted(os.listdir(tmp_path)) == [os.path.basename(ckpt)]
    slot = os.path.join(ckpt, f"clusters_counts_{t % 2}")
    assert os.path.isdir(os.path.join(slot, "active=true"))
    assert os.path.isdir(os.path.join(slot, "active=false"))
    assert spark.read.parquet(os.path.join(ckpt, "clp_meta")).first()["iter"] == t
    assert len(stats["active_per_iter"]) == t
    assert stats["active_per_iter"][-1] == state.filter("active").count() == len(active)
    assert stats["components"] == 1
    assert stats["largest_component"] == 22


def test_cluster_pieces_reports_loop_stats(spark):
    from hpc_hd_textreuse_etl_spark.plans.textreuse import cluster_pieces

    edges, kw, t, labels, active = _PINNED["floor"]
    stats: dict = {}
    clustered = cluster_pieces(
        spark.createDataFrame(edges, "piece1_id long, piece2_id long"), stats=stats, **kw
    )
    assert {r.piece_id: r.cluster_id for r in clustered.collect()} == labels
    assert stats["iterations"] == len(stats["active_per_iter"]) == t
    assert stats["converged"] is True
    assert stats["active_per_iter"][-1] == len(active)
    assert (stats["components"], stats["largest_component"]) == (2, 12)


def test_components_are_cut_whole_across_batches():
    """A partition sorted by component arrives as Arrow batches that may
    split a component; each component comes out once, whole, in order."""
    import pyarrow as pa

    key = [1, 1, 1, 4, 4, 7, 9, 9, 9, 9]
    frame = pa.record_batch({"component": key, "piece_id": list(range(len(key)))})
    batches = [frame.slice(0, 2), frame.slice(2, 0), frame.slice(2, 2), frame.slice(4, 3),
               frame.slice(7, 2), frame.slice(9)]
    got = [(c.column("component")[0].as_py(), c.column("piece_id").to_pylist())
           for c in _components(iter(batches))]
    assert got == [(1, [0, 1, 2]), (4, [3, 4]), (7, [5]), (9, [6, 7, 8, 9])]
