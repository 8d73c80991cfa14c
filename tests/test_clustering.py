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
    _FAMILIES,
    _GATE_MAX,
    _Batch,
    _partition,
    chinese_whispers,
    clustered_pieces,
    coins_portable,
    coins_xxhash64,
    symmetrize_edges,
    tie_accept_portable,
    tie_accept_xxhash64,
)


def _clique(nodes):
    return [(a, b) for a, b in itertools.combinations(nodes, 2)]


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "piece1_id long, piece2_id long")
    adj = symmetrize_edges(df)
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
    adj = symmetrize_edges(df)
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
        symmetrize_edges(df), max_iter=20, seed=42, tie_freeze=None
    )
    assert iters_ref == 20  # capped, not converged
    assert state_ref.filter("active").count() > 0  # ties still churning

    state, iters = chinese_whispers(symmetrize_edges(df), max_iter=20, seed=42)
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

    state, iters = chinese_whispers(symmetrize_edges(df), max_iter=30, min_active=100)
    assert iters == 0  # floor above vertex count: nothing to do

    _, exact_iters = chinese_whispers(symmetrize_edges(df), max_iter=30)
    _, floored_iters = chinese_whispers(
        symmetrize_edges(df), max_iter=30, min_active=0.5
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
    adj = symmetrize_edges(spark.createDataFrame(edges, "piece1_id long, piece2_id long"))
    state, iters = chinese_whispers(adj, **kw)
    assert iters == t
    assert _outcome(state) == (labels, active)


def test_pinned_trajectory_resumes_after_three_iterations(spark, tmp_path):
    edges, kw, t, labels, active = _PINNED["floor"]
    adj = symmetrize_edges(spark.createDataFrame(edges, "piece1_id long, piece2_id long"))
    ckpt = str(tmp_path / "clp")
    _, first = chinese_whispers(adj, checkpoint=ckpt, **dict(kw, max_iter=3))
    assert first == 3
    state, iters = chinese_whispers(adj, checkpoint=ckpt, resume=True, **kw)
    assert iters == t
    assert _outcome(state) == (labels, active)


def test_checkpoint_layout_and_stats(spark, tmp_path, monkeypatch):
    """The final state is written where a reader of the checkpoint dir
    finds it (``clusters_counts_{T % 2}/active=true|false``, the text
    file ``clp_iter`` holding T), the components' temp state stays inside
    the checkpoint dir, and ``stats`` reports the run."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    edges, kw, t, _, active = _PINNED["hub"]
    adj = symmetrize_edges(spark.createDataFrame(edges, "piece1_id long, piece2_id long"))
    stats: dict = {}
    state, iters = chinese_whispers(adj, stats=stats, **kw)
    (ckpt,) = glob.glob(str(tmp_path / "clp-checkpoint-*"))
    assert sorted(os.listdir(tmp_path)) == [os.path.basename(ckpt)]
    slot = os.path.join(ckpt, f"clusters_counts_{t % 2}")
    assert os.path.isdir(os.path.join(slot, "active=true"))
    assert os.path.isdir(os.path.join(slot, "active=false"))
    with open(os.path.join(ckpt, "clp_iter")) as fh:
        assert fh.read() == str(t)
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
    """A partition sorted by ``(component, piece_id)`` arrives as Arrow
    batches that may split a component, or one vertex's edge rows; each
    component is read once, whole, in order."""
    import pyarrow as pa

    pid = [0, 0, 1, 2, 2, 2, 3, 4, 5, 5, 6, 7, 8, 9, 9]
    key = [0, 0, 0, 0, 0, 0, 3, 3, 5, 5, 6, 6, 6, 6, 6]
    frame = pa.record_batch({
        "piece_id": pid, "other_piece_id": pid, "component": key, "cluster_id": pid,
        "active": [True] * len(pid), "stale": pa.array([0] * len(pid), pa.int32()),
    })
    batches = [frame.slice(0, 1), frame.slice(1, 0), frame.slice(1, 3), frame.slice(4, 5),
               frame.slice(9, 4), frame.slice(13)]
    got = _partition(iter(batches))
    assert got.ids.tolist() == list(range(10))
    assert got.sizes.tolist() == [3, 2, 1, 4]
    assert got.src.tolist() == pid
    assert _partition(iter([frame.slice(0, 0)])) is None


class _Component:
    """One connected component's loop state with dict vote maps, stepped
    vertex by vertex: the loop :class:`_Batch` replaced, kept as its
    reference."""

    def __init__(self, rows):
        def column(name, dtype):
            return np.array(rows.column(name).to_numpy(), dtype=dtype)

        self.ids = column("piece_id", np.int64)
        self.labels = column("cluster_id", np.int64)
        self.active = column("active", bool)
        self.stale = column("stale", np.int64)
        index = {p: i for i, p in enumerate(self.ids.tolist())}
        n = len(self.ids)
        neighbours = rows.column("other_piece_ids").to_pylist()
        self.nbrs = [[index.get(o, -1) for o in row] for row in neighbours]
        self.counts = []
        labels = self.labels.tolist()
        for row, idx in zip(neighbours, self.nbrs):
            c = {}
            for o, j in zip(row, idx):
                k = labels[j] if 0 <= j < n else int(o)
                c[k] = c.get(k, 0) + 1
            self.counts.append(c)

    def step(self, it, seed, family, tie_freeze):
        coins, accept = _FAMILIES[family]
        act = np.flatnonzero(self.active)
        best = np.empty(len(act), dtype=np.int64)
        tied = np.zeros(len(act), dtype=bool)
        tie_at, tie_key, tie_rank = [], [], []
        for a, i in enumerate(act.tolist()):
            c = self.counts[i]
            top = max(c.values())
            keys = sorted(k for k, v in c.items() if v == top)
            best[a] = keys[0]
            if len(keys) > 1:
                tied[a] = True
                for j, k in enumerate(keys[1:], start=2):
                    tie_at.append(a)
                    tie_key.append(k)
                    tie_rank.append(j)
        if tie_at:
            at = np.array(tie_at, dtype=np.int64)
            key = np.array(tie_key, dtype=np.int64)
            ok = accept(coins([self.ids[act[at]], key], (it, seed)),
                        np.array(tie_rank, dtype=np.int64))
            for a, k in zip(at[ok].tolist(), key[ok].tolist()):
                best[a] = k
        old = self.labels[act]
        move = (best != old) & (coins([self.ids[act]], (it, seed + 1)) <= _GATE_MAX)
        n = len(self.ids)
        received = np.zeros(n, dtype=bool)
        for v, o, nw in zip(act[move].tolist(), old[move].tolist(), best[move].tolist()):
            for j in self.nbrs[v]:
                if 0 <= j < n:
                    c = self.counts[j]
                    left = c.get(o, 0) - 1
                    if left:
                        c[o] = left
                    else:
                        del c[o]
                    c[nw] = c.get(nw, 0) + 1
                    received[j] = True
        self.labels[act[move]] = best[move]
        self.stale = np.where(received, 0, self.stale + 1)
        was_tied = np.zeros(n, dtype=bool)
        was_tied[act] = tied
        if tie_freeze is not None:
            was_tied &= self.stale < tie_freeze
        self.active = was_tied | received


def _random_components(rng):
    """Rows of 1-4 components, sorted by component: a random multigraph
    each (parallel edges, self-loops), symmetric, plus neighbour ids
    that are no vertex of the component (no vertex at all, or one of
    another component), and a random mid-run state."""
    import pyarrow as pa

    rows = {k: [] for k in ("piece_id", "other_piece_ids", "component",
                            "cluster_id", "active", "stale")}
    next_id = int(rng.integers(1, 50))
    for _ in range(int(rng.integers(1, 5))):
        earlier = list(rows["piece_id"])
        ids = list(range(next_id, next_id + int(rng.integers(1, 9))))
        next_id = ids[-1] + int(rng.integers(1, 4))
        nbrs = {v: [] for v in ids}
        pairs = [(ids[i - 1], ids[i]) for i in range(1, len(ids))]  # connected
        pairs += [tuple(rng.choice(ids, 2)) for _ in range(int(rng.integers(0, 3 * len(ids))))]
        for a, b in pairs:
            nbrs[int(a)].append(int(b))
            nbrs[int(b)].append(int(a))
        for v in ids:
            if not nbrs[v] or rng.random() < 0.2:
                nbrs[v].append(10_000 + int(rng.integers(0, 4)))
            if earlier and rng.random() < 0.2:
                nbrs[v].append(int(rng.choice(earlier)))
            rng.shuffle(nbrs[v])
            rows["piece_id"].append(v)
            rows["other_piece_ids"].append(nbrs[v])
            rows["component"].append(ids[0])
            rows["cluster_id"].append(int(rng.choice(nbrs[v] + [v])))
            rows["active"].append(bool(rng.random() < 0.8))
            rows["stale"].append(int(rng.integers(0, 7)))
    rows["stale"] = pa.array(rows["stale"], pa.int32())
    return pa.table(rows)


def _edge_rows(rows):
    """The adjacency rows of :func:`_random_components` as the edge rows
    :class:`_Batch` reads: one per neighbour occurrence, in (component,
    piece_id) order, each carrying its vertex's state."""
    import pyarrow as pa

    lists = rows.column("other_piece_ids").combine_chunks()
    at = pa.array(np.repeat(np.arange(rows.num_rows), lists.value_lengths().to_numpy()))
    return rows.drop_columns(["other_piece_ids"]).take(at).append_column(
        "other_piece_id", lists.flatten())


@pytest.mark.parametrize("family", ["xxhash64", "portable"])
@pytest.mark.parametrize("tie_freeze", [None, 5])
def test_batch_step_matches_per_component_loop(family, tie_freeze):
    """One vectorised step over a batch of whole components equals each
    component's vertex-by-vertex step, iteration after iteration: labels,
    active, staleness and vote maps (an idle component only ages)."""
    rng = np.random.default_rng(17 if tie_freeze else 29)
    for case in range(40):
        rows = _random_components(rng)
        comp = rows.column("component").to_numpy()
        cuts = np.flatnonzero(np.r_[True, comp[1:] != comp[:-1], True])
        ref = [_Component(rows.slice(a, b - a)) for a, b in zip(cuts[:-1], cuts[1:])]
        got = _Batch(_edge_rows(rows))
        seed, it = int(rng.integers(0, 100)), int(rng.integers(0, 6))
        for _ in range(12):
            if not got.active.any():
                break
            got.step(it, seed, family, tie_freeze)
            for c in ref:
                if c.active.any():
                    c.step(it, seed, family, tie_freeze)
                else:
                    c.stale += 1
            it += 1
            keys, votes = got.vote_maps()
            where = f"case {case}, iteration {it}"
            assert got.labels.tolist() == sum((c.labels.tolist() for c in ref), []), where
            assert got.active.tolist() == sum((c.active.tolist() for c in ref), []), where
            assert got.stale.tolist() == sum((c.stale.tolist() for c in ref), []), where
            assert [list(zip(k, v)) for k, v in zip(keys.to_pylist(), votes.to_pylist())] == [
                sorted(m.items()) for c in ref for m in c.counts
            ], where
