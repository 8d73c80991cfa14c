"""Chinese Whispers label propagation over a piece graph.

Re-implementation of the reference's iterative clustering
(``etl_textreuse/assets/chinese_label_propagation.py:32-200``). Same
algorithm:

- state per vertex: ``(piece_id, cluster_id, cluster_counts: map<long,long>,
  active, stale)``; initially each vertex is its own cluster and its vote
  map holds one vote per neighbour occurrence (parallel edges count
  twice);
- each iteration, every active vertex picks the arg-max cluster of its
  vote map with uniform tie-breaking (reservoir rule over the sorted
  keys: the j-th tied key replaces the pick with probability ``1/j``)
  and moves there with probability ``UPDATE_PROB`` (0.9); a move sends
  ``-1``/``+1`` to the old/new cluster's vote of every neighbour
  occurrence;
- a vertex is active in the next iteration if a neighbour moved, or if
  its pick was tied and its vote map has been unchanged for fewer than
  ``tie_freeze`` iterations;
- the loop stops once the active count is within ``min_active``, or at
  ``max_iter``.

How it runs. A vote never crosses a connected component, so the
components are computed once (:func:`operators.graph.connected_components`),
the adjacency is shuffled once by component (each component's rows
adjacent in one partition) and pinned, and the whole loop runs in
Python inside a ``mapInArrow`` task per partition, so the number of
Spark jobs does not grow with the iteration count (at benchmark size
Spark's fixed per-job overhead, not the rows, is the cost). A task
holds its partition's whole components as flat NumPy arrays
(:class:`_Batch`) and steps them all at once: per iteration, one sort
of the active vertices' (vertex, neighbour label) pairs gives every
vote map, and the arg-max, the tie reservoir, the coins and the moves
are each one vectorised call. Stepping each component on its own cost
about 0.85 s of CPU per pass over the 656 components (2 943 vertices)
of trbench's seed-3 graph on a 4-vCPU host; the batch step takes about
0.02 s. The vote map is not carried between iterations as data: it
always equals the multiset of the neighbours' labels, so each step
rebuilds it from the labels.

The stop iteration ``T`` is global (the floor counts active vertices
over the whole graph) while components run independently. So the
pinned input is read twice: pass 1 returns every component's active
count per iteration, summed per iteration on the cluster (a few rows
reach the driver); the driver picks ``T`` exactly as an
iteration-at-a-time loop would; pass 2 reruns every component to ``T``
and writes its state.

Deliberate improvements over the reference (its README documents the
loop as unstable, ``assets/README.md:250-251``):

- **Seeded determinism**: the reference uses ``rand()`` (re-evaluated,
  partition-dependent). Every coin here is a hash of
  ``(vertex, key, iteration, seed)``, so the run is reproducible
  bit-for-bit regardless of partitioning or retries. The coins are those
  of Spark SQL's ``pmod(xxhash64(...), 1e9) / 1e9`` (the trajectories
  pinned in ``trbench/digests.json`` and the ``chinese_whispers_clusters``
  golden hashes were taken with them) or, with
  ``hash_family="portable"``, of the md5-based cross-engine hash that
  DuckDB also computes.
- **Resume**: the final state goes to ``{checkpoint}/clusters_counts_{T % 2}``
  (partitioned by ``active``, the reference's table layout) and
  ``{checkpoint}/clp_meta`` records ``T``; a later call with
  ``resume=True`` continues from it.

Limit: a component's adjacency must fit in one Python worker. The
largest measured shape, one hub adjacent to half of a 20 000-vertex
graph (``plans/r12/cw_hot_hub_probe.json``: hub degree 10 000, 1 771
distinct clusters in its vote map), is far inside it; a corpus whose
reuse graph has one giant component of hundreds of millions of edges is
not.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: a coin is ``pmod(hash, 1e9)``, read as the fraction ``v / 1e9``
_M = 1_000_000_000
#: the probability that an active vertex moves to its pick
UPDATE_PROB = 0.9
#: a vertex moves when its coin is at most this (``UPDATE_PROB`` in coins)
_GATE_MAX = round(UPDATE_PROB * _M)

# XXH64 as Spark's ``xxhash64`` applies it (org.apache.spark.sql.catalyst
# .expressions.XXH64): each argument is hashed with the previous hash as
# its seed, starting from 42; longs by ``hashLong``, ints by ``hashInt``.
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _xx_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(8)
    h = h ^ (_rotl(v * _P2, 31) * _P1)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _xx_int(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    h = seed + _P5 + np.uint64(4)
    h = h ^ ((v & np.uint64(0xFFFFFFFF)) * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def coins_xxhash64(longs: list[np.ndarray], ints: tuple[int, ...]) -> np.ndarray:
    """``pmod(xxhash64(*longs, *[int(i) for i in ints]), 1e9)`` row-wise,
    as int64 in ``[0, 1e9)``."""
    n = len(longs[0])
    h = np.full(n, 42, dtype=np.uint64)
    for a in longs:
        h = _xx_long(np.asarray(a, dtype=np.int64).view(np.uint64), h)
    for i in ints:
        h = _xx_int(np.full(n, i & 0xFFFFFFFF, dtype=np.uint64), h)
    return np.mod(h.view(np.int64), _M)


def coins_portable(longs: list[np.ndarray], ints: tuple[int, ...]) -> np.ndarray:
    """The md5-based portable 60-bit hash (functions/hashing.py) of the
    '|'-joined decimal renderings, ``pmod(·, 1e9)``; DuckDB computes the
    same value as ``('0x' || substr(md5(a || '|' || b ...), 1, 15))::BIGINT
    % 1000000000``, which is what lets a bounded-iteration run hash-match
    a SQL oracle (plans/queries.py ``chinese_whispers_portable``)."""
    tail = "".join(f"|{i}" for i in ints)
    return np.array(
        [
            int(hashlib.md5(("|".join(map(str, row)) + tail).encode()).hexdigest()[:15], 16) % _M
            for row in zip(*(np.asarray(a, dtype=np.int64).tolist() for a in longs))
        ],
        dtype=np.int64,
    )


def tie_accept_xxhash64(v: np.ndarray, j: np.ndarray) -> np.ndarray:
    """``v / 1e9 < 1.0 / j`` as Spark SQL decides it for the xxhash64
    family. ``j`` is a bigint there, so ``1.0 / j`` is a decimal(23,22)
    rounded half-up; against a coin with 9 decimals that rounding never
    decides, and the test is the exact rational one."""
    return v * j < _M


def tie_accept_portable(v: np.ndarray, j: np.ndarray) -> np.ndarray:
    """``v / 1e9 < 1.0 / j`` in doubles: the portable family compares in
    DOUBLE in both engines (a decimal ``1.0 / j`` disagrees with DuckDB's
    double by one ulp for some j, e.g. 1923)."""
    return v / 1e9 < 1.0 / j


_FAMILIES = {
    "xxhash64": (coins_xxhash64, tie_accept_xxhash64),
    "portable": (coins_portable, tie_accept_portable),
}


def symmetrize_edges(edges: DataFrame, src: str = "piece1_id", dst: str = "piece2_id") -> DataFrame:
    """Undirected edge list → both directions (reference ``:36-41``)."""
    a = edges.select(F.col(src).alias("piece_id"), F.col(dst).alias("other_piece_id"))
    b = edges.select(F.col(dst).alias("piece_id"), F.col(src).alias("other_piece_id"))
    return a.unionAll(b)


def adjacency_list(edges: DataFrame, src: str = "piece1_id", dst: str = "piece2_id") -> DataFrame:
    """``(piece_id, other_piece_ids: array<long>)`` (reference ``:36-44``)."""
    return (
        symmetrize_edges(edges, src, dst)
        .groupBy("piece_id")
        .agg(F.collect_list("other_piece_id").alias("other_piece_ids"))
    )


class _Batch:
    """The loop state of whole connected components, as flat arrays.

    Vertices are indexed ``0..n-1`` in input order (each component's rows
    adjacent). The adjacency is flat, in CSR order: neighbour occurrence
    ``e`` of vertex ``src[e]`` is vertex ``nbr[e]``, or ``-1`` for an id
    that is not a vertex of the same component (only possible for a
    hand-built adjacency), which keeps its own id ``ext[e]`` as its
    label and never moves. A component with no active vertex only ages
    (staleness grows by one per step), as it would after converging
    alone, so one step over the batch is one step of each component.
    """

    def __init__(self, rows: pa.Table):
        def column(name: str, dtype) -> np.ndarray:
            return np.array(rows.column(name).to_numpy(), dtype=dtype)

        self.ids = column("piece_id", np.int64)
        self.labels = column("cluster_id", np.int64)
        self.active = column("active", bool)
        self.stale = column("stale", np.int64)
        comp = column("component", np.int64)
        self.sizes = np.diff(np.flatnonzero(np.r_[True, comp[1:] != comp[:-1], True]))
        lists = rows.column("other_piece_ids").combine_chunks()
        deg = lists.value_lengths().to_numpy(zero_copy_only=False).astype(np.int64)
        self.ext = np.asarray(lists.flatten().to_numpy(), dtype=np.int64)
        self.src = np.repeat(np.arange(len(self.ids)), deg)
        by_id = np.argsort(self.ids, kind="stable")
        at = np.minimum(np.searchsorted(self.ids, self.ext, sorter=by_id), len(by_id) - 1)
        j = by_id[at]
        inside = (self.ids[j] == self.ext) & (comp[j] == comp[self.src])
        self.nbr = np.where(inside, j, -1)

    def votes(self, edges: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """The vote maps of the sources of ``edges`` (in CSR order) as
        runs sorted by (vertex, key): ``(vertex, key, votes)``."""
        src = self.src[edges]
        nbr = self.nbr[edges]
        key = np.where(nbr >= 0, self.labels[nbr], self.ext[edges])
        o = np.lexsort((key, src))
        src, key = src[o], key[o]
        start = np.flatnonzero(np.r_[True, (src[1:] != src[:-1]) | (key[1:] != key[:-1])])
        return src[start], key[start], np.diff(np.r_[start, len(src)])

    def step(self, it: int, seed: int, family: str, tie_freeze: int | None) -> None:
        """One synchronous iteration number ``it``: every active vertex
        picks from the vote maps as they stood at the start."""
        coins, accept = _FAMILIES[family]
        vertex, key, count = self.votes(np.flatnonzero(self.active[self.src]))
        first = np.flatnonzero(np.r_[True, vertex[1:] != vertex[:-1]])
        act = vertex[first]
        group = np.repeat(np.arange(len(first)), np.diff(np.r_[first, len(vertex)]))
        top = count == np.maximum.reduceat(count, first)[group]
        # rank of each top key among its vertex's top keys, in key order
        ranked = np.cumsum(top)
        rank = ranked - np.r_[0, ranked[first[1:] - 1]][group]
        best = key[top & (rank == 1)]
        tied = np.add.reduceat(top.astype(np.int64), first) > 1
        # the reservoir over the tied keys: the j-th replaces the pick
        # with probability 1/j, so the last accepted key wins
        tie = np.flatnonzero(top & (rank > 1))
        ok = tie[accept(coins([self.ids[vertex[tie]], key[tie]], (it, seed)), rank[tie])]
        last = np.ones(len(ok), dtype=bool)
        last[:-1] = group[ok][1:] != group[ok][:-1]
        last = ok[last]
        best[group[last]] = key[last]
        move = (best != self.labels[act]) & (coins([self.ids[act]], (it, seed + 1)) <= _GATE_MAX)

        n = len(self.ids)
        moved = np.zeros(n, dtype=bool)
        moved[act[move]] = True
        received = np.zeros(n, dtype=bool)
        sent = moved[self.src] & (self.nbr >= 0)
        received[self.nbr[sent]] = True
        self.labels[act[move]] = best[move]
        self.stale = np.where(received, 0, self.stale + 1)
        was_tied = np.zeros(n, dtype=bool)
        was_tied[act] = tied
        if tie_freeze is not None:
            was_tied &= self.stale < tie_freeze
        self.active = was_tied | received

    def vote_maps(self) -> tuple[pa.Array, pa.Array]:
        """Every vertex's vote map as ``(keys, votes)`` lists, keys sorted."""
        vertex, key, count = self.votes(np.arange(len(self.src)))
        offsets = pa.array(np.r_[np.searchsorted(vertex, np.arange(len(self.ids))), len(vertex)],
                           pa.int32())
        return (pa.ListArray.from_arrays(offsets, pa.array(key, pa.int64())),
                pa.ListArray.from_arrays(offsets, pa.array(count, pa.int64())))


def _partition(batches) -> _Batch | None:
    """A partition's whole components, from its Arrow batches (rows
    sorted by ``component``; a component may span batches)."""
    batches = [b for b in batches if b.num_rows]
    return _Batch(pa.Table.from_batches(batches)) if batches else None


def chinese_whispers(
    adj: DataFrame,
    max_iter: int = 100,
    seed: int = 42,
    checkpoint: str | None = None,
    resume: bool = False,
    tie_freeze: int | None = 5,
    min_active: int | float = 0,
    hash_family: str = "xxhash64",
    stats: dict | None = None,
) -> tuple[DataFrame, int]:
    """Run the loop; returns ``(state, iterations)`` where state has
    ``(piece_id, cluster_id, cluster_counts, active, stale)``.

    ``adj`` must be a symmetric adjacency list (see :func:`adjacency_list`).
    A vertex with an empty neighbour list takes no part.

    ``resume=True`` with a durable ``checkpoint`` dir continues from the
    iteration recorded there (fixing the reference's hard-coded
    ``iter=0`` + manual-resume procedure, chinese_label_propagation.py:77
    and assets/README.md:250-251). Coins are keyed on the absolute
    iteration number, so a resumed run follows the identical trajectory
    an uninterrupted run would have taken. Without ``checkpoint`` the
    state goes to a ``clp-checkpoint-*`` temp dir that is removed when
    the interpreter exits.

    ``tie_freeze`` (round-8 convergence fix): in the reference, a vertex
    whose arg-max is TIED stays active forever — on tie-rich graphs the
    loop never converges and ``max_iter`` full iterations are always
    paid (reference cap at chinese_label_propagation.py:105). A tied
    vertex whose vote map has not changed for ``tie_freeze`` consecutive
    iterations is FROZEN: with a static map, its remaining moves are a
    pure coin walk among equal-vote labels. Freezing keeps its current
    label; any later vote-map change (a neighbour genuinely moving)
    resets the staleness counter and re-activates it, so only
    provably-stagnant ties are cut. ``tie_freeze=None`` restores the
    reference's never-converge behaviour.

    ``min_active`` (activity floor, default 0 = exact convergence): stop
    once the active-vertex count is ≤ the floor (an absolute count, or a
    fraction of the vertex count when < 1). Mutually-adjacent tied
    GROUPS keep exchanging deltas, so tie-freeze turns their activity
    into geometric decay (measured ~0.9×/iteration on the
    composed-pipeline corpus) and the exact-zero tail can cost hundreds
    of iterations for a vanishing fraction of vertices. The floor is
    deterministic and bounded: at most ``min_active`` vertices hold a
    label that one more coin flip might still have changed.

    ``hash_family``: ``"xxhash64"`` (default, production) or
    ``"portable"``, whose coins DuckDB SQL reproduces bit-for-bit (the
    oracle-gated ``chinese_whispers_portable`` query). The two families
    follow different, equally valid trajectories.

    ``stats`` (optional out-dict) receives ``active_per_iter`` (the
    active count after each iteration run by this call), ``components``
    and ``largest_component`` (vertex count).
    """
    if hash_family not in _FAMILIES:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    from hpc_hd_textreuse_etl_spark.catalog import delete_path, path_exists
    from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
        release_checkpoint,
        session_temp_dir,
        tracked_local_checkpoint,
    )
    from hpc_hd_textreuse_etl_spark.operators.graph import connected_components

    spark = adj.sparkSession
    if checkpoint is None:
        checkpoint = session_temp_dir("clp-checkpoint-")
    meta_path = f"{checkpoint}/clp_meta"
    cc_path = f"{checkpoint}/cc"

    adj = adj.filter(F.size("other_piece_ids") > 0)
    components = connected_components(
        adj.select("piece_id", F.explode("other_piece_ids").alias("other")),
        src="piece_id", dst="other", checkpoint_dir=cc_path,
    ).withColumnRenamed("node", "piece_id")
    # a piece whose only edges are self-loops is in no component's edge
    # set: it is its own component (what ``nodes=`` would add, without
    # that option's extra distinct and join)
    grouped = adj.join(components, "piece_id", "left").withColumn(
        "component", F.coalesce("component", "piece_id")
    )
    it0 = 0
    resumed = resume and path_exists(spark, meta_path)
    if resumed:
        it0 = spark.read.schema("iter int").parquet(meta_path).first()["iter"]
        state = _read_checkpoint(spark, checkpoint, it0)
        grouped = grouped.join(
            state.select("piece_id", "cluster_id", "active", "stale"), "piece_id"
        )
    else:
        grouped = grouped.select(
            "*",
            F.col("piece_id").alias("cluster_id"),
            F.lit(True).alias("active"),
            F.lit(0).alias("stale"),
        )
    # one shuffle puts every component in one partition, rows of a
    # component adjacent; pinned by pass 1's job and read from there by
    # pass 2, which may overwrite the slot a resumed state came from
    grouped = tracked_local_checkpoint(
        grouped.repartition("component").sortWithinPartitions("component"),
        eager=False,
    )
    def run(batches, stop: int) -> tuple[_Batch | None, list[int]]:
        # a partition's whole components, stepped together; the active
        # count at it0 and after each iteration run
        state = _partition(batches)
        if state is None:
            return None, []
        history = [int(state.active.sum())]
        it = it0
        while it < stop and state.active.any():
            state.step(it, seed, hash_family, tie_freeze)
            it += 1
            history.append(int(state.active.sum()))
        # every component has converged: staleness only grows to T
        state.stale += stop - it
        return state, history

    def activity(batches):
        # one row per partition: active count at it0, it0 + 1, ... summed
        # over its components, and the components' sizes
        state, history = run(batches, max_iter)
        if state is not None:
            active = np.zeros(max(max_iter - it0, 0) + 1, dtype=np.int64)
            active[:len(history)] = history
            yield pa.RecordBatch.from_pydict({
                "active": [active.tolist()],
                "vertices": [int(state.sizes.sum())],
                "largest": [int(state.sizes.max())],
                "components": [len(state.sizes)],
            })

    parts = grouped.mapInArrow(
        activity, schema="active array<long>, vertices long, largest long, components long"
    ).collect()
    active_at = np.sum([r["active"] for r in parts], axis=0, dtype=np.int64) if parts else [0]
    floor = min_active
    if isinstance(min_active, float) and 0 < min_active < 1:
        floor = int(min_active * sum(r["vertices"] for r in parts))
    stop, active_count, active_per_iter = it0, int(active_at[0]), []
    while active_count > floor and stop < max_iter:
        stop += 1
        active_count = int(active_at[stop - it0])
        active_per_iter.append(active_count)
    if stats is not None:
        stats["active_per_iter"] = active_per_iter
        stats["components"] = sum(r["components"] for r in parts)
        stats["largest_component"] = max((r["largest"] for r in parts), default=0)

    if not (resumed and stop == it0):
        def final(batches):
            state, _ = run(batches, stop)
            if state is not None:
                keys, votes = state.vote_maps()
                yield pa.RecordBatch.from_pydict({
                    "piece_id": state.ids,
                    "cluster_id": state.labels,
                    "keys": keys,
                    "votes": votes,
                    "active": state.active,
                    "stale": state.stale.astype(np.int32),
                })

        # clp_meta is the commit marker: a crash before it is rewritten
        # restarts from iteration 0 instead of reading a half-written slot
        delete_path(spark, meta_path)
        (
            grouped.mapInArrow(
                final,
                schema="piece_id long, cluster_id long, keys array<long>, "
                "votes array<long>, active boolean, stale int",
            )
            .select(
                "piece_id", "cluster_id",
                F.map_from_arrays("keys", "votes").alias("cluster_counts"),
                "active", "stale",
            )
            .write.mode("overwrite").option("compression", "zstd")
            .partitionBy("active").parquet(f"{checkpoint}/clusters_counts_{stop % 2}")
        )
        spark.range(0, 1, 1, 1).select(F.lit(stop).alias("iter")).write.mode(
            "overwrite"
        ).parquet(meta_path)
        state = _read_checkpoint(spark, checkpoint, stop)
    release_checkpoint(grouped)
    delete_path(spark, cc_path)
    return state, stop


def clustered_pieces(state: DataFrame) -> DataFrame:
    """Final ``(piece_id, cluster_id)`` (reference:
    assets/downstream_clusters.py:13-33)."""
    return state.select("piece_id", "cluster_id")


def _read_checkpoint(spark: SparkSession, checkpoint: str, it: int) -> DataFrame:
    # an explicit schema spares the inference job; a checkpoint from
    # before tie-freeze has no staleness column and starts counting at
    # zero (delays freezes, never forces one early)
    return (
        spark.read.schema(
            "piece_id long, cluster_id long, cluster_counts map<bigint,bigint>, "
            "stale int, active boolean"  # active: the partition column
        )
        .parquet(f"{checkpoint}/clusters_counts_{it % 2}")
        .withColumn("stale", F.coalesce("stale", F.lit(0)))
    )
