"""Piece defragmentation: merge near-duplicate character-offset spans.

The reference implements this as a Scala window UDAF executed in an
out-of-process notebook (``etl_textreuse/assets/piece_id_mappings.ipynb``
cells 2-6, orchestrated by ``assets/defragmentation.py:14-35``). The
aggregate is order-dependent with a buffer-pruning sequential pass and a
``merge`` that deliberately throws — i.e. it is NOT a parallel aggregate
and cannot be expressed with built-in window functions. Here the scan is
restated as a bounded self-range-join with an argmin
(:func:`raw_mappings_join`), pure Catalyst with no Python worker; the
sequential scan itself survives as :func:`defrag_scan_group`, the
pure-Python reference the tests check the join against.

Semantics replicated exactly (``piece_id_mappings.ipynb`` cell 2):

- scan pieces of one document ordered by ``(trs_start, piece_id)``;
- keep a buffer of previously seen pieces whose start is within
  ``BUFFER_WINDOW`` (180) chars before the current start (prefix-prune,
  clearing when all are older);
- the current piece maps to the FIRST buffered piece ``r`` (itself
  included, appended last) with both ``|r.start - start|`` and
  ``|r.end - end|`` ≤ ``min(max(min(len, r_len) // 4, 10), 180)``
  (integer division, lengths are ``end - start``).

Scale notes: the join is keyed on ``(trs_id, start // 180)``, so its
fan-out is the pieces within one 180-char window and one huge document
spreads over many tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hpc_hd_textreuse_etl_spark.functions.checkpoints import tracked_persist
from hpc_hd_textreuse_etl_spark.functions.ids import dense_ids

BUFFER_WINDOW = 180
MIN_LIMIT = 10
MAX_LIMIT = 180


def defrag_scan_group(starts, ends, piece_ids) -> list:
    """Sequential defrag scan over one document's pieces, already sorted
    by (start, piece_id). Returns the target piece id for each input.

    Pure-Python reference for the Spark operator, itself checked against
    a brute-force restatement in the property tests.
    """
    buf: list[tuple[int, int, int]] = []  # (start, end, piece_id)
    out = []
    drop = 0
    for s, e, pid in zip(starts, ends, piece_ids):
        # prune pieces starting more than BUFFER_WINDOW before s
        lo = s - BUFFER_WINDOW
        while drop < len(buf) and buf[drop][0] < lo:
            drop += 1
        if drop:
            buf = buf[drop:]
            drop = 0
        buf.append((s, e, pid))
        cur_len = e - s
        for rs, re, rpid in buf:
            limit = min(max(min(cur_len, re - rs) // 4, MIN_LIMIT), MAX_LIMIT)
            if abs(rs - s) <= limit and abs(re - e) <= limit:
                out.append(rpid)
                break
    return out


def piece_id_mappings(pieces: DataFrame) -> DataFrame:
    """``orig_piece_id -> defrag_piece_id`` mapping with dense renumbered
    targets (reference: ipynb cells 4-6), raw targets from
    :func:`raw_mappings_join`. ``pieces`` has the ``orig_pieces`` schema
    (``trs_id``, ``trs_start``, ``trs_end``, ``piece_id``)."""
    # the renumber consumes raw more than once (distinct targets for the
    # dense ids, final join) — persist it, tracked so that
    # release_local_checkpoints() frees it; at production scale
    # materialize it to parquet instead (the reference snapshots
    # piece_id_mappings_tmp for the same reason, ipynb cell 4)
    raw = tracked_persist(raw_mappings_join(pieces))
    # renumber distinct mapping targets densely, sorted (ipynb cell 5)
    targets = dense_ids(
        raw.select("defrag_mapping").distinct(),
        order_by=["defrag_mapping"],
        id_col="defrag_piece_id",
    )
    return raw.join(targets, "defrag_mapping").select(
        "orig_piece_id", "defrag_piece_id"
    )


def raw_mappings_join(pieces: DataFrame) -> DataFrame:
    """Defrag mapping as a bounded self-range-join — pure Catalyst, over
    ``pieces`` with the ``orig_pieces`` schema.

    Equivalence to the reference's sequential buffer scan: the buffer at
    step *i* holds exactly the prior pieces with ``start >= s_i - 180``
    (starts are scanned in ascending order, so a piece pruned once can
    never re-qualify), and the validity threshold ``|Δstart| <= limit <=
    180`` already implies membership in that window. Hence
    ``mapping(i) = argmin_(start_j, piece_j) { j : (start_j, piece_j) <=
    (start_i, piece_i), start_j >= start_i - 180, both offset deltas
    within limit }`` — the "first" buffered match is the scan-order
    minimum. The self-match is always valid, so the argmin is total.

    Scale: the join fans out only to pieces within a 180-char window per
    document (same work the buffer scan does), stays in whole-stage
    codegen, and parallelizes within documents — a 10M-piece document is
    no longer a single sequential task.
    """
    # Bin the start offsets at BUFFER_WINDOW width and join on
    # (doc, bin) instead of doc alone: a valid candidate has
    # s_a - 180 <= s_b <= s_a, hence floor(s_b/180) ∈ {bin_a - 1,
    # bin_a} — replicating each b row into its bin and the next makes
    # the pair meet exactly once (b's two bin values are distinct)
    # while the join fan-out drops from per-document QUADRATIC to
    # per-window occupancy. A 10M-piece document costs ~pieces ×
    # window-density, not pieces², and the hash key (doc, bin) also
    # spreads one huge document over many tasks.
    bin_ = F.floor(F.col("trs_start") / F.lit(BUFFER_WINDOW))
    a = pieces.select(
        F.col("trs_id").alias("doc"),
        bin_.alias("bin"),
        F.col("trs_start").alias("s_a"),
        F.col("trs_end").alias("e_a"),
        F.col("piece_id").alias("p_a"),
    )
    b = pieces.select(
        F.col("trs_id").alias("doc"),
        F.explode(F.array(bin_, bin_ + 1)).alias("bin"),
        F.col("trs_start").alias("s_b"),
        F.col("trs_end").alias("e_b"),
        F.col("piece_id").alias("p_b"),
    )
    limit = F.least(
        F.greatest(
            F.floor(F.least(F.col("e_a") - F.col("s_a"), F.col("e_b") - F.col("s_b")) / 4),
            F.lit(MIN_LIMIT),
        ),
        F.lit(MAX_LIMIT),
    )
    cand = (
        a.join(b, ["doc", "bin"])
        .filter(
            (F.col("s_b") >= F.col("s_a") - BUFFER_WINDOW)
            & (
                (F.col("s_b") < F.col("s_a"))
                | ((F.col("s_b") == F.col("s_a")) & (F.col("p_b") <= F.col("p_a")))
            )
        )
        .filter(
            (F.abs(F.col("s_b") - F.col("s_a")) <= limit)
            & (F.abs(F.col("e_b") - F.col("e_a")) <= limit)
        )
    )
    # min_by over the (s_b, p_b) ordering struct — identical argmin
    # ((s_b, p_b) is unique per group: p_b is the piece key), but the
    # aggregation buffer carries the scalar p_b instead of a struct that
    # is also the output, which measured −16% on the aggregate over the
    # candidate fan-out (interleaved A/B ×7 at sf0.1, row-identical).
    return cand.groupBy("p_a").agg(
        F.min_by("p_b", F.struct("s_b", "p_b")).alias("defrag_mapping")
    ).withColumnRenamed("p_a", "orig_piece_id")


def defrag_pieces(orig_pieces: DataFrame, mappings: DataFrame) -> DataFrame:
    """Merged piece extents (reference: assets/defragmentation.py:42-57)."""
    return (
        mappings.join(
            orig_pieces, mappings.orig_piece_id == orig_pieces.piece_id
        )
        .groupBy("defrag_piece_id", "trs_id")
        .agg(
            F.min("trs_start").alias("trs_start"),
            F.max("trs_end").alias("trs_end"),
        )
        .withColumnRenamed("defrag_piece_id", "piece_id")
    )


def defrag_textreuses(orig_textreuses: DataFrame, mappings: DataFrame) -> DataFrame:
    """Merged reuse edges with multiplicity (reference:
    assets/defragmentation.py:59-86)."""
    m1 = mappings.withColumnRenamed("orig_piece_id", "piece1_id").withColumnRenamed(
        "defrag_piece_id", "defrag1"
    )
    m2 = mappings.withColumnRenamed("orig_piece_id", "piece2_id").withColumnRenamed(
        "defrag_piece_id", "defrag2"
    )
    return (
        orig_textreuses.join(m1, "piece1_id", "left")
        .join(m2, "piece2_id", "left")
        .groupBy(F.col("defrag1").alias("piece1_id"), F.col("defrag2").alias("piece2_id"))
        .agg(F.count(F.lit(1)).alias("num_orig_links"))
    )
