"""The text-reuse pipeline: the reference's full asset DAG, Spark-first.

Stage map (reference asset → builder here):

- ``textreuse_ids``       ← assets/raw_textreuses.py:141-173
- ``textreuses``          ← assets/raw_textreuses.py:181-208
- ``orig_pieces``         ← assets/orig_textreuses.py:14-38
- ``orig_textreuses``     ← assets/orig_textreuses.py:41-65
- defrag tables           ← operators/defrag.py (ipynb cells 2-6)
- ``adjacency_list`` / clusters ← operators/clustering.py (:32-200)
- ``textreuse_source_lengths``  ← assets/coverages.py:13-28
- ``coverages``           ← assets/coverages.py:36-165
- earliest / non-source / ``reception_edges`` ← assets/downstream_clusters.py:114-150, assets/reception.py:14-102
- ``source_piece_statistics``   ← assets/source_piece_statistics.py:13-85

Differences by design (SURVEY §7): native ``left_anti`` instead of
right-join+IS NULL; ``row_number``/zipWithIndex dense ids instead of an
RDD helper everywhere; the defrag UDAF is an ``applyInPandas`` scan; no
orchestrator — stages are plain functions returning DataFrames, composed
by :func:`build_pipeline` (materialization is the caller's choice via
catalog.materialise).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hpc_hd_textreuse_etl_spark.functions.ids import dense_ids
from hpc_hd_textreuse_etl_spark.functions.intervals import merge_intervals
from hpc_hd_textreuse_etl_spark.operators import defrag as D
from hpc_hd_textreuse_etl_spark.operators import clustering as C
from hpc_hd_textreuse_etl_spark.operators.reception import (
    earliest_in_group,
    non_source_members,
)

# ---------------------------------------------------------------------------
# Identity layer
# ---------------------------------------------------------------------------


def textreuse_ids(raw_hits: DataFrame) -> DataFrame:
    """Distinct document ids from both hit sides, split into
    ``(manifestation_id, structure_name)`` on the first ``.``, densely
    numbered by full text_name (reference raw_textreuses.py:141-173).

    ECCO (``0287901000``) and newspaper ids have no dot → NULL
    structure_name; EEBO (``A00003.headed_1…``) splits at the first dot.
    """
    names = (
        raw_hits.select(F.col("text1_id").alias("text_name"))
        .union(raw_hits.select(F.col("text2_id").alias("text_name")))
        .distinct()
    )
    ids = dense_ids(names, ["text_name"], "trs_id")
    has_dot = F.instr(F.col("text_name"), ".") > 0
    return ids.select(
        "trs_id",
        "text_name",
        F.substring_index("text_name", ".", 1).alias("manifestation_id"),
        F.when(
            has_dot,
            F.expr("substring(text_name, instr(text_name, '.') + 1)"),
        ).alias("structure_name"),
    )


def textreuses(raw_hits: DataFrame, trs_ids: DataFrame) -> DataFrame:
    """Re-key raw hits to int trs ids; left joins keep unmatched hits
    with NULL ids (reference raw_textreuses.py:181-208) and a dense
    ``textreuse_id`` is assigned in a stable sorted order."""
    t1 = trs_ids.select(
        F.col("text_name").alias("text1_id"), F.col("trs_id").alias("trs1_id")
    )
    t2 = trs_ids.select(
        F.col("text_name").alias("text2_id"), F.col("trs_id").alias("trs2_id")
    )
    joined = (
        raw_hits.join(t1, "text1_id", "left")
        .join(t2, "text2_id", "left")
        .select(
            "trs1_id",
            F.col("text1_text_start").alias("trs1_start"),
            F.col("text1_text_end").alias("trs1_end"),
            "trs2_id",
            F.col("text2_text_start").alias("trs2_start"),
            F.col("text2_text_end").alias("trs2_end"),
            "align_length",
            "positives_percent",
        )
    )
    # fact-scale table (one row per BLAST hit — billions at production
    # size, reference piece ids exceed 2^32): the zipWithIndex path
    # labels partitions in parallel; the window path would single-task
    # a global sort of the whole hit table
    return dense_ids(
        joined,
        ["trs1_id", "trs1_start", "trs1_end", "trs2_id", "trs2_start", "trs2_end"],
        "textreuse_id",
        use_window=False,
    )


def orig_pieces(textreuses_df: DataFrame) -> DataFrame:
    """Distinct spans from both sides → dense ``piece_id`` ordered by
    (trs_id, start, end) (reference orig_textreuses.py:14-38). UNION
    (not UNION ALL) — bidirectional duplicates collapse."""
    spans = (
        textreuses_df.select(
            F.col("trs1_id").alias("trs_id"),
            F.col("trs1_start").alias("trs_start"),
            F.col("trs1_end").alias("trs_end"),
        )
        .union(
            textreuses_df.select(
                F.col("trs2_id"), F.col("trs2_start"), F.col("trs2_end")
            )
        )
        .distinct()
    )
    # fact-scale (distinct spans ~ 2x hits) — zip path, same rationale
    # as textreuses()
    return dense_ids(
        spans, ["trs_id", "trs_start", "trs_end"], "piece_id", use_window=False
    )


def orig_textreuses(textreuses_df: DataFrame, pieces: DataFrame) -> DataFrame:
    """Edge list piece1↔piece2 via composite-key joins (reference
    orig_textreuses.py:41-65)."""
    p1 = pieces.select(
        F.col("trs_id").alias("trs1_id"),
        F.col("trs_start").alias("trs1_start"),
        F.col("trs_end").alias("trs1_end"),
        F.col("piece_id").alias("piece1_id"),
    )
    p2 = pieces.select(
        F.col("trs_id").alias("trs2_id"),
        F.col("trs_start").alias("trs2_start"),
        F.col("trs_end").alias("trs2_end"),
        F.col("piece_id").alias("piece2_id"),
    )
    return (
        textreuses_df.join(p1, ["trs1_id", "trs1_start", "trs1_end"])
        .join(p2, ["trs2_id", "trs2_start", "trs2_end"])
        .select("textreuse_id", "piece1_id", "piece2_id")
    )


# ---------------------------------------------------------------------------
# Coverage path
# ---------------------------------------------------------------------------


def textreuse_source_lengths(sources: DataFrame, trs_ids: DataFrame) -> DataFrame:
    """``(trs_id, text_length)`` (reference coverages.py:13-28; join is
    broadcast — the id dim is small relative to texts)."""
    return (
        sources.join(
            F.broadcast(trs_ids.select("trs_id", F.col("text_name"))),
            sources.doc_id == F.col("text_name"),
        )
        .select("trs_id", F.length("text").alias("text_length"))
    )


def _island_run_cols(
    part_cols: list[str], start: str, end: str, adjacency_gap: int = 1
) -> tuple[F.Column, F.Column]:
    """Per-ROW island contributions over one pair-partitioned sorted
    window: ``(new_island_flag, extent_contribution)``.

    The per-island extent sum telescopes onto rows: the row that OPENS
    an island contributes its own span ``e - s``; every later row of the
    island contributes ``max(0, e - running_max_e_before)`` (extending
    the island's right edge or nothing). Summing per pair reproduces
    ``SUM(island_end - island_start)`` over merged islands exactly —
    including the reference's extent (not union) semantics, where
    ≤``adjacency_gap`` holes inside an island count as covered. Summing
    the flags reproduces the island count. This turns the two-level
    islands aggregation into pure window expressions, so BOTH coverage
    directions run on the same rows under ONE pair-keyed exchange
    (second direction = one extra sort, no shuffle) and the per-side
    aggregate branches + their join disappear from the plan."""
    from pyspark.sql import Window

    w = Window.partitionBy(*[F.col(c) for c in part_cols]).orderBy(
        F.col(start), F.col(end)
    )
    prev_end = F.max(F.col(end)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_end.isNull() | (prev_end + F.lit(adjacency_gap) < F.col(start)),
        F.lit(1),
    ).otherwise(F.lit(0))
    contrib = F.when(
        new_island == 1, F.col(end) - F.col(start)
    ).otherwise(F.greatest(F.lit(0), F.col(end) - prev_end))
    return new_island, contrib


def coverages(
    defrag_textreuses: DataFrame,
    defrag_pieces: DataFrame,
    lengths: DataFrame,
    broadcast_lengths: bool = True,
) -> DataFrame:
    """Per-document-pair reuse coverage, both directions (reference
    coverages.py:36-165): for each (trs1, trs2) merge the t1-side spans
    (gaps-and-islands) and the t2-side spans, sum merged lengths, join
    the length dims, emit ratios ×100.

    Plan shape (round 11): ONE pair-keyed exchange total. Both island
    directions are computed on the SAME rows via per-row extent
    contributions (:func:`_island_run_cols` — the telescoping-sum
    restatement of merge-then-aggregate), so the t2 direction costs one
    extra in-partition sort instead of a second shuffle + aggregate
    branch, and the former t1⋈t2 pair-keyed join (a full sort-merge join
    of two corpus-scale aggregates) is gone: both sides aggregate in a
    single groupBy that reuses the window's partitioning. The round-10
    shape (two merge_intervals branches sharing a repartition) never
    actually shared its exchange — column pruning de-canonicalized the
    two copies and the edge subtree ran twice.

    ``broadcast_lengths``: the lengths dim is one row per DOCUMENT, so
    it scales with the corpus (the reference's production corpus has
    ~3M sources ≈ 50 MB — the broadcast hint is right there and at any
    dim that fits executors). For corpora whose document count makes
    the dim too big to broadcast, pass ``False`` and let AQE pick the
    join strategy (the deep-ladder measurement showed the pair keyspace,
    not this join, dominates at 10× anyway)."""
    p1 = defrag_pieces.select(
        F.col("piece_id").alias("piece1_id"),
        F.col("trs_id").alias("trs1_id"),
        F.col("trs_start").alias("t1_start"),
        F.col("trs_end").alias("t1_end"),
    )
    p2 = defrag_pieces.select(
        F.col("piece_id").alias("piece2_id"),
        F.col("trs_id").alias("trs2_id"),
        F.col("trs_start").alias("t2_start"),
        F.col("trs_end").alias("t2_end"),
    )
    edges = defrag_textreuses.join(p1, "piece1_id").join(p2, "piece2_id")
    pair = ["trs1_id", "trs2_id"]
    n1, c1 = _island_run_cols(pair, "t1_start", "t1_end", adjacency_gap=1)
    n2, c2 = _island_run_cols(pair, "t2_start", "t2_end", adjacency_gap=1)
    marked = edges.select(
        *pair,
        n1.alias("__n1"),
        c1.alias("__c1"),
        n2.alias("__n2"),
        c2.alias("__c2"),
    )
    both = marked.groupBy(*pair).agg(
        F.sum("__c1").alias("t1_reuses_length"),
        F.sum("__n1").cast("long").alias("t1_num_merged"),
        F.sum("__c2").alias("t2_reuses_length"),
        F.sum("__n2").cast("long").alias("t2_num_merged"),
    )

    hint = F.broadcast if broadcast_lengths else (lambda d: d)
    l1 = hint(
        lengths.select(F.col("trs_id").alias("trs1_id"), F.col("text_length").alias("t1_length"))
    )
    l2 = hint(
        lengths.select(F.col("trs_id").alias("trs2_id"), F.col("text_length").alias("t2_length"))
    )
    # reference uses LEFT JOIN on both length dims (coverages.py:161-162,
    # 304-305): pairs missing a source length keep NULL coverage ratios
    # instead of being dropped
    return (
        both.join(l1, "trs1_id", "left")
        .join(l2, "trs2_id", "left")
        .select(
            "trs1_id",
            "trs2_id",
            "t1_reuses_length",
            "t2_reuses_length",
            "t1_num_merged",
            "t2_num_merged",
            (F.col("t1_reuses_length") * 100.0 / F.col("t1_length")).alias(
                "reuse_t1_t2"
            ),
            (F.col("t2_reuses_length") * 100.0 / F.col("t2_length")).alias(
                "reuse_t2_t1"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Clusters → reception
# ---------------------------------------------------------------------------


def cluster_pieces(
    defrag_textreuses: DataFrame,
    max_iter: int = 50,
    seed: int = 42,
    stats: dict | None = None,
    tie_freeze: int | None = 5,
    min_active: int | float = 0,
) -> DataFrame:
    """``stats`` (optional out-param) records ``iterations`` and
    ``converged`` so composed-pipeline harnesses can report whether the
    CW loop terminated by convergence or by cap, plus the loop's
    ``active_per_iter``, ``components`` and ``largest_component`` (see
    :func:`chinese_whispers`). ``tie_freeze`` / ``min_active`` pass
    through to :func:`chinese_whispers` — the convergence knobs
    (tie-cycle freeze, activity floor) production callers need on
    tie-rich corpora."""
    adj = C.adjacency_list(defrag_textreuses)
    state, iters = C.chinese_whispers(
        adj, max_iter=max_iter, seed=seed,
        tie_freeze=tie_freeze, min_active=min_active, stats=stats,
    )
    if stats is not None:
        stats["iterations"] = iters
        stats["converged"] = iters < max_iter
    return C.clustered_pieces(state)


def earliest_pieces_by_cluster(
    clustered: DataFrame,
    defrag_pieces: DataFrame,
    manifestation_dates: DataFrame,
) -> DataFrame:
    """All pieces of the manifestations tied for the earliest publication
    date within each cluster (reference downstream_clusters.py:114-150;
    ties kept deliberately)."""
    members = (
        clustered.join(defrag_pieces, "piece_id")
        .join(F.broadcast(manifestation_dates), "trs_id", "left")
    )
    return earliest_in_group(members, ["cluster_id"], "publication_date").select(
        "cluster_id", "piece_id", "trs_id", "publication_date"
    )


def reception_edges(
    clustered: DataFrame,
    earliest: DataFrame,
) -> DataFrame:
    """Source piece × every non-source piece of its cluster (reference
    reception.py:14-102; anti-join is native)."""
    non_source = non_source_members(clustered, earliest.select("piece_id"), ["piece_id"])
    src = earliest.select("cluster_id", F.col("piece_id").alias("src_piece_id"))
    dst = non_source.select("cluster_id", F.col("piece_id").alias("dst_piece_id"))
    return src.join(dst, "cluster_id")


def source_piece_statistics(
    edges: DataFrame,
    defrag_pieces: DataFrame,
    clustered: DataFrame,
) -> DataFrame:
    """Per-source-piece fanout stats (reference
    source_piece_statistics.py:13-85, metadata joins elided to the
    document level): reception count, distinct destination documents,
    span length."""
    dst_pieces = defrag_pieces.select(
        F.col("piece_id").alias("dst_piece_id"),
        F.col("trs_id").alias("dst_trs_id"),
    )
    stats = (
        edges.join(dst_pieces, "dst_piece_id")
        .groupBy("src_piece_id")
        .agg(
            F.count(F.lit(1)).alias("num_reception_edges"),
            F.countDistinct("dst_trs_id").alias("num_different_documents"),
        )
    )
    src_info = defrag_pieces.select(
        F.col("piece_id").alias("src_piece_id"),
        (F.col("trs_end") - F.col("trs_start")).alias("piece_length"),
    )
    cluster_of = clustered.select(
        F.col("piece_id").alias("src_piece_id"), "cluster_id"
    )
    return stats.join(src_info, "src_piece_id").join(cluster_of, "src_piece_id")


def restricted_reception(
    clustered: DataFrame,
    defrag_pieces: DataFrame,
    manifestation_dates: DataFrame,
    eligible_trs: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Collection-restricted earliest + reception edges — the book-based
    variants (additional_assets/book_based.py:20-110) as a composition:
    semi-join members against the eligible document set, then run the
    SAME earliest/non-source/fan-out operators. The reference rebuilds
    each query with inline LEFT JOIN ... IS NULL eligibility tests; here
    eligibility is one broadcastable semi-join and the operators are
    shared with the unrestricted path.

    Returns ``(earliest, edges)`` where edges run earliest-eligible →
    non-earliest-eligible within each cluster.
    """
    members = (
        clustered.join(defrag_pieces, "piece_id")
        .join(F.broadcast(manifestation_dates), "trs_id", "left")
        .join(eligible_trs.select("trs_id"), "trs_id", "left_semi")
    )
    earliest = earliest_in_group(members, ["cluster_id"], "publication_date").select(
        "cluster_id", "piece_id", "trs_id", "publication_date"
    )
    non_source = non_source_members(
        members.select("cluster_id", "piece_id"),
        earliest.select("piece_id"),
        ["piece_id"],
    )
    src = earliest.select("cluster_id", F.col("piece_id").alias("src_piece_id"))
    dst = non_source.select("cluster_id", F.col("piece_id").alias("dst_piece_id"))
    return earliest, src.join(dst, "cluster_id")


def source_piece_statistics_full(
    edges: DataFrame,
    defrag_pieces: DataFrame,
    clustered: DataFrame,
    trs_edition_mapping: DataFrame,
    trs_work_mapping: DataFrame,
    edition_authors_df: DataFrame,
) -> DataFrame:
    """The reference's full per-source-piece statistics (10-table
    snowflake, source_piece_statistics.py:13-62): reception fanout,
    distinct destination works differing from the source work, and
    destination works whose author differs from the source author
    (including the author-less fallbacks in the CASE chain).

    Faithfully preserved quirk: ``num_reception_edges`` counts rows
    AFTER the metadata joins, so a source document with multiple
    edition/work mappings multiplies its edge count — this matches the
    reference's COUNT(*) placement. Distinct counts absorb the fan-out.
    """

    def side(prefix: str, piece_col: str):
        dp = defrag_pieces.select(
            F.col("piece_id").alias(piece_col),
            F.col("trs_id").alias(f"{prefix}_trs_id"),
            F.col("trs_start").alias(f"{prefix}_start"),
            F.col("trs_end").alias(f"{prefix}_end"),
        )
        tem = trs_edition_mapping.select(
            F.col("trs_id").alias(f"{prefix}_trs_id"),
            F.col("edition_id_i").alias(f"{prefix}_edition_id_i"),
        )
        ea = edition_authors_df.select(
            F.col("edition_id_i").alias(f"{prefix}_edition_id_i"),
            F.col("actor_id_i").alias(f"{prefix}_actor_id_i"),
        )
        twm = trs_work_mapping.select(
            F.col("trs_id").alias(f"{prefix}_trs_id"),
            F.col("work_id_i").alias(f"{prefix}_work_id_i"),
        )
        return dp, tem, ea, twm

    dp_s, tem_s, ea_s, twm_s = side("src", "src_piece_id")
    dp_d, tem_d, ea_d, twm_d = side("dst", "dst_piece_id")
    # reception_edges output carries cluster_id; keep only the piece
    # columns so the clustered join below stays unambiguous
    edges = edges.select("src_piece_id", "dst_piece_id")
    joined = (
        edges.join(dp_s, "src_piece_id")
        .join(tem_s, "src_trs_id")
        .join(ea_s, "src_edition_id_i")
        .join(twm_s, "src_trs_id")
        .join(clustered.withColumnRenamed("piece_id", "src_piece_id"), "src_piece_id")
        .join(dp_d, "dst_piece_id")
        .join(tem_d, "dst_trs_id")
        .join(ea_d, "dst_edition_id_i")
        .join(twm_d, "dst_trs_id")
    )
    diff_work = F.when(
        F.col("src_work_id_i") != F.col("dst_work_id_i"), F.col("dst_work_id_i")
    )
    diff_author_work = F.when(
        F.col("src_actor_id_i").isNotNull()
        & (
            (F.col("src_actor_id_i") != F.col("dst_actor_id_i"))
            | F.col("dst_actor_id_i").isNull()
        ),
        F.col("dst_work_id_i"),
    ).when(F.col("src_actor_id_i").isNull(), F.col("dst_work_id_i"))
    return joined.groupBy(F.col("src_piece_id").alias("piece_id")).agg(
        F.min("cluster_id").alias("cluster_id"),
        (F.min("src_end") - F.min("src_start")).alias("piece_length"),
        F.count(F.lit(1)).alias("num_reception_edges"),
        F.countDistinct(diff_work).alias("num_different_work_ids"),
        F.countDistinct(diff_author_work).alias("num_work_ids_different_authors"),
    )


def reception_edges_denorm(edges: DataFrame, defrag_pieces: DataFrame) -> DataFrame:
    """Span-denormalized reception edges for serving (reference
    reception.py:70-102): a query-time double join traded for storage —
    the reference's deliberate materialization-granularity choice
    (assets/README.md:500-506)."""
    dp1 = defrag_pieces.select(
        F.col("piece_id").alias("src_piece_id"),
        F.col("trs_id").alias("src_trs_id"),
        F.col("trs_start").alias("src_trs_start"),
        F.col("trs_end").alias("src_trs_end"),
    )
    dp2 = defrag_pieces.select(
        F.col("piece_id").alias("dst_piece_id"),
        F.col("trs_id").alias("dst_trs_id"),
        F.col("trs_start").alias("dst_trs_start"),
        F.col("trs_end").alias("dst_trs_end"),
    )
    return (
        edges.join(dp1, "src_piece_id")
        .join(dp2, "dst_piece_id")
        .select(
            "src_trs_id", "src_trs_start", "src_trs_end",
            "dst_trs_id", "dst_trs_start", "dst_trs_end",
        )
    )


def reception_coverages(edges_denorm: DataFrame, lengths: DataFrame) -> DataFrame:
    """Directed coverage over denormalized reception edges — the
    reference's ``reception_inception_between_book_coverages``
    (additional_assets/book_based.py:147-287): per (src, dst) document
    pair, merge the src-side and dst-side spans independently
    (gaps-and-islands), count merged hits and sum merged lengths, LEFT
    JOIN the dst aggregate branch and both length dims, and emit
    ``(reuse / length) * 100`` per direction.

    Unlike :func:`coverages` the pair key is DIRECTED (source → later
    destination), so the same two-sided islands machinery runs on the
    reception fan-out rather than the symmetric hit graph. Both
    directions share ONE pair-keyed exchange via the per-row island
    contributions of :func:`_island_run_cols` (second direction = one
    extra sort, no shuffle, no aggregate-branch join); length dims
    broadcast."""
    pair = ["src_trs_id", "dst_trs_id"]
    n1, c1 = _island_run_cols(pair, "src_trs_start", "src_trs_end", adjacency_gap=1)
    n2, c2 = _island_run_cols(pair, "dst_trs_start", "dst_trs_end", adjacency_gap=1)
    marked = edges_denorm.select(
        *pair,
        n1.alias("__n1"),
        c1.alias("__c1"),
        n2.alias("__n2"),
        c2.alias("__c2"),
    )
    both = marked.groupBy(*pair).agg(
        F.sum("__n1").cast("long").alias("num_reuses_src"),
        F.sum("__c1").alias("reuses_src"),
        F.sum("__n2").cast("long").alias("num_reuses_dst"),
        F.sum("__c2").alias("reuses_dst"),
    )
    l1 = F.broadcast(
        lengths.select(
            F.col("trs_id").alias("src_trs_id"),
            F.col("text_length").alias("src_length"),
        )
    )
    l2 = F.broadcast(
        lengths.select(
            F.col("trs_id").alias("dst_trs_id"),
            F.col("text_length").alias("dst_length"),
        )
    )
    return (
        both.join(l1, "src_trs_id", "left")
        .join(l2, "dst_trs_id", "left")
        .select(
            "src_trs_id",
            "num_reuses_src",
            F.col("reuses_src").alias("reuses_src_in_dst"),
            "src_length",
            ((F.col("reuses_src") / F.col("src_length")) * 100.0).alias(
                "coverage_src_in_dst"
            ),
            "dst_trs_id",
            "num_reuses_dst",
            F.col("reuses_dst").alias("reuses_dst_in_src"),
            "dst_length",
            ((F.col("reuses_dst") / F.col("dst_length")) * 100.0).alias(
                "coverage_dst_in_src"
            ),
        )
    )


def source_piece_statistics_denorm(
    stats: DataFrame, defrag_pieces: DataFrame, trs_edition_mapping: DataFrame
) -> DataFrame:
    """Statistics denormalized with piece spans and edition links
    (reference source_piece_statistics.py:65-85)."""
    dp = defrag_pieces.select(
        F.col("piece_id").alias("src_piece_id"), "trs_id", "trs_start", "trs_end"
    )
    return stats.join(dp, "src_piece_id").join(trs_edition_mapping, "trs_id")


# ---------------------------------------------------------------------------
# End-to-end assembly
# ---------------------------------------------------------------------------


@dataclass
class TextReusePipeline:
    trs_ids: DataFrame
    textreuses: DataFrame
    orig_pieces: DataFrame
    orig_textreuses: DataFrame
    piece_id_mappings: DataFrame
    defrag_pieces: DataFrame
    defrag_textreuses: DataFrame
    clustered: DataFrame
    coverages: DataFrame | None = None
    earliest: DataFrame | None = None
    reception_edges: DataFrame | None = None
    source_piece_statistics: DataFrame | None = None


def build_pipeline(
    raw_hits: DataFrame,
    sources: DataFrame | None = None,
    manifestation_dates: DataFrame | None = None,
    cluster_max_iter: int = 50,
    seed: int = 42,
) -> TextReusePipeline:
    """Run ingestion → ids → pieces → defrag → clusters (+ coverage and
    reception when the optional inputs are given). Each stage is lazily
    composed; call ``catalog.materialise`` on the stages you want
    snapshotted — at production scale every stage boundary should be
    materialized, exactly like the reference's asset DAG."""
    ids = textreuse_ids(raw_hits)
    trs = textreuses(raw_hits, ids)
    pieces = orig_pieces(trs)
    otr = orig_textreuses(trs, pieces)
    mappings = D.piece_id_mappings(pieces)
    dpieces = D.defrag_pieces(pieces, mappings)
    dtr = D.defrag_textreuses(otr.select("piece1_id", "piece2_id"), mappings)
    clustered = cluster_pieces(dtr, max_iter=cluster_max_iter, seed=seed)

    cov = None
    if sources is not None:
        lengths = textreuse_source_lengths(sources, ids)
        cov = coverages(dtr, dpieces, lengths)

    earliest = edges = stats = None
    if manifestation_dates is not None:
        earliest = earliest_pieces_by_cluster(clustered, dpieces, manifestation_dates)
        edges = reception_edges(clustered, earliest)
        stats = source_piece_statistics(edges, dpieces, clustered)

    return TextReusePipeline(
        trs_ids=ids,
        textreuses=trs,
        orig_pieces=pieces,
        orig_textreuses=otr,
        piece_id_mappings=mappings,
        defrag_pieces=dpieces,
        defrag_textreuses=dtr,
        clustered=clustered,
        coverages=cov,
        earliest=earliest,
        reception_edges=edges,
        source_piece_statistics=stats,
    )
