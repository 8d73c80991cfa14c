"""Physical-plan regression guards: the performance properties the
engine is designed around, asserted structurally so a refactor that
silently loses a broadcast or doubles a sort fails CI, not production.
Uses the post-AQE executed plan (the pre-execution explain prints
Initial+Final and double-counts operators)."""

from __future__ import annotations

import re

import pytest

from hpc_hd_textreuse_etl_spark.plans.queries import QUERIES
from tests.conftest import SF_SMOKE


def executed_plan(spark, name: str) -> str:
    df = QUERIES[name].builder(spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # keep only the final adaptive plan
    return plan.split("+- == Initial Plan ==")[0]


def test_pricing_summary_scan_pruned_and_pushed(spark):
    plan = executed_plan(spark, "pricing_summary")
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m and "LessThanOrEqual(l_shipdate" in m.group(1)
    m = re.search(r"ReadSchema: struct<([^>]*)", plan)
    read_cols = m.group(1)
    assert "l_comment" not in read_cols
    assert read_cols.count(":") <= 7  # only the needed columns

def test_shipping_priority_broadcasts_dims(spark):
    plan = executed_plan(spark, "shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_islands_pipeline_single_sort_exchange(spark):
    plan = executed_plan(spark, "interval_coverage")
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1
    assert len(re.findall(r"\bSort \[", plan)) == 1
    assert len(re.findall(r"\bWindow ", plan)) == 2  # both windows share them


def test_aggregations_partial_map_side(spark):
    plan = executed_plan(spark, "region_order_stats")
    assert "partial" in plan  # map-side combine before the shuffle


def test_anti_join_is_native(spark):
    plan = executed_plan(spark, "customers_without_open_orders")
    assert "LeftAnti" in plan


def test_serving_topk_is_take_ordered(spark):
    """Serving top-k queries must plan TakeOrderedAndProject (per-task
    k-row heap + driver merge), never a global sort."""
    for name in ("cluster_span_topk", "top_quote_spans"):
        plan = executed_plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        # a global Sort before the limit would mean a full-sort plan
        assert "Sort [span_days" not in plan and "Sort [n_receptions" not in plan, name


def test_reception_detail_broadcasts_selection_and_dim(spark):
    """Point-query: the source-id selection (semi-join) and the metadata
    dim must both broadcast — the fact side streams with no shuffle."""
    plan = executed_plan(spark, "reception_detail_serving")
    assert len(re.findall(r"BroadcastHashJoin .*LeftSemi", plan)) >= 1
    assert len(re.findall(r"BroadcastHashJoin", plan)) >= 2


def test_pair_coverage_plan_pinned(spark):
    """Pin the coverages plan so a bench wobble can be classified as
    noise vs regression mechanically (SCALE.md 'Islands / coverages'):
    round 11's one-pass shape — a SINGLE pair-key exchange drives both
    island directions (the t2 direction is one extra in-partition sort),
    the per-pair aggregate reuses the window partitioning (no second
    exchange), the former t1⋈t2 aggregate-branch join is gone, length
    dims broadcast (never shuffled), and no Cartesian anywhere."""
    plan = executed_plan(spark, "pair_coverage")
    # ONE pair-key exchange total; one sort per island direction
    pair_exchanges = re.findall(r"Exchange hashpartitioning\(trs1_id", plan)
    assert len(pair_exchanges) == 1, plan.count("Exchange")
    assert len(re.findall(r"\bSort \[trs1_id", plan)) == 2
    assert len(re.findall(r"\bWindow ", plan)) == 2
    # no pair-keyed SortMergeJoin survives (the aggregate-branch join)
    assert "SortMergeJoin" not in plan
    # both length dims broadcast: LeftOuter joins build a broadcast side
    assert len(re.findall(r"BroadcastHashJoin .*LeftOuter", plan)) >= 2
    assert "CartesianProduct" not in plan


def test_order_reception_edges_single_shuffle_merge_join(spark):
    """Round 11: the unique-key reception formulation must run on ONE
    shuffle — the dst branch reuses the src branch's group-key exchange
    (ReusedExchange) — and the fan-out join must be a sort-merge join
    that consumes the window partitioning directly. A BroadcastHashJoin
    here would mean the planner broadcast a corpus-proportional side
    (both fan-out sides scale with the corpus)."""
    plan = executed_plan(spark, "order_reception_edges")
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan
    # exactly one REAL exchange; the ReusedExchange node restates the
    # reused exchange's description on its own line, so exclude it
    real_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "ReusedExchange" not in ln
    ]
    assert len(real_exchanges) == 1, plan
    assert "ReusedExchange" in plan
    assert "CartesianProduct" not in plan


def test_vocab_topk_heap_and_partial_agg(spark):
    """Corpus vocabulary top-k: map-side-combined DF aggregation feeding
    a TakeOrderedAndProject heap — one exchange total, no global sort."""
    plan = executed_plan(spark, "corpus_vocab_topk")
    assert "TakeOrderedAndProject" in plan
    assert "partial" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_contamination_broadcasts_benchmark(spark):
    """Decontamination: the benchmark gram set must broadcast — the
    corpus side streams through the overlap join without a shuffle of
    gram rows keyed on the gram."""
    plan = executed_plan(spark, "benchmark_contamination")
    assert re.search(r"BroadcastHashJoin .*\[g", plan)
    assert "CartesianProduct" not in plan


def test_lsh_blocked_embedding_dedup_is_equi_join(spark):
    """The no-natural-key embedding dedup recipe: bucket blocking must
    plan an equi-join on the bucket, never a CartesianProduct."""
    plan = executed_plan(spark, "embedding_near_dup_lsh_blocked")
    assert "CartesianProduct" not in plan
    assert "lsh_bucket" in plan


def test_rollup_is_single_expand_aggregate(spark):
    """ROLLUP plan (round-11 shape): the fact table is scanned once and
    pre-aggregated to the finest grouping level with a map-side combine;
    the Expand that generates the grouping-set copies runs over the
    LEAF-GROUP rows only (a handful), never over the full scan. Two
    exchanges total — the leaf pre-aggregation over the data, plus one
    carrying only leaf-group rows into the rollup."""
    plan = executed_plan(spark, "lineitem_rollup")
    assert "Expand" in plan
    assert "partial" in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert plan.count("Scan parquet") == 1
    # the Expand must sit BETWEEN the two exchanges (it consumes
    # pre-aggregated rows, not scan rows): reading the tree top-down,
    # one exchange above it (rollup side) and one below (leaf agg side)
    tree = plan.split("(1) Scan parquet")[0]
    assert tree.index("Exchange") < tree.index("Expand") < tree.rindex("Exchange")


def test_unpivot_is_zero_shuffle_expand(spark):
    """Wide-to-long melt is pure row generation: an Expand (or union of
    projections) over one scan, never an exchange."""
    plan = executed_plan(spark, "part_measures_unpivot")
    assert "Exchange" not in plan


def test_fuzzy_join_no_cartesian(spark):
    plan = executed_plan(spark, "fuzzy_name_pairs")
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan


def test_decayed_counters_single_exchange_partial_agg(spark):
    """The decayed counter is ONE map-side-combined aggregation: one
    hash exchange, partial aggregation below it, no window, no join."""
    plan = executed_plan(spark, "decayed_customer_value")
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1
    assert "partial" in plan
    assert "Window" not in plan and "Join" not in plan


def test_boolean_and_search_single_shuffle_no_join(spark):
    """Conjunctive retrieval must stay a count-match: no n-way semi-join
    chain, one distinct+count pipeline."""
    plan = executed_plan(spark, "boolean_and_search")
    assert "Join" not in plan


def test_trigrams_topk_is_take_ordered(spark):
    plan = executed_plan(spark, "top_event_trigrams")
    assert "TakeOrderedAndProject" in plan


def test_bm25_topk_is_take_ordered_and_broadcasts_stats(spark):
    plan = executed_plan(spark, "bm25_doc_ranking")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_winsorize_broadcasts_bounds(spark):
    """The quantile bounds (a 3-row dim) must broadcast back onto the
    fact scan — a shuffle join here would re-exchange the fact table."""
    plan = executed_plan(spark, "winsorized_price_stats")
    assert "BroadcastHashJoin" in plan


def test_pit_join_is_single_window_no_range_join(spark):
    """The SCD2 point-in-time join must plan as the as-of union+window,
    never a range θ-join (CartesianProduct / BroadcastNestedLoopJoin)."""
    plan = executed_plan(spark, "orders_pit_status_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contaminated_spans_corpus_side_never_preshuffles(spark):
    """Span decontamination: benchmark gram keys broadcast into a
    left-semi join, and the only hash exchanges are the benchmark-side
    DISTINCT and the doc-keyed island sort — the 100-TB corpus side must
    reach the island merge without its own pre-join shuffle."""
    plan = executed_plan(spark, "contaminated_token_spans")
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan)
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 2


def test_duplicated_spans_hashes_grams_before_exchange(spark):
    """ExactSubstr dedup, default (window count-strategy) path: the
    64-bit window key must be projected below every exchange (shuffling
    raw window strings is the 10-30× shuffle amplification the
    hashed-keys design exists to avoid), and the whole query must run
    as ONE scan with exactly two exchanges — the key-partitioned
    occurrence-count window and the doc-keyed island sort — with no
    join back and no countDistinct."""
    plan = executed_plan(spark, "duplicated_token_spans")
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)", plan):
        assert "gram" not in m.group(1)
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 2
    assert not re.findall(r"\w*Join\w*", plan)
    assert "countDistinct" not in plan


def test_dsir_model_broadcasts_and_resample_heaps(spark):
    """The DSIR log-ratio model is bounded by num_buckets and must
    reach the per-document scoring join as a broadcast (never a
    corpus-wide shuffle on bucket); the Gumbel resample must plan as
    TakeOrderedAndProject (per-task heaps, no global sort)."""
    plan = executed_plan(spark, "dsir_resampled_docs")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_semantic_dedup_pairs_stay_equi_join(spark):
    """The within-cell pair join is the scale contract of SemDeDup:
    an equi-join on cell_id, never a cartesian product; the nearest-
    centroid argmax is a hash aggregation (partial map-side combine),
    not a window sort over the crossed candidate rows."""
    plan = executed_plan(spark, "semantic_dedup_verdicts")
    assert "CartesianProduct" not in plan
    # no window orders by the centroid similarity — the argmax is the
    # struct-max HashAggregate; the only Window left is the keeper rank
    # inside duplicate-group resolution
    assert not re.search(r"Window .*\bsim\b", plan)
    assert "HashAggregate" in plan


def test_repeated_line_dedup_counts_on_hash_keys(spark):
    """The gate query runs the exact-string mode; the PRODUCTION mode
    must group on the 8-byte xxhash64 key so the counting exchange
    never carries line bodies."""
    from pyspark.sql import functions as F

    from hpc_hd_textreuse_etl_spark.operators.dedup import dedup_repeated_lines

    df = spark.createDataFrame(
        [(1, "a\nb"), (2, "b\nc")], "doc_id long, text string"
    )
    out = dedup_repeated_lines(df, "doc_id", "text", hashed=True)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan


def test_nb_classifier_model_broadcasts_and_topk_heaps(spark):
    """The NB model is bounded by num_buckets (a config) and must reach
    the per-document scoring join as a broadcast — never a corpus-wide
    shuffle on bucket; the deployed top-k ranking must read the scores
    through a TakeOrderedAndProject (per-task heaps, no global sort of
    the scored corpus)."""
    plan = executed_plan(spark, "quality_classifier_ranking")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_codebooks_broadcast_no_cartesian(spark):
    """PQ codebooks and the per-query ADC lookup table are m·ks-row
    configs — they must reach their joins as broadcasts; the candidate
    generation is an equi-join on cell_id, never a cartesian product
    (the probe × centroids step is a broadcast nested loop over
    n_cells rows, which is the accepted one-small-side shape)."""
    plan = executed_plan(spark, "ann_ivfpq_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lr_classifier_model_broadcasts_and_topk_heaps(spark):
    """The LR model is num_buckets+1 rows (a config) and must reach the
    per-document scoring join as a broadcast; the deployed top-k
    ranking reads the scores through a TakeOrderedAndProject (per-task
    heaps); nothing in the train-then-score pipeline is a cartesian
    product (the 1-row intercept crossJoin is an explicit broadcast —
    the accepted one-row shape, rendered as BroadcastNestedLoopJoin)."""
    plan = executed_plan(spark, "quality_lr_ranking")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_signature_delta_joins_on_band_chunk(spark):
    """The image-ingest delta leg's candidate generation must be an
    equi-join keyed on (band, chunk) — the pigeonhole block key — never
    a cartesian product or a signature-wide theta join."""
    plan = executed_plan(spark, "perceptual_near_duplicate_images_delta")
    assert "CartesianProduct" not in plan
    assert re.search(r"\b(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)\b", plan)


def test_reloaded_model_scoring_plan_matches_in_session(spark):
    """Scoring from a model_store reload must keep the in-session plan
    shape: the reloaded NB model (a parquet scan now) still reaches the
    scoring join as a broadcast, and the top-k still heaps."""
    plan = executed_plan(spark, "quality_classifier_ranking_reloaded")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_star_collapse_bands_distinct_sigs_no_cartesian(spark):
    """The star-collapse scale path: identical-signature groups
    aggregate to representatives BEFORE the banding join (a
    HashAggregate feeding the band-keyed equi-join), and nothing in
    stars ∪ cross is a cartesian product."""
    plan = executed_plan(spark, "perceptual_near_duplicate_images_star")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert re.search(r"\b(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)\b", plan)


def test_delta_star_probe_is_new_sigs_only(spark):
    """The ingest-path star collapse: candidate generation stays a
    (band, chunk)-keyed equi-join (probe = corpus-NEW signatures only),
    never a cartesian product."""
    plan = executed_plan(spark, "perceptual_near_duplicate_images_delta_star")
    assert "CartesianProduct" not in plan
    assert re.search(r"\b(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)\b", plan)


def test_audio_near_dup_plan_is_banded_equi_join(spark):
    """The audio modality rides the same banding engine: fingerprints
    come out of ONE Arrow-batched pass (mapInPandas — audio bytes never
    shuffle) and the pair generation is the band-keyed equi-join."""
    plan = executed_plan(spark, "audio_near_duplicate_clips")
    assert "CartesianProduct" not in plan
    assert re.search(r"\b(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)\b", plan)
    assert "MapInPandas" in plan


def test_lr_reloaded_scoring_plan_matches_in_session(spark):
    """LR's reloaded-model leg keeps the in-session shape: the reloaded
    weight table (a parquet scan) still broadcasts into the scoring
    join and the deployed ranking still heaps."""
    plan = executed_plan(spark, "quality_lr_ranking_reloaded")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
