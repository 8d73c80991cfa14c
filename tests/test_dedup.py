"""Dedup-family semantics beyond the SQL-oracle gate: the hash-based
operators (MinHash, SimHash) are validated against exact similarity."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hpc_hd_textreuse_etl_spark.operators.dedup import (
    exact_duplicate_groups,
    lsh_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
    simhash,
    simhash_near_duplicates,
    token_jaccard_pairs,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("quick", "swift")),  # near dup
        (4, base.replace("today", "tomorrow morning")),  # near dup
        (5, "completely different content about spark shuffle partitions and joins"),
        (6, "another unrelated text mentioning catalyst optimizer rules only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicate_groups(spark, corpus):
    groups = exact_duplicate_groups(corpus, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0].keep_id == 1 and groups[0].group_size == 2


def test_minhash_signature_shape_and_determinism(spark, corpus):
    sigs1 = {r.doc_id: r.signature for r in minhash_signatures(corpus, "doc_id", "text", 16).collect()}
    sigs2 = {r.doc_id: r.signature for r in minhash_signatures(corpus, "doc_id", "text", 16).collect()}
    assert sigs1 == sigs2  # hash-deterministic
    assert all(len(s) == 16 for s in sigs1.values())
    assert sigs1[1] == sigs1[2]  # identical docs → identical signatures


def test_minhash_finds_near_dups_and_skips_distinct(spark, corpus):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_near_duplicates(
            corpus, "doc_id", "text", num_hashes=32, num_bands=8, threshold=0.5
        ).collect()
    }
    assert (1, 2) in pairs  # exact dup always survives
    # near dups 1-3 / 1-4 should be found (high shingle overlap)
    assert (1, 3) in pairs and (2, 3) in pairs
    # unrelated docs must not pair with the dup cluster
    assert not any(5 in p or 6 in p for p in pairs)


def test_minhash_delta_matches_full_run_restricted_to_delta(spark, corpus):
    """The incremental path must emit exactly the full-corpus pairs that
    touch a delta document — no re-derived base-internal pairs, no
    double-counted delta-delta pairs, identical est_jaccard values."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        minhash_near_duplicates_delta,
        minhash_signatures,
    )

    base_docs = corpus.filter(F.col("doc_id") <= 2)   # the exact-dup pair
    delta = corpus.filter(F.col("doc_id") > 2)        # near-dups + unrelated
    base_sigs = minhash_signatures(base_docs, "doc_id", "text", 32)
    got = sorted(
        map(
            tuple,
            minhash_near_duplicates_delta(
                base_sigs, delta, "doc_id", "text",
                num_hashes=32, num_bands=8, threshold=0.5,
            ).collect(),
        )
    )
    full = minhash_near_duplicates(
        corpus, "doc_id", "text", num_hashes=32, num_bands=8, threshold=0.5
    )
    delta_ids = {r.doc_id for r in delta.select("doc_id").collect()}
    want = sorted(
        tuple(r) for r in full.collect()
        if r.id_a in delta_ids or r.id_b in delta_ids
    )
    assert got == want
    assert got  # non-trivial: delta docs 3/4 pair with base docs 1/2
    # base-internal pair (1,2) is already known and must NOT reappear
    assert not any(a == 1 and b == 2 for a, b, _ in got)


def test_minhash_delta_releases_signature_blocks(spark, corpus):
    """Round-8 API fix: the delta call must not leak its big signature
    cache. Eager mode returns a small checkpointed pairs result, frees
    the delta-signature blocks before returning, and the one remaining
    (tracked) pin is freed by release_local_checkpoints()."""
    from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
        live_checkpoint_count,
        release_local_checkpoints,
    )
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        minhash_near_duplicates_delta,
        minhash_signatures,
    )

    release_local_checkpoints()
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    base_sigs = minhash_signatures(
        corpus.filter(F.col("doc_id") <= 2), "doc_id", "text", 32
    )
    out = minhash_near_duplicates_delta(
        base_sigs, corpus.filter(F.col("doc_id") > 2), "doc_id", "text",
        num_hashes=32, num_bands=8, threshold=0.5,
    )
    # exactly one live pin: the small pairs result; sig blocks released
    assert live_checkpoint_count() == 1
    assert jsc.getPersistentRDDs().size() == before + 1
    assert out.count() > 0  # result stays readable after internal release
    assert release_local_checkpoints() == 1
    assert jsc.getPersistentRDDs().size() == before


def test_signature_builders_reject_unknown_hash_family(spark, corpus):
    """A misspelt family raises instead of silently running xxhash64."""
    sigs = minhash_signatures(corpus, "doc_id", "text", 8)
    with pytest.raises(ValueError, match="hash_family"):
        minhash_signatures(corpus, "doc_id", "text", 8, hash_family="portabel")
    with pytest.raises(ValueError, match="hash_family"):
        lsh_candidate_pairs(sigs, "doc_id", 2, 4, hash_family="xxhash")
    with pytest.raises(ValueError, match="hash_family"):
        simhash("text", hash_family="md5")


def test_simhash_properties(spark, corpus):
    sigs = {
        r.doc_id: r.sig
        for r in corpus.select("doc_id", simhash("text").alias("sig")).collect()
    }
    assert sigs[1] == sigs[2]
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    # near-dup pair closer in Hamming space than unrelated pair
    assert ham(sigs[1], sigs[3]) < ham(sigs[1], sigs[5])


def test_simhash_near_duplicates(spark, corpus):
    pairs = {
        (r.id_a, r.id_b)
        for r in simhash_near_duplicates(corpus, "doc_id", "text", max_hamming=10).collect()
    }
    assert (1, 2) in pairs
    assert not any({5, 6} & set(p) for p in pairs if p != (5, 6))


def test_builder_persists_are_released_with_checkpoints(spark, corpus):
    """``simhash_near_duplicates`` and ``piece_id_mappings`` persist an
    intermediate they do not return; ``release_local_checkpoints`` frees
    it, with no ``clearCache()``."""
    from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
        release_local_checkpoints,
    )
    from hpc_hd_textreuse_etl_spark.operators.defrag import piece_id_mappings

    spark.catalog.clearCache()
    release_local_checkpoints(blocking=True)
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert simhash_near_duplicates(corpus, "doc_id", "text", max_hamming=10).collect()
    pieces = spark.createDataFrame(
        [(1, 100, 500, 1), (1, 104, 504, 2), (2, 10, 80, 3)],
        "trs_id int, trs_start int, trs_end int, piece_id long",
    )
    assert len(piece_id_mappings(pieces).collect()) == 3
    assert not cache.isEmpty()
    release_local_checkpoints(blocking=True)
    assert cache.isEmpty()


def test_simhash_banding_complete_within_guarantee(spark):
    """Pigeonhole property: with auto-derived chunks, EVERY pair within
    max_hamming must be found (compare against brute-force Hamming)."""
    rows = [
        (i, f"common core words stay fixed here tail {i % 4} extra {i % 7}")
        for i in range(25)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {
        r.doc_id: r.sig
        for r in df.select("doc_id", simhash("text").alias("sig")).collect()
    }
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    for radius in (3, 7):
        expected = {
            (a, b)
            for a in sigs
            for b in sigs
            if a < b and ham(sigs[a], sigs[b]) <= radius
        }
        got = {
            (r.id_a, r.id_b)
            for r in simhash_near_duplicates(
                df, "doc_id", "text", max_hamming=radius
            ).collect()
        }
        assert got == expected, f"radius {radius}: missing {expected - got}"


def test_minhash_estimates_track_exact_jaccard(spark):
    # estimated jaccard from 64 hashes should be within ~0.25 of the
    # exact shingle jaccard for found pairs (statistical, seed-fixed)
    rows = [
        (i, f"shared prefix tokens run along here variant {i % 3} tail section {i}")
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_near_duplicates(
            df, "doc_id", "text", num_hashes=64, num_bands=16, threshold=0.0
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in token_jaccard_pairs(df, "doc_id", "text", threshold=0.0).collect()
    }
    checked = 0
    for pair, e in est.items():
        if pair in exact:
            assert abs(e - exact[pair]) < 0.35, (pair, e, exact[pair])
            checked += 1
    assert checked > 0


def test_embedding_near_dup_unblocked_requires_opt_in(spark):
    from hpc_hd_textreuse_etl_spark.operators.dedup import embedding_near_duplicates

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [1.0, 0.01], "a"), (3, [0.0, 1.0], "b")],
        "vec_id long, embedding array<double>, label string",
    )
    # unblocked all-pairs is a CartesianProduct — refused by default
    with pytest.raises(ValueError, match="allow_full_cross"):
        embedding_near_duplicates(vecs, "vec_id", "embedding", threshold=0.9)
    # explicit opt-in runs (small-input escape hatch)
    rows = embedding_near_duplicates(
        vecs, "vec_id", "embedding", threshold=0.9, allow_full_cross=True
    ).collect()
    assert {(r.id_a, r.id_b) for r in rows} == {(1, 2)}


def test_embedding_near_dup_blocked_is_equi_join(spark):
    """The blocked path must plan an equi-join on the block key, never a
    CartesianProduct — the property that makes it survive 100 TB."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import embedding_near_duplicates

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0], f"blk{i % 3}") for i in range(30)],
        "vec_id long, embedding array<double>, label string",
    )
    df = embedding_near_duplicates(
        vecs, "vec_id", "embedding", threshold=0.0, block_cols=("label",)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "label" in plan  # join keyed on the block column
    df.count()  # and it actually executes


def test_resolve_duplicates_transitive_and_keeper(spark):
    """a~b and b~c must land in ONE group even though a,c never paired;
    order_by picks the best doc as keeper (id tiebreak makes it total)."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        drop_near_duplicates,
        resolve_duplicates,
    )

    docs = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 20.0), (4, 5.0), (5, 99.0)],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "id_a long, id_b long"  # 4, 5 are singletons
    )
    verdict = {
        r.doc_id: (r.canonical_id, r.is_canonical)
        for r in resolve_duplicates(docs, "doc_id", pairs).collect()
    }
    assert verdict == {
        1: (1, True), 2: (1, False), 3: (1, False),
        4: (4, True), 5: (5, True),
    }
    by_quality = {
        r.doc_id: (r.canonical_id, r.is_canonical)
        for r in resolve_duplicates(
            docs, "doc_id", pairs, order_by=[F.desc("quality")]
        ).collect()
    }
    assert by_quality[2] == (2, True)  # best quality in {1,2,3}
    assert by_quality[1] == (2, False) and by_quality[3] == (2, False)
    kept = {
        r.doc_id
        for r in drop_near_duplicates(
            docs, "doc_id", pairs, order_by=[F.desc("quality")]
        ).collect()
    }
    assert kept == {2, 4, 5}


def test_decontaminate_drops_overlapping_docs(spark):
    """decontaminate removes exactly the docs sharing >= min_overlap
    n-grams with the benchmark; the broadcast-anti shape keeps bodies
    out of any shuffle."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        decontaminate,
        ngram_contamination,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),   # shares 'the quick brown'
            (2, "totally unrelated words entirely here"),
            (3, "quick brown fox runs away fast"),   # shares 'quick brown fox'
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox leaps")], "doc_id long, text string"
    )
    hits = {
        r.doc_id: r.n_contaminated
        for r in ngram_contamination(corpus, bench, "doc_id", "text", n=3).collect()
    }
    assert hits == {1: 2, 3: 1}  # doc1: 'the quick brown'+'quick brown fox'
    kept = {r.doc_id for r in
            decontaminate(corpus, bench, "doc_id", "text", n=3).collect()}
    assert kept == {2}
    kept2 = {r.doc_id for r in
             decontaminate(corpus, bench, "doc_id", "text", n=3,
                           min_overlap=2).collect()}
    assert kept2 == {2, 3}


# ---------------------------------------------------------------------------
# Exact repeated-substring span dedup (ExactSubstr)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def span_corpus(spark):
    from hpc_hd_textreuse_etl_spark.operators.dedup import duplicated_token_spans

    rows = [
        # docs 1 & 2 share a 6-token run (3 merged windows at w=4)
        (1, "alpha beta gamma delta epsilon zeta unique1 tail1 x y"),
        (2, "head2 alpha beta gamma delta epsilon zeta other2 z w"),
        # doc 3 repeats its own 5-token phrase back-to-back
        (3, "rep one two three four rep one two three four end3 pad pad2"),
        (4, "totally clean document nothing shared here at all ok fine"),
        (5, "tiny doc"),  # shorter than the window: contributes no rows
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
        for r in duplicated_token_spans(df, "doc_id", "text", window=4).collect()
    }
    return df, spans


def test_duplicated_token_spans_cross_doc_and_self_repeat(span_corpus):
    _, spans = span_corpus
    # shared run covers tokens [0,6) in doc 1 and [1,7) in doc 2
    assert spans[1] == (0, 6, 3)
    assert spans[2] == (1, 7, 3)
    # self-repeat: duplicated windows at starts {0,1,5,6} merge to [0,10)
    # (the junction windows occur once and are NOT marked — the merge
    # bridges them because the marked windows overlap/touch)
    assert spans[3] == (0, 10, 4)
    # clean and too-short docs produce no spans at all
    assert 4 not in spans and 5 not in spans


def test_span_dedup_stats_emits_zeros_for_clean_docs(span_corpus):
    from hpc_hd_textreuse_etl_spark.operators.dedup import span_dedup_stats

    df, _ = span_corpus
    stats = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["n_spans"])
        for r in span_dedup_stats(df, "doc_id", "text", window=4).collect()
    }
    assert stats[1] == (10, 6, 1)
    assert stats[3] == (13, 10, 1)
    assert stats[4] == (10, 0, 0)  # clean doc present, zeroed
    assert stats[5] == (2, 0, 0)  # too-short doc present, zeroed


def test_strip_duplicated_spans_cuts_exactly_the_spans(span_corpus):
    from hpc_hd_textreuse_etl_spark.operators.dedup import strip_duplicated_spans

    df, _ = span_corpus
    out = {
        r["doc_id"]: r["clean_text"]
        for r in strip_duplicated_spans(df, "doc_id", "text", window=4).collect()
    }
    assert out[1] == "unique1 tail1 x y"
    assert out[2] == "head2 other2 z w"
    assert out[3] == "end3 pad pad2"
    # untouched docs pass through token-identically
    assert out[4] == "totally clean document nothing shared here at all ok fine"
    assert out[5] == "tiny doc"


def test_span_dedup_hashed_and_exact_keys_agree(span_corpus):
    from hpc_hd_textreuse_etl_spark.operators.dedup import duplicated_token_spans

    df, _ = span_corpus
    a = duplicated_token_spans(df, "doc_id", "text", 4, hashed_keys=True)
    b = duplicated_token_spans(df, "doc_id", "text", 4, hashed_keys=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_span_dedup_min_docs_excludes_self_repeats(span_corpus):
    from hpc_hd_textreuse_etl_spark.operators.dedup import duplicated_token_spans

    df, _ = span_corpus
    spans = duplicated_token_spans(
        df, "doc_id", "text", window=4, min_docs=2
    ).collect()
    # doc 3's within-document repeat has n_docs=1 → filtered out
    assert sorted(r["doc_id"] for r in spans) == [1, 2]


def test_token_window_grams_rejects_bad_window(span_corpus):
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        token_window_grams,
        token_window_keys,
    )

    df, _ = span_corpus
    with pytest.raises(ValueError, match="window"):
        token_window_grams(df, "doc_id", "text", 0)
    with pytest.raises(ValueError, match="window"):
        token_window_keys(df, "doc_id", "text", 0)


def test_span_dedup_count_strategies_agree(span_corpus):
    from hpc_hd_textreuse_etl_spark.operators.dedup import duplicated_token_spans

    df, _ = span_corpus
    a = duplicated_token_spans(df, "doc_id", "text", 4, count_strategy="window")
    b = duplicated_token_spans(
        df, "doc_id", "text", 4, count_strategy="groupby_join"
    )
    got = sorted(map(tuple, a.collect()))
    assert got == sorted(map(tuple, b.collect()))
    assert got  # non-trivial corpus: the agreement is over real spans


def test_span_dedup_count_strategy_validation(span_corpus):
    from hpc_hd_textreuse_etl_spark.operators.dedup import duplicated_token_spans

    df, _ = span_corpus
    with pytest.raises(ValueError, match="count_strategy"):
        duplicated_token_spans(df, "doc_id", "text", 4, count_strategy="bogus")
    # a per-partition COUNT cannot express distinct-document support
    with pytest.raises(ValueError, match="min_docs"):
        duplicated_token_spans(
            df, "doc_id", "text", 4, min_docs=2, count_strategy="window"
        )
    # auto silently routes min_docs>1 to groupby_join instead
    assert sorted(
        r["doc_id"]
        for r in duplicated_token_spans(
            df, "doc_id", "text", 4, min_docs=2, count_strategy="auto"
        ).collect()
    ) == [1, 2]


def test_duplicated_token_spans_delta_matches_batch_on_changed_docs(spark):
    """The incremental path must emit exactly the per-document span sets
    that CHANGE when the delta arrives: all delta-doc spans, plus
    refreshed spans for base docs the delta affected — including the
    hard case where a crossing window EXTENDS an existing base span —
    and nothing for unaffected base docs. Expected set derived from the
    batch pipeline, not hand enumeration."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        duplicated_token_spans,
        duplicated_token_spans_delta,
        span_dedup_state,
    )

    base_rows = [
        # b1/b2 share tokens [0,6) → existing base span; d1 will extend b1's
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta other two"),
        (3, "a totally clean base document nothing shared anywhere"),
    ]
    delta_rows = [
        # shares b1's tokens [4,8) → crosses window start=4, extends b1
        (10, "epsilon zeta eta theta trailing words here now"),
        # self-repeat entirely inside the delta
        (11, "rep one two three rep one two three end pad"),
        (12, "clean delta doc with no repeats at all whatsoever"),
    ]
    base = spark.createDataFrame(base_rows, "doc_id long, text string")
    delta = spark.createDataFrame(delta_rows, "doc_id long, text string")
    full = base.unionByName(delta)

    windows, counts = span_dedup_state(base, "doc_id", "text", window=4)
    got = {
        r["doc_id"]: set()
        for r in duplicated_token_spans_delta(
            windows, counts, delta, "doc_id", "text", window=4
        ).collect()
    }
    for r in duplicated_token_spans_delta(
        windows, counts, delta, "doc_id", "text", window=4
    ).collect():
        got[r["doc_id"]].add(tuple(r)[1:])

    def per_doc(df):
        out: dict = {}
        for r in duplicated_token_spans(df, "doc_id", "text", window=4).collect():
            out.setdefault(r["doc_id"], set()).add(tuple(r)[1:])
        return out

    full_spans, base_spans = per_doc(full), per_doc(base)
    changed = {
        i: s for i, s in full_spans.items() if s != base_spans.get(i, set())
    }
    assert got == changed
    # the specific hard cases actually occurred in this fixture:
    assert base_spans[1] == {(0, 6, 6, 3)}      # pre-existing span...
    assert got[1] == {(0, 8, 8, 4)}             # ...EXTENDED by the delta
    assert 3 not in got and 12 not in got       # untouched docs stay silent
    assert 11 in got                            # delta-internal repeat found
    from hpc_hd_textreuse_etl_spark.operators.dedup import contaminated_spans

    bench = spark.createDataFrame(
        [(100, "secret bench question alpha beta gamma delta answer")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # tokens 2..10 replicate the full benchmark doc (8 tokens → 2
            # windows at w=7... w=4: starts 2..6 duplicated)
            (1, "pre1 pre2 secret bench question alpha beta gamma delta answer post"),
            (2, "nothing from the benchmark here at all in this one"),
        ],
        ["doc_id", "text"],
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in contaminated_spans(corpus, bench, "doc_id", "text", window=4).collect()
    }
    assert spans == {1: (2, 10)}


def test_contaminated_spans_hashed_and_exact_agree(spark):
    from hpc_hd_textreuse_etl_spark.operators.dedup import contaminated_spans

    bench = spark.createDataFrame(
        [(100, "one two three four five six")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [(1, "zero one two three four five six seven"), (2, "a b c d e f g h")],
        ["doc_id", "text"],
    )
    a = contaminated_spans(corpus, bench, "doc_id", "text", 4, hashed_keys=True)
    b = contaminated_spans(corpus, bench, "doc_id", "text", 4, hashed_keys=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_contaminated_spans_bloom_strategy_agrees(spark):
    """The bloom benchmark_strategy must emit the exact broadcast-path
    output (no false negatives by construction; false positives die in
    the exact semi-join) — including at an aggressively small bitmap
    where false positives are guaranteed to occur in the pre-filter."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import contaminated_spans

    bench = spark.createDataFrame(
        [(100, "secret bench question alpha beta gamma delta answer")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "pre1 pre2 secret bench question alpha beta gamma delta answer post"),
            (2, "nothing from the benchmark here at all in this one"),
            (3, "secret bench question alpha trails off differently here now"),
        ],
        ["doc_id", "text"],
    )
    ref = contaminated_spans(corpus, bench, "doc_id", "text", window=4)
    for m_bits in (1 << 16, 1 << 6):  # 64 bits: near-saturated filter
        got = contaminated_spans(
            corpus, bench, "doc_id", "text", window=4,
            benchmark_strategy="bloom", bloom_m_bits=m_bits,
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, ref.collect())
        )
    with pytest.raises(ValueError, match="benchmark_strategy"):
        contaminated_spans(
            corpus, bench, "doc_id", "text", benchmark_strategy="bogus"
        )


def test_cut_spans_mask_token_replaces_each_span_once(spark):
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        contaminated_spans,
        cut_spans,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "pre alpha beta gamma delta mid alpha beta gamma delta post"),
            (2, "clean doc stays whole here"),
        ],
        ["doc_id", "text"],
    )
    spans = contaminated_spans(corpus, bench, "doc_id", "text", window=4)
    masked = {
        r["doc_id"]: r["clean_text"]
        for r in cut_spans(
            corpus, spans, "doc_id", "text", mask_token="<|mask|>"
        ).collect()
    }
    assert masked[1] == "pre <|mask|> mid <|mask|> post"
    assert masked[2] == "clean doc stays whole here"
    # drop policy: covered tokens vanish entirely
    dropped = {
        r["doc_id"]: r["clean_text"]
        for r in cut_spans(corpus, spans, "doc_id", "text").collect()
    }
    assert dropped[1] == "pre mid post"


def test_raw_gram_keys_immune_to_separator_confusion(spark):
    """Tokens may CONTAIN \\x1f (it is not Java-regex whitespace), so a
    bare \\x1f join is not injective: ['a\\x1fb','c'] and
    ['a','b\\x1fc'] would collide. The length-prefixed encoding
    (ADVICE r6) must keep such windows distinct — these two docs share
    no true 2-token window, so the raw-gram path must mark nothing."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        duplicated_token_spans,
        token_window_grams,
    )

    df = spark.createDataFrame(
        [(1, "a\x1fb c"), (2, "a b\x1fc")], "doc_id int, text string"
    )
    grams = {r["gram"] for r in token_window_grams(df, "doc_id", "text", 2).collect()}
    assert len(grams) == 2  # injective: the two windows stay distinct
    assert duplicated_token_spans(df, "doc_id", "text", 2, hashed_keys=False).count() == 0
    # and the default hashed path agrees (hashes the token arrays, no strings)
    assert duplicated_token_spans(df, "doc_id", "text", 2, hashed_keys=True).count() == 0


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup-style cluster-blocked embedding dedup)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb_verdicts(spark):
    from hpc_hd_textreuse_etl_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    v = semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.32, n_cells=8,
        hash_family="portable",
    )
    return emb, v.collect()


def test_semantic_dedup_covers_every_row(spark, emb_verdicts):
    emb, rows = emb_verdicts
    assert {r["vec_id"] for r in rows} == {
        r["vec_id"] for r in emb.select("vec_id").collect()
    }
    assert len(rows) == emb.count()  # exactly one verdict per row


def test_semantic_dedup_keeper_is_group_member_with_lowest_centroid_sim(
    spark, emb_verdicts
):
    """SemDeDup policy: within each duplicate group the canonical id is
    the member FARTHEST from its centroid (lowest cosine), id tiebreak;
    is_canonical is consistent with canonical_id."""
    _, rows = emb_verdicts
    by_canon = {}
    for r in rows:
        by_canon.setdefault(r["canonical_id"], []).append(r)
        assert r["is_canonical"] == (r["vec_id"] == r["canonical_id"])
    nontrivial = 0
    for canon, members in by_canon.items():
        best = min(members, key=lambda r: (r["centroid_sim"], r["vec_id"]))
        assert best["vec_id"] == canon
        if len(members) > 1:
            nontrivial += 1
    assert nontrivial > 0  # the threshold must actually exercise grouping


def test_semantic_dedup_min_id_policy(spark):
    from hpc_hd_textreuse_etl_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.32, n_cells=8,
        hash_family="portable", keep="min_id",
    ).collect()
    groups = {}
    for r in rows:
        groups.setdefault(r["canonical_id"], []).append(r["vec_id"])
    for canon, members in groups.items():
        assert canon == min(members)
    with pytest.raises(ValueError):
        semantic_dedup(emb, keep="best_quality")


def test_semantic_dedup_pair_join_is_blocked(spark):
    """The within-cell pair join must plan as an equi-join on cell_id —
    never a cartesian product (the 100 TB contract)."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        semantic_dedup(emb, "vec_id", "embedding", threshold=0.32, n_cells=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# dedup_repeated_lines (CCNet-style corpus-level paragraph dedup)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def line_corpus(spark):
    return spark.createDataFrame(
        [
            (1, "keep me\nBOILER\nunique one"),
            (2, "BOILER\nother text\nBOILER"),
            (3, "solo document"),
            (4, ""),
        ],
        "doc_id long, text string",
    )


def test_dedup_repeated_lines_keep_none(spark, line_corpus):
    from hpc_hd_textreuse_etl_spark.operators.dedup import dedup_repeated_lines

    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dedup_repeated_lines(line_corpus, "doc_id", "text").collect()
    }
    assert out == {
        1: ("keep me\nunique one", 1),  # order of survivors preserved
        2: ("other text", 2),
        3: ("solo document", 0),
        4: ("", 0),  # empty doc covered, nothing removed
    }


def test_dedup_repeated_lines_keep_first(spark, line_corpus):
    """CCNet policy: the globally-first occurrence (smallest (id, pos))
    survives; every later occurrence is dropped."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import dedup_repeated_lines

    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dedup_repeated_lines(
            line_corpus, "doc_id", "text", keep="first"
        ).collect()
    }
    assert out[1] == ("keep me\nBOILER\nunique one", 0)  # first BOILER kept
    assert out[2] == ("other text", 2)


def test_dedup_repeated_lines_hashed_agrees_with_exact(spark, line_corpus):
    """At test scale the 64-bit hash key and the exact-string key must
    produce identical results (collisions are the only divergence)."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import dedup_repeated_lines

    def snap(hashed):
        return sorted(
            tuple(r)
            for r in dedup_repeated_lines(
                line_corpus.repartition(7 if hashed else 3, "text"),
                "doc_id", "text", keep="first", hashed=hashed,
            ).collect()
        )

    assert snap(True) == snap(False)  # and partition layouts differ


def test_dedup_repeated_lines_validates_args(spark, line_corpus):
    from hpc_hd_textreuse_etl_spark.operators.dedup import dedup_repeated_lines

    with pytest.raises(ValueError):
        dedup_repeated_lines(line_corpus, "doc_id", "text", keep="last")
    with pytest.raises(ValueError):
        dedup_repeated_lines(line_corpus, "doc_id", "text", min_count=1)


def test_dedup_repeated_lines_preserves_blank_lines(spark):
    """Blank lines are paragraph STRUCTURE, not content: they repeat in
    any multi-paragraph corpus and must never be counted or removed."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import dedup_repeated_lines

    df = spark.createDataFrame(
        [(1, "para one\n\npara two"), (2, "intro\n\noutro")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dedup_repeated_lines(df, "doc_id", "text").collect()
    }
    assert out == {
        1: ("para one\n\npara two", 0),
        2: ("intro\n\noutro", 0),
    }


def test_dedup_repeated_lines_regex_meaningful_delimiter(spark):
    """delim is a LITERAL: '|' must split on pipes, not per-character
    (a raw Java-regex '|' matches the empty string everywhere)."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import dedup_repeated_lines

    df = spark.createDataFrame(
        [(1, "keep|SPAM|tail"), (2, "SPAM|other")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dedup_repeated_lines(df, "doc_id", "text", delim="|").collect()
    }
    assert out == {1: ("keep|tail", 1), 2: ("other", 1)}


def test_dedup_repeated_lines_null_text_row(spark):
    """NULL text is the empty document: the output row still appears
    with ('', 0) — never a null n_removed (every-input-row contract)."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import dedup_repeated_lines

    df = spark.createDataFrame(
        [(1, "BOILER\nreal"), (2, "BOILER\nmore"), (3, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dedup_repeated_lines(df, "doc_id", "text").collect()
    }
    assert out == {1: ("real", 1), 2: ("more", 1), 3: ("", 0)}


def test_semantic_dedup_auto_n_cells(spark):
    """n_cells=None derives ceil(N / target_cell_size) clamped to [2, N]
    — the docstring regime as code, so the default never plans (N/16)²
    pair work. Verified structurally: the number of distinct cells in
    the output is bounded by the derived count, and a tiny
    target_cell_size yields more cells than the old fixed-16 default."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    rows = semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.32,
        target_cell_size=2, lloyd_iters=1,
    ).collect()
    derived = max(2, min(n, -(-n // 2)))
    assert derived > 16
    cells = {r["cell_id"] for r in rows}
    assert len(cells) > 16  # beats the old fixed default
    assert max(cells) <= derived
    with pytest.raises(ValueError):
        semantic_dedup(emb, target_cell_size=0)


def test_ivf_portable_matmul_combination_raises(spark):
    """BLAS ulp can flip near-tied assignments — the portable family's
    bit-reproducibility contract forbids the combination loudly."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import semantic_dedup
    from hpc_hd_textreuse_etl_spark.operators.similarity import ivf_index

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="portable"):
        ivf_index(emb, hash_family="portable", assign_strategy="matmul")
    with pytest.raises(ValueError, match="portable"):
        semantic_dedup(
            emb, n_cells=8, hash_family="portable", assign_strategy="matmul"
        )


def test_semantic_dedup_lazy_escape_hatch(spark):
    """use_checkpoints=False must neither pin executor blocks nor run
    jobs at plan-construction time, and the verdicts are unchanged."""
    from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
        live_checkpoint_count,
    )
    from hpc_hd_textreuse_etl_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    before = live_checkpoint_count()
    lazy = semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.32, n_cells=8,
        hash_family="portable", use_checkpoints=False,
    )
    assert live_checkpoint_count() == before  # no pins created
    eager = semantic_dedup(
        emb, "vec_id", "embedding", threshold=0.32, n_cells=8,
        hash_family="portable",
    )
    assert sorted(map(tuple, lazy.collect())) == sorted(map(tuple, eager.collect()))


def test_signature_delta_matches_batch_restricted_to_delta(spark):
    """The image-dedup ingest leg: signature_near_duplicates_delta must
    emit exactly the batch pairs that touch a delta signature — same
    hamming values, no re-derived base-internal pairs."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        signature_near_duplicates,
        signature_near_duplicates_delta,
    )

    base_rows = [(1, 0b0000), (2, 0b0011), (7, 0x00FF000000000000)]
    delta_rows = [(3, 0b0001), (4, 0x00FF000000000001)]
    base = spark.createDataFrame(base_rows, "media_id long, sig long")
    delta = spark.createDataFrame(delta_rows, "media_id long, sig long")
    got = sorted(
        tuple(r)
        for r in signature_near_duplicates_delta(
            base, delta, "media_id", "sig", max_hamming=2
        ).collect()
    )
    full = signature_near_duplicates(
        base.unionByName(delta), "media_id", "sig", max_hamming=2
    )
    delta_ids = {i for i, _ in delta_rows}
    want = sorted(
        tuple(r) for r in full.collect()
        if r.id_a in delta_ids or r.id_b in delta_ids
    )
    assert got == want
    # the delta-touching pairs exist: 3 near 1 and 2, 4 near 7
    assert {(a, b) for a, b, _ in got} == {(1, 3), (2, 3), (4, 7)}
    # base-internal (1, 2) is already known and must NOT reappear
    assert not any(a == 1 and b == 2 for a, b, _ in got)


def _components(pairs):
    """Driver-side union-find over (id_a, id_b) rows — the reference
    implementation the star-collapse equivalence gates compare against."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_signature_star_collapse_connectivity_equivalent(spark):
    """collapse_identical=True must change the OUTPUT SHAPE (linear
    stars instead of quadratic cliques) without changing what
    resolve_duplicates would conclude: connected components over the
    star output equal components over the all-pairs output."""
    import random

    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        signature_near_duplicates,
    )

    rng = random.Random(11)
    rows = []
    # three identical-sig cliques (sizes 40, 7, 2), some near-identical
    # satellites within radius, and uniform background noise
    for i in range(40):
        rows.append((100 + i, 0x0F0F0F0F))
    for i in range(7):
        rows.append((200 + i, 0x70FF00FF00FF00FF))
    rows += [(300, -5), (301, -5)]
    rows.append((400, 0x0F0F0F0E))          # hamming 1 from clique 1
    rows.append((401, 0x70FF00FF00FF00FD))  # hamming 2 from clique 2
    for i in range(60):
        rows.append((500 + i, rng.getrandbits(63)))
    sigs = spark.createDataFrame(rows, "media_id long, sig long")
    pairs = signature_near_duplicates(
        sigs, "media_id", "sig", max_hamming=2
    ).collect()
    star = signature_near_duplicates(
        sigs, "media_id", "sig", max_hamming=2, collapse_identical=True
    ).collect()
    assert _components([(r.id_a, r.id_b) for r in pairs]) == _components(
        [(r.id_a, r.id_b) for r in star]
    )
    # output is linear in the clique sizes: the 40-clique contributes 39
    # star rows (not 780 pairs), and every hamming-0 row is a star edge
    # anchored at a group minimum
    zero = [(r.id_a, r.id_b) for r in star if r.hamming == 0]
    assert len(zero) == 39 + 6 + 1
    assert {a for a, _ in zero if a >= 100 and a < 200} == {100}
    n_zero_pairs = sum(1 for r in pairs if r.hamming == 0)
    assert n_zero_pairs == 40 * 39 // 2 + 7 * 6 // 2 + 1
    # cross-signature near-dups survive via representatives
    star_edges = {(r.id_a, r.id_b) for r in star}
    assert (100, 400) in star_edges
    assert (200, 401) in star_edges


def test_signature_delta_star_composes_with_batch_star(spark):
    """Incremental contract under collapse_identical: (star base run) +
    (star delta run) must resolve to the same connected components as
    all-pairs over base ∪ delta — re-ingested duplicates attach to the
    EXISTING base anchor, new-signature groups to their delta minimum."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import (
        signature_near_duplicates,
        signature_near_duplicates_delta,
    )

    base_rows = (
        [(i, 0x1111) for i in range(10, 30)]      # base clique, anchor 10
        + [(40, 0x2222), (41, 0x2223)]            # near pair in base
        + [(50, 0x7000DEAD0000BEEF)]
    )
    delta_rows = (
        [(100 + i, 0x1111) for i in range(15)]    # re-ingested duplicates
        + [(200, 0x3333), (201, 0x3333), (202, 0x3333)]  # new-sig clique
        + [(210, 0x2222)]                          # duplicate of base 40
        + [(220, 0x7000DEAD0000BEEE)]              # hamming 1 from base 50
    )
    base = spark.createDataFrame(base_rows, "media_id long, sig long")
    delta = spark.createDataFrame(delta_rows, "media_id long, sig long")
    base_star = signature_near_duplicates(
        base, "media_id", "sig", max_hamming=2, collapse_identical=True
    ).collect()
    delta_star = signature_near_duplicates_delta(
        base, delta, "media_id", "sig", max_hamming=2,
        collapse_identical=True,
    ).collect()
    full = signature_near_duplicates(
        base.unionByName(delta), "media_id", "sig", max_hamming=2
    ).collect()
    got = _components(
        [(r.id_a, r.id_b) for r in base_star]
        + [(r.id_a, r.id_b) for r in delta_star]
    )
    assert got == _components([(r.id_a, r.id_b) for r in full])
    # delta output is linear: 15 re-ingested dups -> 15 stars to base
    # anchor 10, not 15x20 cross pairs; the new-sig clique stars to 200
    edges = {(r.id_a, r.id_b) for r in delta_star}
    assert {(10, 100 + i) for i in range(15)} <= edges
    assert (200, 201) in edges and (200, 202) in edges
    assert (40, 210) in edges                      # base anchor, not 41
    assert (50, 220) in edges                      # cross-sig via banding
    assert len([r for r in delta_star if r.hamming == 0]) == 15 + 2 + 1
    # base-internal pairs never re-derived: every delta-leg row has a
    # delta side (stars anchor delta members; cross probes new sigs)
    base_ids = {i for i, _ in base_rows}
    assert not any(
        r.id_a in base_ids and r.id_b in base_ids for r in delta_star
    )


def test_dedup_repeated_lines_delim_regex(spark):
    """Regex callers displaced by the round-9 literal-escape fix use
    delim_regex: split on the pattern, rejoin with the literal delim."""
    from hpc_hd_textreuse_etl_spark.operators.dedup import dedup_repeated_lines

    docs = spark.createDataFrame(
        [(1, "dup\r\nuniq one"), (2, "dup\nuniq two")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in dedup_repeated_lines(
            docs, "doc_id", "text", min_count=2, delim="\n",
            delim_regex="\\r?\\n", hashed=False,
        ).collect()
    }
    assert got == {1: ("uniq one", 1), 2: ("uniq two", 1)}
