"""Deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-duplicates.

Beyond the reference's surface (its defragmentation is a span-level
near-dup merge; these generalize to document level, the core of a
training-data pipeline). Design rules for 100 TB:

- candidate generation NEVER compares all pairs: LSH band buckets /
  blocking keys bound the join fan-out;
- everything is hash-based and seed-deterministic (xxhash64), so reruns
  and retries are stable — no ``rand()``;
- all expressions are Catalyst built-ins (JVM): the MinHash signature is
  ``k`` min-aggregates, SimHash is a higher-order bit fold, Jaccard is an
  explode + equi-join + count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hpc_hd_textreuse_etl_spark.functions.hashing import (
    MERSENNE_P,
    minhash_coeffs,
    portable_hash64,
    portable_hash64_sparksql,
)
from hpc_hd_textreuse_etl_spark.functions.text import char_shingles_of, tokens

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per duplicated content value with
    the keeper (min id) and the group size.

    Grouping key is ``sha2(text, 256)`` so the shuffle moves 32-byte
    digests, not document bodies — the difference between shuffling
    ~100 TB and ~3 TB at corpus scale.
    """
    hashed = df.select(
        F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_hash")
    )
    return (
        hashed.groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .filter(F.col("group_size") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_size: int = 5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """``(id, signature: array<long>)`` — k independent min-hashes over
    the document's distinct character shingles.

    One explode + one grouped aggregation with ``k`` min() columns: a
    single shuffle on the id, map-side combined. Fully deterministic.
    Kept deliberately in EXPLODE form: hashes and mins over exploded
    rows run inside whole-stage codegen, which measured 2-4× faster
    than the tempting in-row ``array_min(transform(...))`` formulation
    (higher-order-function lambdas evaluate interpreted, outside
    codegen) — the shuffle it saves is map-side combined to k longs
    per id and costs nothing by comparison. The expensive part of
    shingling itself is handled in char_shingles_of (compiled-regex
    pass).

    ``hash_family``:

    - ``"xxhash64"`` (default): xxhash64(shingle, i) is the i-th family
      member — fastest, JVM-native, the production path.
    - ``"portable"``: universal family ``(a_i*(H(s) mod p)+b_i) mod p``
      over the md5-based 60-bit hash (functions/hashing.py) — exactly
      reproducible in DuckDB SQL, so the whole pipeline runs under the
      value-hash oracle gate. The mod-p wrap keeps the family
      non-monotone; a bare linear transform would make every member
      pick the same argmin shingle.
    """
    from hpc_hd_textreuse_etl_spark.functions.skew import spread_small_input

    # array_distinct first: every exploded row costs k hash evaluations
    # below, so deduplicating shingles up front is map-side reduction.
    # spread_small_input: the shingle hashing below is the pipeline's
    # dominant CPU and runs BELOW the first exchange — an
    # under-partitioned input (single row group / gzip file) would
    # serialize it on one core (guide §2.5); no-op on well-split inputs.
    base = spread_small_input(df.select(F.col(id_col), F.col(text_col)))
    shingled = base.select(
        F.col(id_col),
        F.explode(F.array_distinct(char_shingles_of(text_col, shingle_size))).alias(
            "shingle"
        ),
    )
    if hash_family == "portable":
        base = F.pmod(portable_hash64(F.col("shingle")), F.lit(MERSENNE_P))
        shingled = shingled.select(F.col(id_col), base.alias("hb"))
        mins = [
            F.min(
                (F.lit(a) * F.col("hb") + F.lit(b)) % F.lit(MERSENNE_P)
            ).alias(f"h{i}")
            for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
        ]
    else:
        # k independent seeded hashes per shingle. NOT a linear family
        # a_i*h+b_i over one base hash: without wrapping (ANSI mode forbids
        # overflow) a monotone transform makes every member pick the same
        # min-shingle, degenerating the whole signature. The whole
        # k-min aggregation is ONE parsed expression (array of mins):
        # composing it from k×4 Column objects costs ~4k py4j round
        # trips of pure driver latency per plan build — profiled at
        # ~0.7 s of the builder's ~1.1 s for k=32.
        sig = F.expr(
            "array("
            + ", ".join(f"min(xxhash64(shingle, {i}))" for i in range(num_hashes))
            + ")"
        ).alias("signature")
        return shingled.groupBy(id_col).agg(sig)
    agg = shingled.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature"),
    )


def _band_table(
    signatures: DataFrame,
    id_col: str,
    num_bands: int,
    rows_per_band: int,
    hash_family: str,
) -> DataFrame:
    """``(id, band, band_hash)`` — one row per signature band; the
    bucketing table both the full self-join and the delta join build
    their candidate joins on. Pure in-row (k element_at + concat per
    band), so re-deriving it from a MATERIALIZED signature table is
    cheap — the point of persisting signatures at production scale."""

    def band_elems(b: int) -> str:
        return ", ".join(
            f"element_at(signature, {b * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        )

    if hash_family == "portable":

        def band_hash(b: int) -> Column:
            return portable_hash64(
                F.concat(
                    F.expr(f"concat_ws(',', {band_elems(b)})"), F.lit(f"#{b}")
                )
            )

        return signatures.select(
            F.col(id_col),
            F.posexplode(
                F.array(*[band_hash(b) for b in range(num_bands)])
            ).alias("band", "band_hash"),
        )
    # the whole banding generator is ONE parsed expression — composing
    # num_bands × rows_per_band element_at/concat/hash Columns costs
    # hundreds of py4j round trips of driver plan-build latency
    bands = ", ".join(
        f"xxhash64(concat_ws(',', {band_elems(b)}), {b})"
        for b in range(num_bands)
    )
    return signatures.selectExpr(
        id_col, f"posexplode(array({bands})) AS (band, band_hash)"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_bands: int = 8,
    rows_per_band: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Banding: documents agreeing on ALL rows of ≥1 band become a
    candidate pair ``(id_a < id_b)``. The self-join runs per (band,
    band_hash) bucket — bounded fan-out, no all-pairs comparison."""
    bands = _band_table(signatures, id_col, num_bands, rows_per_band, hash_family)
    a = bands.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_size: int = 5,
    num_bands: int = 8,
    threshold: float = 0.8,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """End-to-end MinHash near-dup: LSH candidates verified by estimated
    Jaccard (signature agreement fraction) ≥ threshold."""
    rows_per_band = num_hashes // num_bands
    # signatures feed banding AND both sides of the verify join — persist
    # (at production scale, materialize the signature table to parquet)
    sigs = minhash_signatures(
        df, id_col, text_col, num_hashes, shingle_size, hash_family
    ).persist()
    cands = lsh_candidate_pairs(sigs, id_col, num_bands, rows_per_band, hash_family)
    return _verify_candidates(cands, sigs, id_col, num_hashes, threshold)


def _verify_candidates(
    cands: DataFrame,
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    threshold: float,
) -> DataFrame:
    """Estimated-Jaccard verify shared by the batch, delta, and
    streaming pipelines: join both signature sides onto the candidate
    pairs, score by signature agreement fraction, keep ≥ threshold."""
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    est = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda eq: eq,
                )
            ).cast("double")
            / num_hashes,
        )
    )
    return est.filter(F.col("est_jaccard") >= threshold).select(
        "id_a", "id_b", "est_jaccard"
    )


def lsh_candidate_pairs_delta(
    base_signatures: DataFrame,
    delta_signatures: DataFrame,
    id_col: str,
    num_bands: int = 8,
    rows_per_band: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Candidate pairs INTRODUCED by a delta of new documents against a
    corpus whose signatures are already materialized — the daily-ingest
    dedup pattern. Joins the delta's bands against the (base ∪ delta)
    band table, so the bucket join's probe side scales with |delta|,
    not |corpus|²; base-internal pairs (already known from the run that
    built the base table) are never re-derived. Returns ``(id_a <
    id_b)`` pairs where at least one side is a delta document,
    delta-delta pairs included once. Ids must be unique across base ∪
    delta (re-submitted ids are CDC's job — resolve before calling).
    Exactly the pairs :func:`lsh_candidate_pairs` on the full corpus
    would emit restricted to pairs touching the delta (equivalence-
    tested)."""
    all_bands = _band_table(
        base_signatures.unionByName(delta_signatures),
        id_col, num_bands, rows_per_band, hash_family,
    ).select(F.col(id_col).alias("__id_all"), "band", "band_hash")
    new_bands = _band_table(
        delta_signatures, id_col, num_bands, rows_per_band, hash_family
    ).select(F.col(id_col).alias("__id_new"), "band", "band_hash")
    return (
        new_bands.join(all_bands, ["band", "band_hash"])
        .filter(F.col("__id_new") != F.col("__id_all"))
        .select(
            F.least("__id_new", "__id_all").alias("id_a"),
            F.greatest("__id_new", "__id_all").alias("id_b"),
        )
        .distinct()
    )


def minhash_near_duplicates_delta(
    base_signatures: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    shingle_size: int = 5,
    num_bands: int = 8,
    threshold: float = 0.8,
    hash_family: str = "xxhash64",
    eager: bool = True,
) -> DataFrame:
    """Incremental MinHash near-dup: signatures for the DELTA documents
    only, banded against the materialized base signature table, then the
    usual estimated-Jaccard verify — per-ingest cost is shingling the
    delta plus one bucket join, never a corpus re-scan. Same output
    contract as :func:`minhash_near_duplicates`, restricted to pairs
    with at least one delta side. ``base_signatures`` must come from
    :func:`minhash_signatures` with the SAME (num_hashes, shingle_size,
    hash_family) — mixed-parameter tables produce garbage buckets, which
    is why production pipelines version the signature table by its
    parameters.

    Cache lifetime (round-8 API fix — the delta signatures feed banding
    AND the verify join, so they must be pinned once): with the default
    ``eager=True`` the pairs are computed HERE and returned as a small
    locally-checkpointed result, and the large delta-signature blocks
    are released before returning — no big block outlives the call. The
    small result pin is tracked; ``release_local_checkpoints()`` (or the
    registry's per-asset hygiene) frees it after the caller materializes
    downstream. ``eager=False`` keeps the old lazy plan for callers that
    compose further (predicate pushdown into the verify join); then the
    delta-signature checkpoint stays tracked until the same release
    hook, instead of leaking as an untracked ``persist()``."""
    from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
        release_checkpoint,
        tracked_local_checkpoint,
    )

    rows_per_band = num_hashes // num_bands
    delta_sigs = tracked_local_checkpoint(
        minhash_signatures(
            delta, id_col, text_col, num_hashes, shingle_size, hash_family
        )
    )
    cands = lsh_candidate_pairs_delta(
        base_signatures, delta_sigs, id_col, num_bands, rows_per_band, hash_family
    )
    sigs = base_signatures.unionByName(delta_sigs)
    pairs = _verify_candidates(cands, sigs, id_col, num_hashes, threshold)
    if not eager:
        return pairs
    pairs = tracked_local_checkpoint(pairs)
    release_checkpoint(delta_sigs)
    return pairs


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(colname: str, bits: int = 64, hash_family: str = "xxhash64") -> Column:
    """SimHash of whitespace tokens: per bit position, sum ±1 votes over
    token hashes; bit set where the vote sum is positive. One Catalyst
    fold carrying an ``array<long>`` of bit votes, evaluated once, then a
    zip_with pack. Written as a SQL expression because SQL-level
    shiftleft/shiftright accept column shift amounts (the Python wrapper
    does not). Near-duplicate docs differ in few bits (Hamming).

    ``hash_family="portable"`` swaps the token hash for the md5-based
    60-bit portable hash (functions/hashing.py) so the signature is
    reproducible in DuckDB SQL; pass ``bits<=60`` with it (the base hash
    only carries 60 bits)."""
    if hash_family == "portable":
        if bits > 60:
            raise ValueError("portable simhash carries at most 60 bits")
        tok_hash = portable_hash64_sparksql("t")
    else:
        tok_hash = "xxhash64(t)"
    toks_sql = f"filter(split({colname}, '\\\\s+'), t -> t != '')"
    return F.expr(
        f"""
      aggregate(
        zip_with(
          aggregate(
            {toks_sql},
            array_repeat(0L, {bits}),
            (acc, t) -> zip_with(
              acc,
              transform(sequence(0, {bits - 1}),
                        b -> IF((shiftright({tok_hash}, b) & 1) = 1, 1L, -1L)),
              (a, v) -> a + v)
          ),
          sequence(0, {bits - 1}),
          (v, b) -> IF(v > 0, shiftleft(1L, b), 0L)
        ),
        0L,
        (acc, x) -> acc | x
      )"""
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    band_bits: int | None = None,
    bits: int = 64,
    hash_family: str = "xxhash64",
    collapse_identical: bool = False,
) -> DataFrame:
    """SimHash near-dup with banded blocking: split the ``bits``-wide
    signature into chunks; by pigeonhole, pairs within Hamming ≤
    (n_chunks - 1) share at least one exact chunk — join only within
    chunk buckets, then verify exact Hamming distance.

    ``band_bits=None`` derives the chunk width from ``max_hamming`` so
    the pigeonhole guarantee actually covers the requested radius
    (n_chunks = max_hamming + 1); passing a wider ``band_bits`` trades
    recall beyond the guarantee for fewer buckets."""
    if hash_family == "portable":
        bits = min(bits, 60)
    from hpc_hd_textreuse_etl_spark.functions.skew import spread_small_input

    # the per-document bit-vote fold is the pipeline's dominant CPU and
    # runs under the first exchange — an under-partitioned input
    # serializes it on one core (guide §2.5); no-op on split inputs.
    # persist: the signature table feeds BOTH sides of the banding
    # self-join, and the fold projection sits above the shared exchange
    # on each side — unpinned, the fold evaluated once per side
    # (the minhash signature-persist pattern; released at the
    # registry/bench hygiene points).
    sigs = (
        spread_small_input(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), simhash(text_col, bits, hash_family).alias("sig"))
        .persist()
    )
    return signature_near_duplicates(
        sigs, id_col, "sig", max_hamming, band_bits, bits, collapse_identical
    )


def signature_near_duplicates(
    sigs: DataFrame,
    id_col: str,
    sig_col: str = "sig",
    max_hamming: int = 3,
    band_bits: int | None = None,
    bits: int = 64,
    collapse_identical: bool = False,
) -> DataFrame:
    """All pairs within Hamming ``max_hamming`` over ANY precomputed
    64-bit-or-narrower signature column — the banding engine shared by
    SimHash text dedup (:func:`simhash_near_duplicates`) and perceptual
    image dedup (operators/multimodal.py ``perceptual_image_hashes``).

    Pigeonhole blocking: the signature splits into chunks; a pair
    within radius ``max_hamming`` must agree exactly on at least one of
    ``max_hamming + 1`` chunks, so candidates come from an equi-join on
    ``(band, chunk)`` — LOSSLESS within the radius, never all-pairs —
    then exact ``bit_count(xor)`` verification. The shuffle carries
    ``(id, sig, band, chunk)`` quadruples (≤ 32 bytes/row × n_bands),
    never payloads.

    ``collapse_identical=True`` is the duplicate-heavy-corpus scale
    path: a group of g bit-identical signatures (flat images, templated
    pages) otherwise emits the full g·(g−1)/2 clique — quadratic in the
    group size, and duplicate-heavy corpora are exactly where dedup
    runs. Collapsed, each identical-sig group emits a STAR to its
    min-id representative (g−1 hamming-0 rows, linear) and only
    DISTINCT signatures enter the banding join, so cross-signature
    pairs are emitted once per signature pair, not once per member
    pair. The star output is connectivity-equivalent to the all-pairs
    output (every clique is connected through its representative), so
    :func:`resolve_duplicates`' connected-component verdicts — the
    downstream consumer in every curation pipeline — are IDENTICAL
    (tests/test_dedup.py gates this); only per-member-pair hamming
    listings are dropped. Default stays all-pairs: that listing is the
    documented contract of the gated queries and of callers that score
    pair distances."""
    if collapse_identical:
        groups = sigs.groupBy(F.col(sig_col).alias("__sig")).agg(
            F.min(id_col).alias("__rep")
        )
        stars = (
            sigs.join(groups, F.col(sig_col) == F.col("__sig"))
            .filter(F.col(id_col) != F.col("__rep"))
            .select(
                F.col("__rep").alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(0).cast("int").alias("hamming"),
            )
        )
        reps = groups.select(F.col("__rep").alias(id_col), F.col("__sig").alias("sig"))
        cross = signature_near_duplicates(
            reps, id_col, "sig", max_hamming, band_bits, bits,
            collapse_identical=False,
        ).filter(F.col("hamming") > 0)  # distinct sigs: never 0, kept explicit
        return stars.unionByName(cross)
    band_bits, n_bands = _resolve_sig_bands(max_hamming, band_bits, bits)
    chunks = _sig_chunks(sigs, id_col, sig_col, band_bits, n_bands)
    a = chunks.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "band", "chunk"
    )
    b = chunks.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "band", "chunk"
    )
    return (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming_distance(F.col("sig_a"), F.col("sig_b")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _resolve_sig_bands(
    max_hamming: int, band_bits: int | None, bits: int
) -> tuple[int, int]:
    if band_bits is None:
        n_chunks = min(max_hamming + 1, bits)
        band_bits = max(bits // n_chunks, 1)
    return band_bits, bits // band_bits


def _sig_chunks(
    sigs: DataFrame, id_col: str, sig_col: str, band_bits: int, n_bands: int
) -> DataFrame:
    """``(id, sig, band, chunk)`` — one row per signature band; the
    pigeonhole block table both signature dedup legs join on."""
    return sigs.select(
        F.col(id_col),
        F.col(sig_col).alias("sig"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(sig_col), b * band_bits).bitwiseAND(
                        F.lit((1 << band_bits) - 1)
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "chunk"),
    )


def signature_near_duplicates_delta(
    base_sigs: DataFrame,
    delta_sigs: DataFrame,
    id_col: str,
    sig_col: str = "sig",
    max_hamming: int = 3,
    band_bits: int | None = None,
    bits: int = 64,
    collapse_identical: bool = False,
) -> DataFrame:
    """Near-duplicate pairs INTRODUCED by a delta of new signatures
    against a corpus whose signature table is already materialized — the
    daily-ingest leg of :func:`signature_near_duplicates`, and the image
    sibling of :func:`lsh_candidate_pairs_delta`: new images are hashed
    (operators/multimodal.py ``perceptual_image_hashes``), their 8-byte
    signatures appended to the signature table, and only the DELTA is
    banded against (base ∪ delta) — so the probe side of the bucket join
    scales with |delta|, not |corpus|, and base-internal pairs (already
    known from the run that built the base table) are never re-derived.

    Returns the same ``(id_a < id_b, hamming)`` contract as the batch
    leg, restricted to pairs with at least one delta side (delta–delta
    pairs included once). Ids must be unique across base ∪ delta; both
    tables must hold signatures from the SAME hash method and
    ``(hash_w, hash_h)`` — mixed-parameter signature tables produce
    garbage Hamming distances, which is why production pipelines version
    the signature table by its parameters (the
    :func:`minhash_near_duplicates_delta` contract).

    ``collapse_identical=True`` mirrors the batch leg's star collapse
    on the ingest path: every delta member attaches by a hamming-0 star
    edge to its signature's ANCHOR (the min base id holding that
    signature if one exists — so a re-ingested duplicate connects
    straight into the existing cluster — else the min delta id), and
    only signatures NEW to the corpus enter the banding join against
    the corpus's distinct signatures. Output stays linear in the delta
    even when the delta is one viral image re-uploaded 10⁶ times, and
    the union of a star base run + star delta runs is connectivity-
    equivalent to all-pairs over base ∪ delta (gated in
    tests/test_dedup.py). Anchors deliberately match the batch leg's
    min-id representatives so incremental runs compose with a batch
    base run."""
    if collapse_identical:
        base_groups = base_sigs.groupBy(F.col(sig_col).alias("__sig")).agg(
            F.min(id_col).alias("__base_rep")
        )
        delta_groups = delta_sigs.groupBy(F.col(sig_col).alias("__sig")).agg(
            F.min(id_col).alias("__delta_rep")
        )
        anchors = delta_groups.join(base_groups, "__sig", "left").select(
            "__sig",
            F.coalesce("__base_rep", "__delta_rep").alias("__anchor"),
            F.col("__base_rep").isNotNull().alias("__sig_in_base"),
        )
        stars = (
            delta_sigs.join(anchors, F.col(sig_col) == F.col("__sig"))
            .filter(F.col(id_col) != F.col("__anchor"))
            .select(
                F.least(id_col, "__anchor").alias("id_a"),
                F.greatest(id_col, "__anchor").alias("id_b"),
                F.lit(0).cast("int").alias("hamming"),
            )
        )
        new_reps = anchors.filter(~F.col("__sig_in_base")).select(
            F.col("__anchor").alias(id_col), F.col("__sig").alias("sig")
        )
        base_reps = base_groups.select(
            F.col("__base_rep").alias(id_col), F.col("__sig").alias("sig")
        )
        # new sigs are by construction absent from base, so base_reps
        # and new_reps are disjoint — the plain delta machinery applies:
        # probe = new-signature reps, build = distinct corpus signatures
        cross = signature_near_duplicates_delta(
            base_reps, new_reps, id_col, "sig",
            max_hamming, band_bits, bits, collapse_identical=False,
        ).filter(F.col("hamming") > 0)
        return stars.unionByName(cross)
    band_bits, n_bands = _resolve_sig_bands(max_hamming, band_bits, bits)
    all_chunks = _sig_chunks(
        base_sigs.unionByName(delta_sigs), id_col, sig_col, band_bits, n_bands
    ).select(
        F.col(id_col).alias("id_all"), F.col("sig").alias("sig_all"),
        "band", "chunk",
    )
    new_chunks = _sig_chunks(
        delta_sigs, id_col, sig_col, band_bits, n_bands
    ).select(
        F.col(id_col).alias("id_new"), F.col("sig").alias("sig_new"),
        "band", "chunk",
    )
    return (
        new_chunks.join(all_chunks, ["band", "chunk"])
        .filter(F.col("id_new") != F.col("id_all"))
        .select(
            F.least("id_new", "id_all").alias("id_a"),
            F.greatest("id_new", "id_all").alias("id_b"),
            hamming_distance(F.col("sig_new"), F.col("sig_all")).alias(
                "hamming"
            ),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Exact n-gram / token Jaccard
# ---------------------------------------------------------------------------


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    block_cols: Sequence[str] = (),
) -> DataFrame:
    """Exact Jaccard over distinct whitespace tokens for all pairs that
    share ≥1 token (and agree on optional blocking columns). The
    token-level equi-join bounds the candidate set; blocking columns
    (language, length bucket, …) bound it further at corpus scale."""
    tok = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tok"))
    a = tok.select(
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in block_cols],
        "tok",
    )
    b = tok.select(
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        "tok",
    )
    cond = [a.tok == b.tok] + [
        F.col(f"{c}_a") == F.col(f"{c}_b") for c in block_cols
    ]
    inter = (
        a.join(b, cond)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_tok").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_tok").alias("n_b"))
    out = (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# Embedding cosine near-duplicates
# ---------------------------------------------------------------------------


def vector_norm(a: Column) -> Column:
    """L2 norm of a float-array column (double fold, deterministic)."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float-array columns (double fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None) -> Column:
    """Cosine similarity ``dot/(|a|·|b|)`` in double (deterministic,
    bit-identical to the DuckDB oracle formula).

    Pass precomputed ``norm_a``/``norm_b`` columns on pairwise workloads:
    the arithmetic (and therefore the bits) is unchanged, but norms are
    computed once per ROW instead of once per PAIR — 3× fewer folds on
    an all-pairs scan."""
    na = vector_norm(a) if norm_a is None else norm_a
    nb = vector_norm(b) if norm_b is None else norm_b
    return dot(a, b) / (na * nb)


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    block_cols: Sequence[str] = (),
    allow_full_cross: bool = False,
) -> DataFrame:
    """All pairs (within blocks) with cosine ≥ threshold. Blocking keys
    (cluster/label/LSH bucket) keep the join from being all-pairs.

    Without ``block_cols`` the only plan is a CartesianProduct — O(n²)
    rows, a scale-killer one default argument away at 100 TB — so
    unblocked input must opt in explicitly with ``allow_full_cross=True``
    (sane only for small, already-filtered inputs). The blocked path is
    an equi-join on the block keys (asserted in tests/test_dedup.py)."""
    if not block_cols and not allow_full_cross:
        raise ValueError(
            "embedding_near_duplicates without block_cols is an all-pairs "
            "crossJoin (O(n^2)); pass block_cols (label / LSH bucket / "
            "cluster id) or opt in explicitly with allow_full_cross=True "
            "for small inputs"
        )
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        vector_norm(F.col(vec_col)).alias("norm_a"),
        *[F.col(c) for c in block_cols],
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        vector_norm(F.col(vec_col)).alias("norm_b"),
        *[F.col(c) for c in block_cols],
    )
    joined = a.join(b, list(block_cols)) if block_cols else a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            cosine(F.col("vec_a"), F.col("vec_b"), F.col("norm_a"), F.col("norm_b")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Duplicate resolution: candidate pairs -> groups -> canonical keeper
# ---------------------------------------------------------------------------


def resolve_duplicates(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    order_by: Sequence[Column] | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Turn near-dup candidate PAIRS into a per-document verdict — the
    step an actual curation pipeline needs after MinHash/SimHash/cosine
    candidate generation: transitively-connected duplicate groups (a~b,
    b~c => {a,b,c} even if a,c never paired) with ONE canonical keeper
    per group.

    Returns ``(id, canonical_id, is_canonical)`` covering EVERY row of
    ``df``; singletons are their own canonical. Groups come from
    connected components over the pair graph (operators/graph.py: a
    union-find per task over the canonical pairs, written once, then
    O(log n) bounded-shuffle star rounds only if more than one task held
    pairs; at corpus scale pass a shared ``checkpoint_dir``); the pair
    graph is orders of magnitude smaller than the corpus, so CC never
    touches document bodies.

    Keeper choice: by default the smallest id in the group (equals the
    component label — deterministic and engine-reproducible). Pass
    ``order_by`` (e.g. quality score desc) to keep the best document
    instead; a trailing id tiebreak makes that total, so retries and
    engines agree.
    """
    from hpc_hd_textreuse_etl_spark.operators.graph import connected_components

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    nodes = df.select(F.col(id_col)).distinct()
    comp = connected_components(
        edges, nodes=nodes, node_col=id_col, checkpoint_dir=checkpoint_dir
    )
    if order_by is None:
        # component label IS min(id) over the group
        return comp.select(
            F.col(id_col),
            F.col("component").alias("canonical_id"),
            (F.col(id_col) == F.col("component")).alias("is_canonical"),
        )
    from pyspark.sql import Window

    ranked = (
        df.join(comp, id_col)
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("component").orderBy(
                    *order_by, F.asc(id_col)
                )
            ),
        )
    )
    keepers = ranked.filter(F.col("__rk") == 1).select(
        F.col("component"), F.col(id_col).alias("canonical_id")
    )
    return (
        ranked.join(keepers, "component")
        .select(
            F.col(id_col),
            "canonical_id",
            (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
        )
    )


def drop_near_duplicates(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    order_by: Sequence[Column] | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """``df`` with only canonical documents kept — the filtered corpus a
    training run consumes. Semi-join on the keeper set, so document
    bodies stream through one broadcastable join and never shuffle."""
    verdict = resolve_duplicates(
        df, id_col, pairs, id_a, id_b, order_by, checkpoint_dir
    )
    keepers = verdict.filter(F.col("is_canonical")).select(id_col)
    return df.join(keepers, id_col, "left_semi")


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_cells: int | None = None,
    lloyd_iters: int = 2,
    seed: int = 42,
    hash_family: str = "xxhash64",
    keep: str = "low_centroid_sim",
    checkpoint_dir: str | None = None,
    assign_strategy: str = "fold",
    target_cell_size: int = 4096,
    use_checkpoints: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): k-means
    cells as dedup blocks, within-cell cosine >= ``threshold`` pairs,
    transitive groups, one keeper per group.

    Returns ``(id, cell_id, centroid_sim, canonical_id, is_canonical)``
    covering every corpus row. This is the CLUSTER-blocked sibling of
    the LSH-blocked :func:`embedding_near_duplicates` path: clustering
    blocks catch semantic duplicates whose embeddings sit near each
    other but hash into different LSH buckets, at the cost of training
    the coarse quantizer (``ivf_index`` — seeded init + Lloyd rounds,
    all DataFrame ops).

    ``keep="low_centroid_sim"`` implements the SemDeDup keeper policy —
    within each duplicate group keep the example FARTHEST from its
    cluster centroid (lowest cosine to centroid), which the paper found
    preserves diversity; ``keep="min_id"`` keeps the smallest id
    (engine-reproducible without the extra ranking join).

    At 100 TB: the within-cell pair join is an equi-join on ``cell_id``
    (never a cartesian product — same contract as
    :func:`embedding_near_duplicates`), so the pair cost is
    ``Σ |cell|²`` and ``n_cells`` is the knob that bounds it. When
    ``n_cells`` is None (the default), it is DERIVED from a corpus
    count as ``ceil(N / target_cell_size)`` clamped to ``[2, N]`` —
    the paper's ``n_cells ≈ corpus / target_cell_size`` regime as
    code, so trusting the default never yields ``(N/const)²`` pair
    work at scale (the same honesty contract as ``dense_ids``'
    ``use_window=None`` auto, functions/ids.py). An explicit
    ``n_cells`` is used untouched; the one count job this costs is
    noted here because the operator is otherwise lazy-until-checkpoint.
    Centroids broadcast (``n_cells`` rows); the group resolution runs
    over the pair graph, which is orders of magnitude smaller than the
    corpus — pass ``checkpoint_dir`` at scale for the star-contraction
    rounds. ``hash_family="portable"`` makes the whole pipeline (init
    sample, Lloyd means, assignments, pairs, keepers) bit-reproducible
    in the DuckDB oracle (plans/queries.py ``semantic_dedup_verdicts``);
    ``assign_strategy="matmul"`` routes the Lloyd/assignment passes
    through the Arrow/BLAS path (operators/similarity.py) — the
    production choice for wide embeddings, measured ~5× on the whole
    operator at the sf1 probe rung (CURATION_SCALE.json); mutually
    exclusive with ``hash_family="portable"`` (BLAS ulp can flip
    near-tied assignments — ``ivf_index`` raises on the combination).
    ``use_checkpoints=False`` keeps the whole pipeline lazy (no eager
    pins — see ``ivf_index``) — EXCEPT for the one ``n_cells`` derivation
    count when ``n_cells=None``, which is a plan-construction-time job
    regardless of this flag; pass an explicit ``n_cells`` for a fully
    job-free construction. With the default ``True``, looping
    callers must hit a ``release_local_checkpoints()`` hygiene point.

    **Default change in round 9**: ``n_cells`` was previously a fixed
    16; callers that relied on that must now pass ``n_cells=16``
    explicitly (the auto default re-blocks the corpus as it grows —
    see COVERAGE.md's migration notes).
    """
    from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
        tracked_local_checkpoint,
    )
    from hpc_hd_textreuse_etl_spark.operators.similarity import ivf_index

    if keep not in ("low_centroid_sim", "min_id"):
        raise ValueError(f"unknown keep policy {keep!r}")
    if n_cells is None:
        if target_cell_size < 1:
            raise ValueError(f"target_cell_size must be >= 1, got {target_cell_size}")
        n = corpus.count()
        n_cells = max(2, min(n, -(-n // target_cell_size))) if n else 2
    centroids, assignments = ivf_index(
        corpus, id_col, vec_col, n_cells, lloyd_iters, seed,
        hash_family=hash_family, assign_strategy=assign_strategy,
        use_checkpoints=use_checkpoints,
    )
    # assignments feed the pair join (both sides), the centroid-sim
    # scoring, and the resolution — four consumers; unmaterialized, each
    # would re-run the final Lloyd assignment pass over the corpus. The
    # pin is (id, cell_id) — 12 bytes/row — and is tracked for the
    # registry's release hygiene (functions/checkpoints.py).
    if use_checkpoints:
        assignments = tracked_local_checkpoint(assignments)
    blocked = corpus.select(id_col, vec_col).join(assignments, id_col)
    pairs = embedding_near_duplicates(
        blocked, id_col, vec_col, threshold, block_cols=("cell_id",)
    )
    scored = blocked.join(F.broadcast(centroids), "cell_id").select(
        id_col,
        "cell_id",
        cosine(F.col(vec_col), F.col("centroid")).alias("centroid_sim"),
    )
    order_by = (
        [F.asc("centroid_sim")] if keep == "low_centroid_sim" else None
    )
    verdict = resolve_duplicates(
        scored, id_col, pairs, order_by=order_by, checkpoint_dir=checkpoint_dir
    )
    return scored.join(verdict, id_col).select(
        id_col, "cell_id", "centroid_sim", "canonical_id", "is_canonical"
    )


# ---------------------------------------------------------------------------
# Corpus-level repeated-line dedup (CCNet-style paragraph hashing)
# ---------------------------------------------------------------------------


def dedup_repeated_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 2,
    delim: str = "\n",
    keep: str = "none",
    hashed: bool = True,
    out_col: str = "clean_text",
    delim_regex: str | None = None,
) -> DataFrame:
    """Remove lines/paragraphs that occur ``min_count``-or-more times
    ACROSS the corpus — the CCNet-style paragraph-hash dedup pass
    (Wenzek et al. 2020) that strips boilerplate (navigation, cookie
    banners, license headers) repeated across many pages, which
    document-level near-dup can never catch.

    Returns ``(id, out_col, n_removed)`` for EVERY input row:
    remaining lines re-joined with ``delim`` in original order,
    ``n_removed`` the count of dropped lines. ``keep="none"`` drops
    every occurrence of a repeated line; ``keep="first"`` keeps the
    single globally-first occurrence (smallest ``(id, position)``) and
    drops the rest — the CCNet policy.

    ``delim`` is a LITERAL separator on both sides: it is regex-escaped
    before the split (Java-regex quoting via ``re.escape`` — backslash
    before a non-alphanumeric is literal in ``java.util.regex`` too) so
    a caller passing ``"|"`` or ``". "`` gets per-delimiter splitting,
    not per-character regex fallout. **Breaking change in round 9**:
    before the escape was added, ``delim`` was passed to ``split`` as a
    raw Java regex — a caller that relied on that (e.g.
    ``delim="\\r?\\n"``) must now pass ``delim_regex`` instead:
    when set, the SPLIT uses that pattern verbatim while ``delim``
    supplies the literal separator the surviving lines are re-joined
    with (a regex match is not a reusable string, so rejoining needs an
    explicit one). A NULL ``text_col`` is treated as
    the empty document — the output row still appears, with
    ``(out_col='', n_removed=0)``, keeping the every-input-row contract
    total over null inputs. EMPTY lines are
    structure, not content: they are preserved verbatim and never
    counted, so paragraph breaks survive (CCNet hashes only non-empty
    paragraphs for the same reason).

    Scale shape: the occurrence count groups on an 8-byte
    ``xxhash64(line)`` key (``hashed=True``, default) so the counting
    shuffle never carries line bodies; a 64-bit collision can only
    over-delete (two distinct lines pooled), the same accepted risk
    class as the span-dedup hashing (SCALE.md). ``hashed=False``
    groups on the exact line string — the oracle-gate mode
    (plans/queries.py ``repeated_segment_dedup``) and the right choice
    when lines are short and collision-free removal matters more than
    shuffle width. The removal itself is a key-only anti/filter join;
    the final reassembly is one doc-keyed aggregation (sorted-struct
    fold, order-stable under any partitioning)."""
    if keep not in ("none", "first"):
        raise ValueError(f"unknown keep policy {keep!r}")
    if min_count < 2:
        raise ValueError("min_count < 2 would remove every line")
    import re as _re

    text = F.coalesce(F.col(text_col), F.lit(""))
    parts = F.split(
        text, delim_regex if delim_regex is not None else _re.escape(delim)
    )
    base = df.select(F.col(id_col), F.posexplode(parts).alias("pos", "line"))
    key = F.xxhash64("line") if hashed else F.col("line")
    lines = base.withColumn("__k", key)
    # Empty lines never enter the occurrence counts, so they are never
    # removed: any multi-paragraph corpus has >= min_count blank lines,
    # and counting them would delete every paragraph break corpus-wide
    # (CCNet likewise hashes only non-empty paragraphs).
    counts = lines.filter(F.col("line") != "").groupBy("__k").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias(
            "__first"
        ),
    )
    repeated = counts.filter(F.col("__n") >= min_count).select("__k", "__first")
    if keep == "none":
        kept = lines.join(repeated.select("__k"), "__k", "left_anti")
    else:
        kept = (
            lines.join(repeated, "__k", "left")
            .filter(
                F.col("__first").isNull()
                | (
                    (F.col(id_col) == F.col("__first.i"))
                    & (F.col("pos") == F.col("__first.p"))
                )
            )
            .drop("__first")
        )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            delim,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s.getField("line"),
            ),
        ).alias(out_col),
        F.count(F.lit(1)).alias("__kept"),
    )
    totals = df.select(F.col(id_col), F.size(parts).alias("__total"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
            (F.col("__total") - F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
        )
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap vs an eval set)
# ---------------------------------------------------------------------------


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """``(id, n_contaminated)`` — documents sharing ≥1 token ``n``-gram
    with the benchmark set, with the count of distinct overlapping
    grams. The standard pre-training decontamination test (13-gram
    overlap against eval benchmarks).

    Scale shape: the benchmark side is tiny next to the corpus — its
    distinct gram set is broadcast, so the corpus scans once with no
    shuffle before the per-document count. Grams travel as 8-byte
    hashes (``xxhash64`` default; ``"portable"`` = the md5 family so
    the whole check is DuckDB-reproducible; ``"none"`` joins raw
    strings for debugging)."""
    from hpc_hd_textreuse_etl_spark.functions.text import token_shingles

    def grams(df: DataFrame, *keep: str) -> DataFrame:
        g = F.explode(
            F.array_distinct(token_shingles(F.col(text_col), n))
        ).alias("gram")
        out = df.select(*[F.col(c) for c in keep], g)
        if hash_family == "portable":
            return out.select(*keep, portable_hash64(F.col("gram")).alias("g"))
        if hash_family == "xxhash64":
            return out.select(*keep, F.xxhash64(F.col("gram")).alias("g"))
        return out.select(*keep, F.col("gram").alias("g"))

    bench = grams(benchmark).distinct()
    return (
        grams(corpus, id_col)
        .join(F.broadcast(bench), "g")
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("g")).alias("n_contaminated"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    min_overlap: int = 1,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """``corpus`` minus documents overlapping the benchmark in
    ``min_overlap``+ distinct ``n``-grams: anti-join on the flagged id
    set, so document bodies never shuffle."""
    flagged = (
        ngram_contamination(corpus, benchmark, id_col, text_col, n, hash_family)
        .filter(F.col("n_contaminated") >= min_overlap)
        .select(id_col)
    )
    return corpus.join(flagged, id_col, "left_anti")


def with_lsh_blocks(
    df: DataFrame,
    vec_col: str,
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    bucket_col: str = "lsh_bucket",
) -> DataFrame:
    """Attach a hyperplane-LSH bucket column — the canonical
    ``block_cols`` input for :func:`embedding_near_duplicates` when no
    natural blocking key (label/cluster) exists: 2^num_planes buckets
    bound the pair join at any corpus size, trading recall at bucket
    boundaries (run multiple seeds and union pairs to recover it).
    Planes are seeded driver-side literals (functions/hashing.py), so
    the bucketing is deterministic and oracle-reproducible."""
    from hpc_hd_textreuse_etl_spark.functions.hashing import hyperplane_coeffs
    from hpc_hd_textreuse_etl_spark.operators.similarity import (
        hyperplane_bucket_literal,
    )

    planes = hyperplane_coeffs(1, num_planes, dim, seed)[0]
    return df.withColumn(bucket_col, hyperplane_bucket_literal(vec_col, planes))


# ---------------------------------------------------------------------------
# Exact repeated-substring span dedup (ExactSubstr)
# ---------------------------------------------------------------------------

#: unit separator between length-prefixed tokens. \x1f alone is NOT a
#: safe delimiter: it is not Java-regex whitespace, so a token may
#: contain it and different token sequences could join to equal strings
#: (['a\x1fb','c'] vs ['a','b\x1fc']). Each token is therefore encoded
#: as "<len>:<token>" before joining — the length prefix makes the
#: encoding injective, so grams collide iff token sequences are equal.
_GRAM_SEP = "\x1f"


def _len_prefixed(tok: Column) -> Column:
    """Injective token encoding for raw-gram keys: ``<len>:<token>``."""
    return F.concat(F.length(tok).cast("string"), F.lit(":"), tok)


def token_window_grams(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """``(id, start, gram)`` for every ``window``-token window at stride
    1 — the corpus-wide suffix-window table of exact-substring dedup.

    ``start`` is a 0-based token index; a window covers the end-exclusive
    token span ``[start, start + window)``. Documents shorter than
    ``window`` contribute no rows (the ``when`` guard also keeps
    ``sequence()`` from going descending on a negative upper bound).

    Scale shape: built entirely in-row — tokenize, ``transform`` over a
    ``sequence`` of start offsets, ``slice`` + ``concat_ws``, then one
    Generate (posexplode). Zero shuffle; ~one output row per input token.
    The token array materializes behind a projection boundary (its own
    ``select``) so the split+filter runs once per DOCUMENT — inlined into
    the per-window lambda it re-tokenizes per WINDOW, which measured
    ~3.5× slower at sf0.1.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    from hpc_hd_textreuse_etl_spark.functions.skew import spread_small_input

    # same straggler guard as token_window_keys: tokenize + gram build
    # run under the first exchange (guide §2.5); no-op on split inputs
    base = spread_small_input(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens(text_col).alias("_t")
    )
    t = F.col("_t")
    grams = F.when(
        F.size(t) >= window,
        F.transform(
            F.sequence(F.lit(0), F.size(t) - window),
            lambda i: F.concat_ws(
                _GRAM_SEP,
                F.transform(F.slice(t, i + 1, window), _len_prefixed),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.select(
        F.col(id_col), F.posexplode(grams).alias("start", "gram")
    )


def token_window_keys(
    df: DataFrame, id_col: str, text_col: str, window: int
) -> DataFrame:
    """``(id, start, k)``: 64-bit keys for every ``window``-token window
    at stride 1 — the hashed sibling of :func:`token_window_grams`, for
    callers that only ever compare windows for equality (span dedup,
    span decontamination).

    Two-level hashing skips gram-string materialization entirely: each
    token hashes once to ``xxhash64``, and each window key is the
    ``xxhash64`` of its length-``window`` slice of token hashes — no
    O(window) string copies per position. Measured ~6.8× cheaper window
    build than hashing ``concat_ws`` gram strings at sf0.1. Equal token
    sequences still map to equal keys by construction; collisions (two
    levels of 64-bit hashing — expected ~n²/2/2⁶⁴ colliding pairs at n
    windows) can only over-mark a window as shared, never drop one.
    """
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    from hpc_hd_textreuse_etl_spark.functions.skew import spread_small_input

    # the tokenize + per-token/per-window hashing below is the span
    # pipeline's dominant CPU and runs under the first exchange — an
    # under-partitioned input serializes it on one core (guide §2.5);
    # no-op on split inputs
    base = spread_small_input(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.transform(tokens(text_col), lambda t: F.xxhash64(t)).alias("_h"),
    )
    h = F.col("_h")
    keys = F.when(
        F.size(h) >= window,
        F.transform(
            F.sequence(F.lit(0), F.size(h) - window),
            lambda i: F.xxhash64(F.slice(h, i + 1, window)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return base.select(F.col(id_col), F.posexplode(keys).alias("start", "k"))


def duplicated_token_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_occurrences: int = 2,
    min_docs: int = 1,
    hashed_keys: bool = True,
    count_strategy: str = "auto",
) -> DataFrame:
    """Maximal duplicated token spans — the ExactSubstr dedup of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", arXiv:2107.06499), re-expressed as DataFrame ops instead of
    a suffix array: any ``window``-token sequence occurring at least
    ``min_occurrences`` times corpus-wide (optionally in at least
    ``min_docs`` distinct documents) marks all its positions, and
    overlapping/touching marked windows merge into maximal spans per
    document via the coverage island pipeline (functions/intervals.py —
    the same core as the reference's coverages.py:36-139, here applied
    to token offsets instead of character offsets).

    Returns one row per maximal span: ``(id, span_start, span_end,
    span_len, n_windows)``; spans are end-exclusive token ranges and
    never overlap within a document.

    Scale shape (100 TB): windows travel as 64-bit keys built WITHOUT
    materializing gram strings (``hashed_keys=True`` →
    :func:`token_window_keys`: per-token hashes, then a hash per slice —
    ~6.8× cheaper build, ~10-30× fewer shuffle bytes than raw
    ``window``-token strings; expected colliding pairs at n windows ≈
    n²/2/2⁶⁴ — at 10¹² windows that is ~2.7×10⁴ colliding PAIRS, i.e. a
    ~10⁻⁸ fraction of windows touched; each collision only over-marks a
    span, it cannot drop one). ``hashed_keys=False`` keeps raw gram
    strings as keys for exactness audits (and the DuckDB oracle gate
    groups raw grams — the gate passing IS the collision audit at test
    scale).

    ``count_strategy`` picks how occurrence counts reach the window rows:

    - ``"window"`` — one scan, ONE key exchange: ``COUNT(*) OVER
      (PARTITION BY k)`` then filter. Fastest when key frequencies are
      bounded (natural text: a window's repeat count rarely exceeds
      thousands), because the window table is scanned and exploded once
      and never joined. The tradeoff: all copies of one key land in one
      task, so a pathological key (the empty-boilerplate window repeated
      10⁸ times) single-tasks — AQE cannot split a Window partition.
    - ``"groupby_join"`` — count per key (map-side combined), prune to
      duplicated keys, equi-join back. Two extra exchanges + a second
      scan, but the join IS AQE-skew-splittable, and ``min_docs`` needs
      its ``countDistinct`` anyway. The safe choice for corpora with
      known boilerplate skew.
    - ``"auto"`` (default) — ``"window"`` for ``min_docs=1``,
      ``"groupby_join"`` otherwise (a per-partition COUNT cannot express
      distinct-document support without collecting id sets into the hot
      task).
    """
    if count_strategy not in ("auto", "window", "groupby_join"):
        raise ValueError(
            f"count_strategy must be auto|window|groupby_join, got"
            f" {count_strategy!r}"
        )
    if count_strategy == "auto":
        count_strategy = "window" if min_docs <= 1 else "groupby_join"
    if count_strategy == "window" and min_docs > 1:
        raise ValueError(
            "count_strategy='window' cannot enforce min_docs > 1 — use"
            " 'groupby_join' (or 'auto')"
        )
    if hashed_keys:
        keyed = token_window_keys(df, id_col, text_col, window)
    else:
        keyed = token_window_grams(df, id_col, text_col, window).select(
            F.col(id_col), F.col("start"), F.col("gram").alias("k")
        )
    if count_strategy == "window":
        from pyspark.sql import Window

        hits = keyed.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("k"))
        ).filter(F.col("_n") >= min_occurrences)
    else:
        # countDistinct plans a second exchange (partial-distinct on
        # (k, id) then re-agg on k) — only pay it when the caller
        # actually constrains distinct-document support; the default
        # path is one map-side-combined count per key
        aggs = [F.count(F.lit(1)).alias("n_occurrences")]
        cond = F.col("n_occurrences") >= min_occurrences
        if min_docs > 1:
            aggs.append(F.countDistinct(id_col).alias("n_docs"))
            cond = cond & (F.col("n_docs") >= min_docs)
        dup = keyed.groupBy("k").agg(*aggs).filter(cond).select("k")
        hits = keyed.join(dup, "k")
    hits = hits.select(
        F.col(id_col),
        F.col("start").cast("long").alias("s"),
        (F.col("start") + window).cast("long").alias("e"),
    )
    from hpc_hd_textreuse_etl_spark.functions.intervals import merge_intervals

    spans = merge_intervals(hits, [id_col], "s", "e", adjacency_gap=0)
    return spans.select(
        F.col(id_col),
        F.col("island_start").alias("span_start"),
        F.col("island_end").alias("span_end"),
        (F.col("island_end") - F.col("island_start")).alias("span_len"),
        F.col("n_rows").cast("long").alias("n_windows"),
    )


def span_dedup_state(
    df: DataFrame, id_col: str, text_col: str, window: int = 8
) -> tuple[DataFrame, DataFrame]:
    """The materializable state of incremental ExactSubstr dedup:
    ``(windows, counts)`` — the hashed window-position table ``(id,
    start, k)`` and its key-occurrence counts ``(k, n_occurrences)``.
    Persist both (bucketing by ``k`` makes the delta path's scans
    prunable); counts are ADDITIVE, so ingests can also maintain them
    as per-batch partials summed on read (the decayed-counter recipe in
    streaming/sinks.py)."""
    w = token_window_keys(df, id_col, text_col, window)
    counts = w.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    return w, counts


def duplicated_token_spans_delta(
    base_windows: DataFrame,
    base_counts: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Incremental ExactSubstr: the spans that CHANGE when ``delta``
    documents join a corpus whose :func:`span_dedup_state` tables are
    materialized — every span of every delta document, plus the
    refreshed span set of every base document the delta affected (a
    base doc is affected iff the delta pushed one of its window keys
    over ``min_occurrences``, which can create or EXTEND its spans).
    Callers upsert the output by document id; unaffected base docs'
    spans are untouched by construction. Same output contract as
    :func:`duplicated_token_spans`.

    ``base_counts`` may hold one row per key OR additive PARTIALS
    (repeated keys — the shape a streaming ingest accumulates,
    streaming/sinks.py); per-key totals are only ever derived for
    delta-touched and affected keys, never corpus-wide.

    Scale shape (the point of the state tables): every SHUFFLE is
    delta-proportional — delta windows, the delta-keyed count merge,
    the affected-key count merge, and the island sort over delta +
    affected docs. The base tables are only ever SCANNED (twice for
    ``base_windows``, twice for ``base_counts``), each time against a
    delta-derived build side — never re-aggregated corpus-wide, never
    self-joined; with the state bucketed by ``k`` those scans
    partition-prune too. Equivalence with the batch pipeline restricted
    to changed docs is pinned in tests AND at the DuckDB gate
    (plans/queries.py ``span_dedup_delta``)."""
    delta_w = token_window_keys(delta, id_col, text_col, window)
    d_counts = delta_w.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("__n_delta")
    )
    # delta-touched keys with their base occurrence totals: one scan of
    # base_counts against the (small) delta key set; the post-join SUM
    # folds count partials and costs nothing on snapshot-shaped input
    touched = (
        d_counts.join(base_counts, "k", "left")
        .groupBy("k", "__n_delta")
        .agg(F.coalesce(F.sum("n_occurrences"), F.lit(0)).alias("__n_base"))
    )
    touched_dup = touched.filter(
        F.col("__n_base") + F.col("__n_delta") >= min_occurrences
    )
    # keys the delta pushed over the threshold — these mark positions in
    # BASE documents that were clean (or shorter-spanned) before
    crossed = touched_dup.filter(F.col("__n_base") < min_occurrences).select("k")
    delta_marked = delta_w.join(touched_dup.select("k"), "k").select(
        F.col(id_col), F.col("start")
    )
    affected_docs = (
        base_windows.join(crossed, "k").select(F.col(id_col)).distinct()
    )
    affected_pos = base_windows.join(affected_docs, id_col)
    # a position in an affected doc is marked iff its key was already
    # duplicated in the base (total n >= min) or just crossed; totals
    # are derived for the (delta-bounded) affected key set only
    affected_keys = affected_pos.select("k").distinct()
    base_dup_n = (
        base_counts.join(affected_keys, "k")
        .groupBy("k")
        .agg(F.sum("n_occurrences").alias("__n"))
        .filter(F.col("__n") >= min_occurrences)
        .select("k")
    )
    affected_marked = (
        affected_pos.join(base_dup_n.unionByName(crossed).distinct(), "k")
        .select(F.col(id_col), F.col("start"))
    )
    hits = delta_marked.unionByName(affected_marked).select(
        F.col(id_col),
        F.col("start").cast("long").alias("s"),
        (F.col("start") + window).cast("long").alias("e"),
    )
    from hpc_hd_textreuse_etl_spark.functions.intervals import merge_intervals

    spans = merge_intervals(hits, [id_col], "s", "e", adjacency_gap=0)
    return spans.select(
        F.col(id_col),
        F.col("island_start").alias("span_start"),
        F.col("island_end").alias("span_end"),
        (F.col("island_end") - F.col("island_start")).alias("span_len"),
        F.col("n_rows").cast("long").alias("n_windows"),
    )


def span_dedup_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_occurrences: int = 2,
    min_docs: int = 1,
    hashed_keys: bool = True,
    count_strategy: str = "auto",
) -> DataFrame:
    """Per-document repeated-span exposure: ``(id, n_tokens, dup_tokens,
    n_spans)`` for EVERY document (zero rows for clean docs would bias
    downstream sampling, so clean docs appear with zeros). Integer core
    only — the dup fraction is a trivial caller-side division."""
    spans = duplicated_token_spans(
        df, id_col, text_col, window, min_occurrences, min_docs, hashed_keys,
        count_strategy,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_len").alias("dup_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
    )
    base = df.select(
        F.col(id_col), F.size(tokens(text_col)).cast("long").alias("n_tokens")
    )
    return base.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens"),
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
    )


def strip_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    min_occurrences: int = 2,
    min_docs: int = 1,
    hashed_keys: bool = True,
    out_col: str = "clean_text",
    count_strategy: str = "auto",
) -> DataFrame:
    """Documents with every duplicated span's tokens removed (tokens
    outside any span, re-joined with single spaces). This is the
    strictest cut policy — ALL copies go; keep-one-copy resolution at
    document granularity is :func:`resolve_duplicates`' job. Emits every
    input row (clean docs pass through with ``clean_text = text``'s
    token-normalized form).

    Scale shape: spans per doc collect into one array (bounded by tokens
    per document), broadcast back onto the doc row by the same doc-keyed
    join, and the token filter is a Catalyst higher-order ``filter`` +
    ``exists`` — no Python."""
    spans = duplicated_token_spans(
        df, id_col, text_col, window, min_occurrences, min_docs, hashed_keys,
        count_strategy,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    t = tokens(text_col)
    covered = lambda i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda sp: (i >= sp["span_start"]) & (i < sp["span_end"]),
    )
    kept = F.when(
        F.col("_spans").isNull(), t
    ).otherwise(
        F.filter(t, lambda tok, i: ~covered(i.cast("long")))
    )
    return (
        df.join(per_doc, id_col, "left")
        .withColumn(out_col, F.concat_ws(" ", kept))
        .drop("_spans")
    )


def contaminated_spans(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    hashed_keys: bool = True,
    benchmark_strategy: str = "broadcast",
    bloom_m_bits: int = 1 << 20,
    bloom_k: int = 5,
) -> DataFrame:
    """Span-level decontamination: maximal token spans of each corpus
    document covered by ``window``-token windows that also occur in the
    benchmark corpus. The document-level siblings
    (:func:`ngram_contamination` / :func:`decontaminate`) count or drop
    whole documents; this emits the surgical mask ranges — the policy
    real pipelines prefer when a long document brushes a benchmark in
    one paragraph. Same output contract as
    :func:`duplicated_token_spans`.

    Scale shape (100 TB corpus): benchmark gram keys reduce to DISTINCT
    on the benchmark side only (tiny shuffle); the corpus side never
    shuffles before the island merge — scan → Generate → semi-join →
    one doc-keyed sort bounded by tokens per document. The hashed path
    builds keys via :func:`token_window_keys` (two-level hashing, no
    gram strings).

    ``benchmark_strategy`` sizes the semi-join to the benchmark:

    - ``"broadcast"`` (default) — DISTINCT benchmark keys broadcast
      into the semi-join; right for the usual MB-scale eval suite.
    - ``"bloom"`` — for GB-scale benchmarks whose key set exceeds the
      broadcast budget: a Bloom bitmap over the benchmark keys
      (``bloom_m_bits`` bits, collected once — ≤ m/8 bytes on the
      driver) pre-filters corpus windows as a zero-shuffle codegen'd
      row predicate, and only the survivors (true hits + the tunable
      false-positive trickle) enter an exact shuffle semi-join. Output
      is identical to ``"broadcast"`` — Bloom has no false negatives
      and false positives die in the exact join — but the corpus-side
      exchange carries survivors instead of every window.
    """
    if benchmark_strategy not in ("broadcast", "bloom"):
        raise ValueError(
            f"benchmark_strategy must be broadcast|bloom, got"
            f" {benchmark_strategy!r}"
        )
    if hashed_keys:
        cw = token_window_keys(corpus, id_col, text_col, window)
        bkeys = (
            token_window_keys(benchmark, id_col, text_col, window)
            .select("k")
            .distinct()
        )
    else:
        cw = token_window_grams(corpus, id_col, text_col, window).select(
            F.col(id_col), F.col("start"), F.col("gram").alias("k")
        )
        bkeys = (
            token_window_grams(benchmark, id_col, text_col, window)
            .select(F.col("gram").alias("k"))
            .distinct()
        )
    if benchmark_strategy == "bloom":
        from hpc_hd_textreuse_etl_spark.operators.sketches import (
            bloom_bits,
            bloom_prune,
        )

        bloom = bloom_bits(bkeys, "k", bloom_m_bits, bloom_k)
        cw = bloom_prune(cw, "k", bloom, bloom_m_bits, bloom_k)
        joined = cw.join(bkeys, "k", "left_semi")
    else:
        joined = cw.join(F.broadcast(bkeys), "k", "left_semi")
    hits = joined.select(
        F.col(id_col),
        F.col("start").cast("long").alias("s"),
        (F.col("start") + window).cast("long").alias("e"),
    )
    from hpc_hd_textreuse_etl_spark.functions.intervals import merge_intervals

    spans = merge_intervals(hits, [id_col], "s", "e", adjacency_gap=0)
    return spans.select(
        F.col(id_col),
        F.col("island_start").alias("span_start"),
        F.col("island_end").alias("span_end"),
        (F.col("island_end") - F.col("island_start")).alias("span_len"),
        F.col("n_rows").cast("long").alias("n_windows"),
    )


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "clean_text",
    mask_token: str | None = None,
) -> DataFrame:
    """Apply a span table (``id, span_start, span_end`` end-exclusive
    token ranges) to documents: covered tokens are dropped, or each
    whole span is replaced by a single ``mask_token`` sentinel when one
    is given (the masking policy keeps sentence flow readable for
    humans and marks the cut for downstream loss-masking). Every input
    row is emitted; rows with no spans pass through token-identically.

    Scale shape: spans collect per doc (bounded by tokens/doc), join
    back doc-keyed, and the cut is a Catalyst higher-order
    filter/transform — no Python."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    t = tokens(text_col)
    in_span = lambda i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda sp: (i >= sp["span_start"]) & (i < sp["span_end"]),
    )
    starts_span = lambda i: F.exists(  # noqa: E731
        F.col("_spans"), lambda sp: i == sp["span_start"]
    )
    if mask_token is None:
        kept = F.filter(t, lambda tok, i: ~in_span(i.cast("long")))
    else:
        # keep span-starting positions as the sentinel, drop the rest
        kept = F.filter(
            F.transform(
                t,
                lambda tok, i: F.when(
                    starts_span(i.cast("long")), F.lit(mask_token)
                ).when(in_span(i.cast("long")), F.lit(None)).otherwise(tok),
            ),
            lambda tok: tok.isNotNull(),
        )
    out = F.when(F.col("_spans").isNull(), F.concat_ws(" ", t)).otherwise(
        F.concat_ws(" ", kept)
    )
    return (
        df.join(per_doc, id_col, "left").withColumn(out_col, out).drop("_spans")
    )
