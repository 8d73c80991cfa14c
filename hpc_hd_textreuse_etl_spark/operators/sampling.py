"""Deterministic, key-stable sampling for training-data pipelines.

``df.sample()`` is partition-layout-dependent: the same row can fall in
or out of the sample when the file is re-split, and two tables can't be
sampled *consistently* (e.g. keep a document AND all its chunks). The
standard fix at 100 TB is **hash gating**: a row is sampled iff

    H(salt || key) < fraction * 2^60

with H the portable 60-bit md5 family (functions/hashing.py). Properties
that matter in production:

- reproducible across runs, partitionings, engines, and table scans —
  the sample is a pure function of (key, salt);
- consistent across tables sharing the key (sample parent + children by
  the same key/salt and referential integrity survives);
- disjoint splits for free: train/test are complementary threshold
  bands of the same hash, so no row is ever in both, and growing the
  test fraction only *moves the boundary* (nested samples);
- pure integer compare — the threshold ``int(fraction * 2^60)`` is
  computed once on the driver, so no float appears in the row predicate.

All Catalyst built-ins (md5 + conv + compare): the predicate is
codegen'd JVM-side and — being a plain filter — pushes past projections
and joins like any other.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hpc_hd_textreuse_etl_spark.functions.hashing import portable_hash64

#: size of the portable hash space (60-bit).
HASH_SPACE = 1 << 60
#: field separator in the salted key material (unlikely in real keys).
SEP = "|"


def sample_hash(key_cols: Sequence[str | Column], salt: str) -> Column:
    """The gating hash: H(salt || '|' || key...) as a non-negative
    bigint in [0, 2^60)."""
    cols = [F.col(c) if isinstance(c, str) else c for c in key_cols]
    material = F.concat_ws(SEP, F.lit(salt), *[c.cast("string") for c in cols])
    return portable_hash64(material)


def threshold(fraction: float) -> int:
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return int(fraction * HASH_SPACE)


def hash_sample(
    df: DataFrame, key_cols: Sequence[str], fraction: float, salt: str = "v1"
) -> DataFrame:
    """Keep ~``fraction`` of key groups, deterministically."""
    return df.where(sample_hash(key_cols, salt) < F.lit(threshold(fraction)))


def train_test_split(
    df: DataFrame,
    key_cols: Sequence[str],
    test_fraction: float,
    salt: str = "split-v1",
    split_col: str = "split",
) -> DataFrame:
    """Tag every row 'test' / 'train' by complementary hash bands —
    disjoint and exhaustive by construction; rows sharing the key always
    land on the same side."""
    h = sample_hash(key_cols, salt)
    tag = F.when(h < F.lit(threshold(test_fraction)), F.lit("test")).otherwise(
        F.lit("train")
    )
    return df.withColumn(split_col, tag)


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_cols: Sequence[str],
    default_fraction: float = 0.0,
    salt: str = "strata-v1",
) -> DataFrame:
    """Per-stratum sampling rates (e.g. downsample dominant languages,
    keep the tail whole) with the same hash gate — one scan, no shuffle,
    strata thresholds resolved as a literal CASE chain."""
    h = sample_hash(key_cols, salt)
    cond = F.lit(threshold(default_fraction))
    for value, frac in sorted(fractions.items()):
        cond = F.when(F.col(strata_col) == value, F.lit(threshold(frac))).otherwise(
            cond
        )
    return df.where(h < cond)


def per_key_quota(
    df: DataFrame,
    key_cols: Sequence[str],
    n: int,
    order_by: Sequence[Column],
    rank_col: str = "quota_rank",
) -> DataFrame:
    """Cap each key group at its ``n`` best rows by ``order_by`` (the
    per-domain document quota of web-crawl curation). One shuffle on the
    key; the rank window is spillable and per-group state is O(1).
    ``order_by`` must be a total order within groups for deterministic
    output — include a unique tiebreaker column."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= n)
    )


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key_cols: Sequence[str],
    default_rate: float = 1.0,
    salt: str = "mix-v1",
    copy_col: str = "copy",
) -> DataFrame:
    """Re-weight a multi-source corpus to target mixture rates, with
    **upsampling**: rate 2.5 repeats a key group 2 or 3 times (3 iff
    its gate hash clears the fractional threshold → expected 2.5),
    rate 0.3 is the plain downsampling gate, rate 0 drops the stratum.

    This is the epoch-mixing step of LLM data preparation (sample
    Wikipedia at ~3 epochs, common crawl at ~0.7, …). Deterministic per
    (key, salt): the same group always gets the same copy count, across
    runs, partitionings and tables. ``copy_col`` (1-based) disambiguates
    repeats so downstream shuffles/dedup treat copies as distinct rows.

    One scan, no shuffle: both the floor(rate) and the fractional
    threshold resolve as literal CASE chains; the explode is a Generate
    over a per-row ``sequence(1, copies)``.
    """
    for value, rate in rates.items():
        if rate < 0:
            raise ValueError(f"rate for {value!r} must be >= 0, got {rate}")
    if default_rate < 0:
        raise ValueError(f"default_rate must be >= 0, got {default_rate}")
    h = sample_hash(key_cols, salt)
    floor_part = F.lit(int(default_rate))
    frac_thr = F.lit(threshold(default_rate - int(default_rate)))
    for value, rate in sorted(rates.items()):
        floor_part = F.when(
            F.col(strata_col) == value, F.lit(int(rate))
        ).otherwise(floor_part)
        frac_thr = F.when(
            F.col(strata_col) == value, F.lit(threshold(rate - int(rate)))
        ).otherwise(frac_thr)
    copies = floor_part + (h < frac_thr).cast("int")
    # the copies > 0 guard matters: Spark's sequence(1, 0) counts DOWN
    # ([1, 0]), it does not return an empty array.
    return (
        df.withColumn("__copies", copies)
        .where(F.col("__copies") > 0)
        .withColumn(copy_col, F.explode(F.sequence(F.lit(1), F.col("__copies"))))
        .drop("__copies")
    )


def temperature_rates(
    counts: dict[str, int],
    temperature: float,
    target_total: int | None = None,
) -> dict[str, float]:
    """Multinomial temperature re-weighting: sampling shares
    ``q_i ∝ n_i^(1/T)``, returned as per-source *rates* for
    :func:`mixture_sample` (``rate_i = q_i · N_target / n_i``).

    ``T = 1`` with the default target reproduces the corpus exactly
    (all rates 1); ``T > 1`` flattens toward uniform (upsamples the
    tail, downsamples the head); ``T < 1`` sharpens. Driver-side pure
    function — the source-count dict is tiny by construction.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be positive, got {temperature}")
    if any(n <= 0 for n in counts.values()):
        raise ValueError("source counts must be positive")
    alpha = 1.0 / temperature
    weights = {k: float(n) ** alpha for k, n in counts.items()}
    z = sum(weights.values())
    total = target_total if target_total is not None else sum(counts.values())
    return {k: (weights[k] / z) * total / counts[k] for k in counts}


def budget_mixture_rates(
    token_counts: dict[str, int],
    target_weights: dict[str, float],
    token_budget: int,
    max_epochs: float | None = None,
) -> dict[str, float]:
    """Token-budget mixture planning: per-source rates (epochs) for
    :func:`mixture_sample` such that the sampled corpus totals
    ``token_budget`` tokens split across sources in ``target_weights``
    proportions — the step that turns "train 1T tokens at 30% web /
    50% code / 20% books" into concrete sampling rates.

    ``rate_i = budget·w_i / n_i`` (can exceed 1 — that is upsampling,
    i.e. multiple epochs of a small source). ``max_epochs`` caps
    repetition (the over-epoching degradation guard): capped sources
    contribute ``max_epochs·n_i`` tokens and their unmet share is
    redistributed across the uncapped sources ∝ their weights
    (water-filling — iterates because redistribution can push further
    sources over the cap). If EVERY source caps, the budget is
    infeasible and the function raises rather than silently
    undershooting. Driver-side pure function, same contract class as
    :func:`temperature_rates`; deterministic, engine-independent."""
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    if set(token_counts) != set(target_weights):
        raise ValueError("token_counts and target_weights keys must match")
    if any(n <= 0 for n in token_counts.values()):
        raise ValueError("token counts must be positive")
    if any(w < 0 for w in target_weights.values()):
        raise ValueError("target weights must be >= 0")
    z = sum(target_weights.values())
    if z <= 0:
        raise ValueError("target weights must not all be zero")
    w = {k: v / z for k, v in target_weights.items()}
    if max_epochs is None:
        return {k: token_budget * w[k] / token_counts[k] for k in w}

    rates: dict[str, float] = {}
    capped: set[str] = set()
    remaining = float(token_budget)
    while True:
        free = [k for k in w if k not in capped and w[k] > 0]
        if not free:
            raise ValueError(
                f"token_budget {token_budget} is infeasible: every weighted "
                f"source hits max_epochs={max_epochs} "
                f"(capacity {sum(max_epochs * token_counts[k] for k in w if w[k] > 0):.0f} tokens)"
            )
        zf = sum(w[k] for k in free)
        overflow = [
            k for k in free
            if remaining * w[k] / zf > max_epochs * token_counts[k]
        ]
        if not overflow:
            for k in free:
                rates[k] = remaining * w[k] / zf / token_counts[k]
            break
        for k in overflow:
            rates[k] = max_epochs
            remaining -= max_epochs * token_counts[k]
            capped.add(k)
    for k in w:
        rates.setdefault(k, 0.0)  # zero-weight sources
    return rates


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    candidate_pairs: DataFrame,
    test_fraction: float,
    salt: str = "lsplit-v1",
    split_col: str = "split",
) -> DataFrame:
    """Train/test split that never separates near-duplicates.

    A plain per-document hash split leaks: two near-identical documents
    can land in different bands, putting (almost) the test set in the
    training set. Fix: transitively close ``candidate_pairs`` (id_a,
    id_b) into duplicate groups (operators/graph.py connected
    components, bodies never touch the closure), key every document by
    its group representative (itself if unpaired), and gate the *group
    key* through the usual threshold bands — the whole group moves as
    one unit, and the split stays disjoint + exhaustive by construction.
    """
    from hpc_hd_textreuse_etl_spark.operators.dedup import resolve_duplicates

    groups = resolve_duplicates(
        df.select(id_col), id_col, candidate_pairs
    )  # (id_col, canonical_id, is_canonical) — covers every df row
    keyed = df.join(groups.select(id_col, "canonical_id"), id_col, "left").withColumn(
        "__gk", F.coalesce(F.col("canonical_id"), F.col(id_col)).cast("string")
    )
    banded = keyed.withColumn(
        split_col,
        F.when(
            sample_hash(["__gk"], salt) < F.lit(threshold(test_fraction)), "test"
        ).otherwise("train"),
    )
    return banded.drop("__gk")


def weighted_sample_topk(
    df: DataFrame,
    key_cols: Sequence[str],
    weight_col: str | Column,
    k: int,
    salt: str = "wsample-v1",
    priority_col: str = "sample_priority",
) -> DataFrame:
    """Deterministic weighted sample WITHOUT replacement: keep the k
    rows with the smallest ``H(salt||key) / weight`` (priority
    sampling / bottom-k PPSWOR — heavier rows draw proportionally
    smaller priorities, so inclusion probability tracks weight).

    Why this construction survives production:

    - a pure function of (key, salt, weight): the sample is identical
      across runs, partitionings, and engines — the division of the
      60-bit integer hash by the weight is ONE correctly-rounded IEEE
      double op, bit-equal everywhere (same portability class as the
      integer gate; there is no accumulation to reorder);
    - bottom-k plans as ``TakeOrderedAndProject``: per-task k-row
      heaps, no global sort, no shuffle of the data — only k rows per
      task move;
    - mergeable: the bottom-k of a union is the bottom-k of the
      per-part bottom-ks, so pre-sampled shards compose (same algebra
      as the KMV sketch, operators/sketches.py).

    Weights must be strictly positive; ties (same priority) break on
    the key so the kept set is total-ordered."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    keys = [F.col(c) for c in key_cols]
    pri = sample_hash(key_cols, salt).cast("double") / w.cast("double")
    guarded = F.when(w > 0, pri).otherwise(
        F.raise_error(F.lit("weighted_sample_topk: weight must be > 0"))
    )
    return (
        df.withColumn(priority_col, guarded)
        .orderBy(F.col(priority_col).asc(), *[c.asc() for c in keys])
        .limit(k)
    )


def gumbel_topk_sample(
    df: DataFrame,
    key_cols: Sequence[str],
    log_weight_col: str | Column,
    k: int,
    salt: str = "gumbel-v1",
    priority_col: str = "gumbel_priority",
) -> DataFrame:
    """Deterministic weighted sample without replacement in the LOG
    domain: keep the k rows with the largest
    ``log_weight − ln(−ln(u))``, ``u = (H(salt||key)+0.5)/2^60``.

    The Gumbel-max trick makes this an exact ∝-weight sample — argmax of
    ``log w_i + Gumbel_i`` draws i with probability ``w_i/Σw`` — and the
    log-domain form is the one DSIR-style importance resampling needs:
    a corpus-level log weight is a sum over thousands of n-gram terms,
    so ``exp(log_weight)`` routinely over-/underflows a double, while
    the priority never leaves a sane range. The sibling
    :func:`weighted_sample_topk` (linear-domain bottom-k PPSWOR) is the
    right tool when weights arrive as plain positive numbers.

    Same production properties as the sibling: a pure function of
    ``(key, salt, log_weight)`` (identical across runs, partitionings,
    and engines to libm-``ln`` ulp), plans as ``TakeOrderedAndProject``
    (per-task k-row heaps, no global sort), and bottom-k-mergeable
    across pre-sampled shards. Ties break on the key, making the kept
    set total-ordered."""
    lw = (
        F.col(log_weight_col)
        if isinstance(log_weight_col, str)
        else log_weight_col
    )
    keys = [F.col(c) for c in key_cols]
    u = (sample_hash(key_cols, salt).cast("double") + F.lit(0.5)) / F.lit(
        float(HASH_SPACE)
    )
    pri = lw.cast("double") - F.log(-F.log(u))
    return (
        df.withColumn(priority_col, pri)
        .orderBy(F.col(priority_col).desc(), *[c.asc() for c in keys])
        .limit(k)
    )


def negative_samples(
    positives: DataFrame,
    key_cols: Sequence[str],
    corpus: DataFrame,
    corpus_id_col: str,
    k: int,
    salt: str = "neg-v1",
) -> DataFrame:
    """k deterministic pseudo-random negatives per positive row — the
    negative-sampling stage of contrastive / ranking training data,
    with the usual production requirements: reproducible across runs
    and partitionings (a pure function of key, salt, i and the corpus
    id order), no RNG state, no driver-side draw.

    Construction: corpus ids get dense indexes 1..N (functions/ids —
    window path for dim-sized corpora, sorted zipWithIndex at scale,
    picked from the corpus's size estimate); each positive explodes
    into i = 1..k and picks index ``1 + H(salt‖key‖i) mod N``. N enters
    the plan as a broadcast 1-row aggregate, never a driver action. The
    pick join is a plain fact-dim equi-join (broadcastable corpus index
    at dim size, shuffle join beyond).

    The pick can collide with the positive's own document — callers
    needing strict negatives filter afterwards (and keep k+1 draws to
    maintain the count); the emitted (key, sample_idx, negative id)
    triple stays deterministic either way."""
    from hpc_hd_textreuse_etl_spark.functions.ids import dense_ids

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    idx = dense_ids(corpus.select(corpus_id_col), [corpus_id_col], "__nidx")
    n1 = idx.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    expanded = positives.select(*key_cols).withColumn(
        "__i", F.explode(F.sequence(F.lit(1), F.lit(k)))
    )
    h = sample_hash([*key_cols, F.col("__i")], salt)
    picked = expanded.crossJoin(F.broadcast(n1)).withColumn(
        "__pick", (h % F.col("__n")) + F.lit(1)
    )
    out = picked.join(idx, picked["__pick"] == idx["__nidx"])
    return out.select(
        *key_cols,
        F.col("__i").cast("int").alias("sample_idx"),
        F.col(corpus_id_col).alias("negative_id"),
    )


def kfold_assignment(
    df: DataFrame,
    key_cols: Sequence[str],
    k: int = 5,
    salt: str = "fold-v1",
    fold_col: str = "fold",
) -> DataFrame:
    """Cross-validation fold ids: ``fold = H(salt‖key) mod k`` — the
    same hash-gate guarantees as train_test_split (key-stable,
    partition/engine/run independent, consistent across tables sharing
    the key), partitioning the keyspace into k disjoint+exhaustive folds
    with no RNG state and no shuffle (a pure codegen'd projection).
    Rows sharing the key always land in the same fold, so grouped CV
    (all of a document's chunks in one fold) falls out for free."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return df.withColumn(
        fold_col, (sample_hash(key_cols, salt) % F.lit(k)).cast("int")
    )
