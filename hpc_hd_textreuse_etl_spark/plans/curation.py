"""End-to-end training-corpus curation — the composition every
large-scale data pipeline runs, built entirely from this engine's
operators:

    quality gate  →  exact dedup  →  near-dup resolution
                  →  benchmark decontamination  →  train/test split

Each stage is an operator family verified on its own (oracle-gated
queries + tests); this module is the wiring, and the
``curated_corpus`` contract query gates the WHOLE chain against a
DuckDB oracle that recomputes all five stages.

Scale shape of the composition (what survives 100 TB):

- the quality gate is a pure Catalyst filter — pushed to the scan;
- exact-dedup and near-dup keepers travel as ID SETS (semi/anti
  joins), so document bodies cross a shuffle exactly once (the
  signature aggregation) regardless of how many stages run;
- the near-dup pair graph and the benchmark gram set are orders of
  magnitude smaller than the corpus — connected components runs on
  pairs only (a union-find per task, written once, which reads the
  lazy MinHash pairs once; star rounds only if the pairs span several
  tasks), benchmark grams broadcast;
- the split tag is the deterministic hash gate (operators/sampling) —
  no shuffle, reproducible across reruns and backfills.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hpc_hd_textreuse_etl_spark.functions.text import stopword_ratio, tokens
from hpc_hd_textreuse_etl_spark.operators.dedup import (
    check_hash_family,
    decontaminate,
    minhash_near_duplicates,
    resolve_duplicates,
)
from hpc_hd_textreuse_etl_spark.operators.sampling import train_test_split


@dataclass(frozen=True)
class CurationConfig:
    min_tokens: int = 20
    min_stopword_ratio: float = 0.05
    num_hashes: int = 32
    num_bands: int = 8
    minhash_threshold: float = 0.7
    decontam_ngram: int = 3
    decontam_min_overlap: int = 1
    test_fraction: float = 0.2
    split_salt: str = "split-v1"
    #: "xxhash64" in production; "portable" puts the minhash and
    #: decontamination stages under the DuckDB value-hash gate.
    hash_family: str = "xxhash64"


def quality_gate(docs: DataFrame, text_col: str, cfg: CurationConfig) -> DataFrame:
    """Too-short and low-stopword documents dropped — plain Catalyst
    predicates, evaluated at the scan."""
    n = F.size(tokens(text_col))
    return docs.filter(
        (n >= cfg.min_tokens)
        & (stopword_ratio(text_col) >= cfg.min_stopword_ratio)
    )


def exact_dedup_keepers(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the smallest id per exact content hash; the shuffle carries
    32-byte digests + ids, never bodies."""
    keepers = (
        docs.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return docs.join(keepers, id_col, "left_semi")


def curate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cfg: CurationConfig = CurationConfig(),
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The full curation chain; returns ``(id, split)`` for every
    surviving document ('train' / 'test', disjoint by the hash gate).
    An unknown ``cfg.hash_family`` raises ``ValueError`` before any job
    runs."""
    from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
        tracked_local_checkpoint,
    )

    check_hash_family(cfg.hash_family)
    q = quality_gate(docs, text_col, cfg)
    e = exact_dedup_keepers(q, id_col, text_col)
    # Pin the post-exact-dedup survivors ONCE: every stage below reads
    # them — minhash shingling, the connected-components loop's pair
    # derivation, the near-dup semi-join and decontamination grams.
    # Without the pin each consumer re-runs the scan + quality gate +
    # dedup chain from the source, and at corpus scale that is N full
    # passes over document bodies instead of one materialization (the
    # reference's per-asset snapshot pattern, done engine-side).
    # Tracked — released at the registry hygiene point.
    e = tracked_local_checkpoint(e)
    pairs = minhash_near_duplicates(
        e, id_col, text_col,
        num_hashes=cfg.num_hashes, num_bands=cfg.num_bands,
        threshold=cfg.minhash_threshold, hash_family=cfg.hash_family,
    )
    verdict = resolve_duplicates(
        e, id_col, pairs, checkpoint_dir=checkpoint_dir
    )
    canon = verdict.filter(F.col("is_canonical")).select(id_col)
    nd = e.join(canon, id_col, "left_semi")
    clean = decontaminate(
        nd, benchmark, id_col, text_col,
        n=cfg.decontam_ngram, min_overlap=cfg.decontam_min_overlap,
        hash_family=cfg.hash_family,
    )
    return train_test_split(
        clean, [id_col], cfg.test_fraction, salt=cfg.split_salt
    ).select(id_col, "split")
