"""The curation job: ``plans.curation.curate`` over a generated corpus
with planted exact duplicates, edited near-duplicates, too-short
documents and documents that share n-grams with the benchmark set.

It runs in the set-up of the ``reuse_etl`` workload (a batch process:
the curation job, then the text-reuse DAG), so its time is part of that
workload's ``setup_s``. The untraced run makes one cold ``curate`` call.
The traced run calls the public stage functions ``curate`` composes, in
the same order, with a span and a forced (checkpointed) result per
stage, then calls ``curate`` itself and checks that both outputs are
equal.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as papq


class Curation:
    shape = "curation"

    def setup(self, ctx) -> None:
        from hpc_hd_textreuse_etl_spark.plans.curation import CurationConfig

        spark = ctx.spark
        self.data_dir = ctx.data[self.shape]
        self.n_docs = ctx.inputs[self.shape]["docs"]
        self.cfg = CurationConfig()
        self.docs = spark.read.parquet(os.path.join(self.data_dir, "docs")).select("doc_id", "text")
        self.bench = spark.read.parquet(os.path.join(self.data_dir, "benchmark"))
        self.calls = 0
        self.out = None

    def _curate(self, ctx) -> list[tuple]:
        from hpc_hd_textreuse_etl_spark.functions.checkpoints import release_local_checkpoints
        from hpc_hd_textreuse_etl_spark.plans.curation import curate

        self.calls += 1
        ck = ctx.path(f"cc-{self.calls}")
        try:
            rows = [tuple(r) for r in curate(self.docs, self.bench, cfg=self.cfg,
                                             checkpoint_dir=ck).collect()]
        finally:
            ctx.spark.catalog.clearCache()
            release_local_checkpoints(blocking=True)
        return rows

    def run(self, ctx) -> float:
        """One curation job; returns its wall time (s)."""
        t0 = time.perf_counter()
        if ctx.traced:
            self._run_traced(ctx)
        else:
            self.out = self._curate(ctx)
        return time.perf_counter() - t0

    def _run_traced(self, ctx) -> None:
        """The stages of ``curate``, one span and one forced result each."""
        from pyspark.sql import functions as F

        from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
            release_local_checkpoints,
            tracked_local_checkpoint as pin,
        )
        from hpc_hd_textreuse_etl_spark.operators.dedup import (
            decontaminate,
            minhash_near_duplicates,
            resolve_duplicates,
        )
        from hpc_hd_textreuse_etl_spark.operators.sampling import train_test_split
        from hpc_hd_textreuse_etl_spark.plans.curation import exact_dedup_keepers, quality_gate

        cfg, tr, stats = self.cfg, ctx.tracer, {}
        with tr.span("curation.curate", "curation"):
            with tr.span("curation.quality_gate", "curation"):
                q = pin(quality_gate(self.docs, "text", cfg))
            with tr.span("dedup.exact", "dedup"):
                e = pin(exact_dedup_keepers(q, "doc_id", "text"))
            with tr.span("dedup.minhash", "dedup"):
                pairs = pin(minhash_near_duplicates(
                    e, "doc_id", "text", num_hashes=cfg.num_hashes, num_bands=cfg.num_bands,
                    threshold=cfg.minhash_threshold, hash_family=cfg.hash_family))
                stats["pairs"] = pairs.count()
            with tr.span("dedup.resolve", "graph"):
                verdict = resolve_duplicates(e, "doc_id", pairs,
                                             checkpoint_dir=ctx.path("cc-traced"))
                canon = verdict.filter(F.col("is_canonical")).select("doc_id")
                nd = pin(e.join(canon, "doc_id", "left_semi"))
            with tr.span("dedup.decontaminate", "dedup"):
                clean = pin(decontaminate(
                    nd, self.bench, "doc_id", "text", n=cfg.decontam_ngram,
                    min_overlap=cfg.decontam_min_overlap, hash_family=cfg.hash_family))
            with tr.span("sampling.split", "sampling"):
                rows = [tuple(r) for r in train_test_split(
                    clean, ["doc_id"], cfg.test_fraction, salt=cfg.split_salt
                ).select("doc_id", "split").collect()]
        ctx.spark.catalog.clearCache()
        release_local_checkpoints(blocking=True)
        self.out = self._curate(ctx)
        self.traced_stats = dict(stats, same_as_curate=sorted(rows) == sorted(self.out))

    # -- output checks --------------------------------------------------

    def check(self, ctx) -> dict[str, bool]:
        n = self.cfg.decontam_ngram
        docs = papq.read_table(os.path.join(self.data_dir, "docs")).to_pydict()
        text = dict(zip(docs["doc_id"], docs["text"]))
        kind = dict(zip(docs["doc_id"], docs["kind"]))
        bench = papq.read_table(os.path.join(self.data_dir, "benchmark")).column(0).to_pylist()

        def grams(t):
            toks = t.split()
            return {tuple(toks[i: i + n]) for i in range(len(toks) - n + 1)}

        bench_grams = set().union(*(grams(b) for b in bench))
        ids = [r[0] for r in self.out]
        kept = [text[i] for i in ids]
        res = {
            "split_disjoint_and_exhaustive": len(ids) == len(set(ids))
                and {r[1] for r in self.out} <= {"train", "test"},
            "no_exact_duplicate_survives": len(kept) == len(set(kept)),
            "no_survivor_shares_benchmark_ngram":
                all(not (grams(t) & bench_grams) for t in kept),
            "no_short_document_survives": all(kind[i] != "short" for i in ids),
            "both_splits_nonempty": {r[1] for r in self.out} == {"train", "test"},
        }
        if ctx.traced:
            res["traced_stages_equal_curate"] = self.traced_stats["same_as_curate"]
        return res

    def layer_metrics(self, ctx) -> dict[str, float]:
        return {
            "dedup.pairs": self.traced_stats["pairs"],
            "curation.survivor_ratio": len(self.out) / self.n_docs,
        }
