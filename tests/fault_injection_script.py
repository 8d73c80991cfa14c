"""Retry-determinism fault injection (run in its own process — the
shared test session's plain ``local[N]`` master never retries tasks;
this one uses ``local[8,2]`` so every task gets a second attempt).

SCALE.md claims every random choice in the engine is retry-stable: a
re-executed task must produce the SAME rows, or a 1000-executor run
with routine task retries silently corrupts seeded sampling, minhash
signatures, and CW cluster assignments. This script makes each task of
the INPUT stage fail its first attempt (``TaskContext.attemptNumber()``)
via a mapInPandas shim, runs the seeded chain — hash_sample →
minhash_near_duplicates → chinese_whispers — and asserts bit-identical
output against the no-fault run in the same session. Exits 0 on
success; prints FAULT-DETERMINISM-OK so the caller can assert the
faults actually fired (the shim counts first attempts via accumulator).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import TaskContext
from pyspark.sql import functions as F

from hpc_hd_textreuse_etl_spark.catalog import load_testdata
from hpc_hd_textreuse_etl_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


def main() -> int:
    spark = get_spark(master="local[8,2]", shuffle_partitions=8)
    load_testdata(spark, SF_DIR)
    docs = spark.table("documents").select("doc_id", "text")
    injected_failures = spark.sparkContext.accumulator(0)

    def first_attempt_fails(df):
        def gen(batches):
            tc = TaskContext.get()
            if tc is not None and tc.attemptNumber() == 0:
                raise RuntimeError("injected first-attempt task failure")
            # accumulator updates from FAILED tasks are discarded, so
            # count the retry attempts that the failures forced instead
            if tc is not None and tc.attemptNumber() > 0:
                injected_failures.add(1)
            yield from batches

        return df.mapInPandas(gen, df.schema)

    def chain(source):
        from hpc_hd_textreuse_etl_spark.operators.clustering import (
            chinese_whispers,
            clustered_pieces,
            symmetrize_edges,
        )
        from hpc_hd_textreuse_etl_spark.operators.dedup import (
            minhash_near_duplicates,
        )
        from hpc_hd_textreuse_etl_spark.operators.sampling import hash_sample

        sampled = hash_sample(source, ["doc_id"], 0.8, salt="retry-test")
        pairs = minhash_near_duplicates(
            sampled, "doc_id", "text", threshold=0.3, num_hashes=16,
            num_bands=8, shingle_size=3,
        )
        edges = pairs.select(
            F.col("id_a").alias("piece1_id"), F.col("id_b").alias("piece2_id")
        )
        state, _ = chinese_whispers(symmetrize_edges(edges), max_iter=10, seed=7)
        clusters = clustered_pieces(state)
        return (
            sorted(tuple(r) for r in sampled.select("doc_id").collect()),
            sorted(tuple(r) for r in pairs.collect()),
            sorted(tuple(r) for r in clusters.collect()),
        )

    # spread the source over 8 partitions so the shim injects (and the
    # scheduler retries) many independent task failures, not one or two
    faulty = chain(first_attempt_fails(docs.repartition(8)))
    assert injected_failures.value > 0, (
        "no retry attempt ever ran — the fault injection never fired"
    )
    n_faults = injected_failures.value
    clean = chain(docs)
    labels = ("hash_sample", "minhash_pairs", "cw_clusters")
    for name, a, b in zip(labels, faulty, clean):
        assert a == b, f"{name} diverged under task retry ({len(a)} vs {len(b)} rows)"
        assert len(a) > 0, f"{name} produced no rows — trivial comparison"
    print(f"FAULT-DETERMINISM-OK faults={n_faults}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
