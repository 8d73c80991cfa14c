"""Per-stage Spark job counts of the ids, pieces and defrag layers.

At this size a stage's cost is Spark's fixed overhead per job, not its
rows, so the job count is the figure to guard. The stages run through a
:class:`Registry` one call per stage, as a production pass does, and
each stage's jobs are read from its ``statusTracker`` job group. The
bounds are the counts measured when the offsets of dense ids became a
literal and the Registry stopped re-inferring the schemas of snapshots
it wrote, plus one: a change that brings back a schema-inference job per
reused snapshot or a broadcast job per dense-id call fails here. The
``orig_pieces`` and ``defrag_pieces`` bounds are the counts measured
once dense ids chose their strategy from the size estimate alone, plus
one. The ``textreuses`` and ``piece_id_mappings`` bounds are the counts
measured once that estimate summed the plan's leaf relations instead of
multiplying the sides of a join, plus one: at this size every dense-id
input takes the window path, as at benchmark scale. The
``clustered_defrag_pieces`` bound is its count, with Chinese Whispers at
the benchmark's settings, plus one, measured once the grouping by
component read the star forest of connected components instead of a
second adjacency list and ``T`` was written without a Spark job (7 jobs;
11 before).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from hpc_hd_textreuse_etl_spark.functions.checkpoints import release_local_checkpoints
from hpc_hd_textreuse_etl_spark.operators import defrag as D
from hpc_hd_textreuse_etl_spark.plans import textreuse as TR
from hpc_hd_textreuse_etl_spark.plans.registry import Registry

N_HITS = 500

#: stage -> most jobs its Registry.materialise call may run
MAX_JOBS = {
    "textreuse_ids": 4,
    "textreuses": 4,
    "orig_pieces": 4,
    "orig_textreuses": 3,
    "piece_id_mappings": 9,
    "defrag_pieces": 4,
    "defrag_textreuses": 4,
    "clustered_defrag_pieces": 8,
}


def _raw_hits(spark):
    """``N_HITS`` hits over 40 documents (a third of them EEBO-style
    dotted names) whose span starts jitter by a few characters, so defrag
    has pieces to merge. JVM-only: no Python worker builds them."""
    i = F.col("id")

    def doc(k):
        return F.when(k % 3 == 0, F.format_string("A%03d.main_%d", k, k % 2)).otherwise(
            F.format_string("%010d", k)
        )

    s1 = (i % 25) * 200 + (i % 3) * 5
    s2 = ((i * 13) % 25) * 200 + (i % 2) * 7
    return spark.range(N_HITS).select(
        doc(i % 40).alias("text1_id"),
        doc((i * 7 + 3) % 40).alias("text2_id"),
        s1.cast("int").alias("text1_text_start"),
        (s1 + 150).cast("int").alias("text1_text_end"),
        s2.cast("int").alias("text2_text_start"),
        (s2 + 150).cast("int").alias("text2_text_end"),
        F.lit(150).alias("align_length"),
        (F.lit(90.0) + i % 10).alias("positives_percent"),
    )


def _registry() -> Registry:
    reg = Registry()
    reg.add("raw_hits", builder=_raw_hits)
    reg.add("textreuse_ids", deps=["raw_hits"],
            builder=lambda s, raw_hits: TR.textreuse_ids(raw_hits))
    reg.add("textreuses", deps=["raw_hits", "textreuse_ids"],
            builder=lambda s, raw_hits, textreuse_ids: TR.textreuses(raw_hits, textreuse_ids))
    reg.add("orig_pieces", deps=["textreuses"],
            builder=lambda s, textreuses: TR.orig_pieces(textreuses))
    reg.add("orig_textreuses", deps=["textreuses", "orig_pieces"],
            builder=lambda s, textreuses, orig_pieces: TR.orig_textreuses(textreuses, orig_pieces))
    reg.add("piece_id_mappings", deps=["orig_pieces"],
            builder=lambda s, orig_pieces: D.piece_id_mappings(orig_pieces))
    reg.add("defrag_pieces", deps=["orig_pieces", "piece_id_mappings"],
            builder=lambda s, orig_pieces, piece_id_mappings: D.defrag_pieces(
                orig_pieces, piece_id_mappings))
    reg.add("defrag_textreuses", deps=["orig_textreuses", "piece_id_mappings"],
            builder=lambda s, orig_textreuses, piece_id_mappings: D.defrag_textreuses(
                orig_textreuses.select("piece1_id", "piece2_id"), piece_id_mappings))
    reg.add("clustered_defrag_pieces", deps=["defrag_textreuses"],
            builder=lambda s, defrag_textreuses: TR.cluster_pieces(
                defrag_textreuses, max_iter=8, tie_freeze=5, min_active=0.001))
    return reg


def test_stage_job_counts_stay_bounded(spark, tmp_path):
    sc = spark.sparkContext
    reg = _registry()
    assets = str(tmp_path / "assets")
    jobs = {}
    for name in reg.order(list(MAX_JOBS)):
        group = f"test_stage_job_counts-{name}"
        sc.setJobGroup(group, name)
        try:
            reg.materialise(spark, assets, [name], default_target_files=4)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.clearCache()
        release_local_checkpoints(blocking=True)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    rows = {n: spark.read.parquet(f"{assets}/{n}.parquet").count() for n in jobs}
    assert rows["raw_hits"] == N_HITS
    assert all(rows.values()), rows
    assert rows["defrag_textreuses"] <= rows["orig_textreuses"]
    over = {n: (jobs[n], b) for n, b in MAX_JOBS.items() if jobs[n] > b}
    assert not over, f"jobs per stage {jobs}; over bound (jobs, bound): {over}"
