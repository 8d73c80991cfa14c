#!/usr/bin/env python
"""Composed end-to-end pipeline at scale: the reference's production DAG
as ONE registry-driven run, measured stage by stage.

The reference's actual entry point is the composed asset DAG
(``/root/reference/etl_textreuse/__init__.py:7-14``): zip-of-JSONL BLAST
hits → textreuse ids → pieces → defrag → Chinese-Whispers clustering →
metadata layer (ids/dates/titles/authors) → reception (+ book-restricted
variant) → coverages → serving tables. Every operator in that chain is
individually oracle-gated in this repo; what was never measured before
round 7 is the COMPOSED run — per-stage wall, shuffle bytes, and the
materialization overhead the registry's snapshot-per-stage contract adds
— at a data size where the answers mean something.

``--generate`` builds a deterministic reference-shaped corpus
(FIXTURES.md schemas) entirely in Spark (no driver-side row loops):

- documents across all three id formats (ECCO 10-digit / EEBO dotted /
  BL-newspaper), hash-derived lengths 5–20k chars;
- BLAST hits with FAMILY structure: each hit connects two of the ~6
  documents of a hash-assigned family at a family-specific base span,
  jittered through all the defrag-threshold branches (exact duplicate,
  <10, 10–180, >180 chars) with some spans <40 chars and some exactly
  adjacent — the span algebra the reference's
  ``min(max(min(l1,l2)/4,10),180)`` rule exists for; families overlap
  document windows so clusters chain realistically;
- metadata fixtures per FIXTURES.md §3–§7: ecco/eebo/estc parquet with
  NULL-estc placeholder editions, sentinel ECCO dates, all four EEBO
  date shapes, ghost NULL-id rows, duplicate title mappings, NULL
  work_ids, authorless editions, plus the newspapers table as CSV
  (header, explicit schema at read — exercising the CSV source in the
  composed run);
- raw texts sized to cover every span (coverage denominators).

Hits are written as a zip of 32 JSONL members (Spark writes the lines,
the driver only streams part files into the archive) so ingest runs
through the real ``read_zip_jsonl`` scan, which sizes its tasks by the
members' compressed bytes (``spark.sql.files.maxPartitionBytes``), at
most the 32 members.

``--run`` materializes the full DAG through ``plans/registry.py`` one
asset at a time in topological order, timing each ``materialise`` call
and diffing the UI REST shuffle totals around it; ``--compare-lazy``
then recomputes the terminal assets end-to-end WITHOUT intermediate
snapshots, so the committed artifact can state the materialization
overhead as a measured ratio instead of an argument. Row-count sanity
invariants (defrag never grows pieces, every piece clustered, edge
fan-out bounded by cluster sizes) are asserted and recorded.

Usage:
    python examples/pipeline_scale.py --generate            # sf1 corpus
    python examples/pipeline_scale.py --generate-half       # sf0.5 rung
    python examples/pipeline_scale.py --run --compare-lazy  # both rungs
Writes PIPELINE_SCALE.json at the repo root.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time
import urllib.request
import zipfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1_DIR = os.path.join(REPO, "scale_data", "pipeline_sf1")
SF05_DIR = os.path.join(REPO, "scale_data", "pipeline_sf05")
SF2_DIR = os.path.join(REPO, "scale_data", "pipeline_sf2")

#: small-files hygiene for the composed run (catalog.materialise
#: target_files): 70 snapshots × default shuffle partitions would write
#: thousands of tiny files; 8 bounds listing cost while keeping write
#: parallelism for the data sizes of these rungs. Recorded per stage.
TARGET_FILES = 8

HIT_SCHEMA = (
    "text1_id string, text2_id string, text1_text_start int, text1_text_end int, "
    "text2_text_start int, text2_text_end int, align_length int, "
    "positives_percent double"
)

NEWS_SCHEMA = (
    "article_id string, issue_start_date date, newspaper_title string"
)


def _h(col, salt: int):
    """Deterministic non-negative hash stream (no Date.now/rand)."""
    return F.abs(F.xxhash64(col.cast("string"), F.lit(salt)))


def generate(spark, out_dir: str, n_docs: int, n_hits: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    print(f"[generate] {out_dir}: {n_docs} docs, {n_hits} hits", flush=True)

    docs = spark.range(n_docs).select(
        F.col("id").alias("i"),
        (F.col("id") % 3).alias("coll"),
    )
    text_name = (
        F.when(F.col("coll") == 0, F.format_string("%010d", F.col("i") + 287900000))
        .when(F.col("coll") == 1, F.format_string("A%05d.main_body_%d", F.col("i"), F.col("i") % 7))
        .otherwise(
            F.format_string(
                "NICNF%04d-C00000-N%07d-00020-001", F.col("i") % 10000, F.col("i")
            )
        )
    )
    docs = (
        docs.withColumn("text_name", text_name)
        .withColumn("doc_len", (F.lit(5000) + F.pmod(_h(F.col("i"), 1), F.lit(15000))).cast("int"))
        .persist()
    )
    docs.write.mode("overwrite").parquet(os.path.join(out_dir, "docs_index"))

    # ---- BLAST hits with family structure --------------------------------
    n_families = max(n_docs // 4, 1)
    hits = spark.range(n_hits).select(F.col("id").alias("h"))
    f = F.pmod(_h(F.col("h"), 10), F.lit(n_families))
    m1 = F.pmod(_h(F.col("h"), 11), F.lit(6))
    m2r = F.pmod(_h(F.col("h"), 12), F.lit(6))
    m2 = F.when(m2r == m1, F.pmod(m2r + 1, F.lit(6))).otherwise(m2r)
    hits = hits.select(
        "h",
        F.pmod(f * 4 + m1, F.lit(n_docs)).alias("d1"),
        F.pmod(f * 4 + m2, F.lit(n_docs)).alias("d2"),
        (F.lit(200) + F.pmod(f, F.lit(40)) * 100).alias("sbase"),
    )
    # jitter classes exercise every defrag-threshold branch; class 9
    # places the span exactly adjacent to the family base block (the
    # gaps-and-islands `previous_end + 1 >= start` edge)
    jc = F.pmod(_h(F.col("h"), 13), F.lit(10))
    lenc = F.pmod(_h(F.col("h"), 15), F.lit(10))
    # length is a function of (family, length-class), NOT the hit — so
    # jitter-0 hits in the same family repeat (doc, start, end) exactly
    # and the orig_pieces UNION dedup has real work to do
    fl = f * 16 + lenc
    ln = F.when(lenc == 0, F.lit(20) + F.pmod(_h(fl, 16), F.lit(20))).otherwise(
        F.lit(40) + F.pmod(_h(fl, 16), F.lit(360))
    )

    def jitter(salt: int):
        r = _h(F.col("h"), salt)
        return (
            F.when(jc <= 3, F.lit(0))
            .when(jc <= 6, F.lit(1) + F.pmod(r, F.lit(9)))
            .when(jc <= 8, F.lit(15) + F.pmod(r, F.lit(156)))
            .otherwise(F.lit(200) + F.pmod(r, F.lit(200)))
        )

    s1 = F.when(jc == 9, F.col("sbase") + ln).otherwise(F.col("sbase") + jitter(17))
    s2 = F.col("sbase") + jitter(18)
    hits = hits.select(
        "h", "d1", "d2",
        s1.cast("int").alias("start1"), (s1 + ln).cast("int").alias("end1"),
        s2.cast("int").alias("start2"), (s2 + ln).cast("int").alias("end2"),
        ln.cast("int").alias("align_length"),
        (F.lit(85.0) + F.pmod(_h(F.col("h"), 19), F.lit(150)) / 10.0).alias(
            "positives_percent"
        ),
    )
    name1 = docs.select(F.col("i").alias("d1"), F.col("text_name").alias("text1_id"))
    name2 = docs.select(F.col("i").alias("d2"), F.col("text_name").alias("text2_id"))
    hit_rows = (
        hits.join(F.broadcast(name1), "d1")
        .join(F.broadcast(name2), "d2")
        .select(
            F.to_json(
                F.struct(
                    "text1_id", "text2_id",
                    F.col("start1").alias("text1_text_start"),
                    F.col("end1").alias("text1_text_end"),
                    F.col("start2").alias("text2_text_start"),
                    F.col("end2").alias("text2_text_end"),
                    "align_length", "positives_percent",
                )
            ).alias("value")
        )
    )
    staging = os.path.join(out_dir, "_jsonl_staging")
    hit_rows.repartition(32).write.mode("overwrite").text(staging)
    zip_path = os.path.join(out_dir, "blast_hits.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        for idx, part in enumerate(sorted(glob.glob(os.path.join(staging, "part-*")))):
            zf.write(part, arcname=f"tr_output_{idx:03d}.jsonl")
    shutil.rmtree(staging)

    # ---- metadata fixtures (FIXTURES.md §3-§7) ---------------------------
    i = F.col("i")
    estc_key = F.format_string("T%06d", (i / 6).cast("long"))
    ecco = docs.filter(F.col("coll") == 0).select(
        F.col("text_name").alias("ecco_id"),
        F.when(i % 17 == 0, F.lit(None)).otherwise(estc_key).alias("estc_id"),
        F.when(i % 23 == 0, F.lit(10000101.0))  # sentinel → ESTC fallback
        .otherwise(((F.lit(1700) + i % 99) * 10000 + 101).cast("double"))
        .alias("ecco_date_start"),
        F.format_string("Ecco Title %d", i).alias("ecco_full_title"),
    )
    ecco.write.mode("overwrite").parquet(os.path.join(out_dir, "ecco_core"))

    eebo_base = docs.filter(F.col("coll") == 1)
    date_shape = F.pmod(_h(i, 30), F.lit(4))
    yr = (F.lit(1600) + i % 150).cast("int")
    eebo_date = (
        F.when(date_shape == 0, yr.cast("string"))
        .when(date_shape == 1, F.format_string("-%d", yr))
        .when(date_shape == 2, F.format_string("%d-%d", yr, yr + 7))
        .otherwise(F.format_string("April 24, %d", yr))
    )
    eebo = eebo_base.select(
        F.substring_index("text_name", ".", 1).alias("eebo_tcp_id"),
        F.when(i % 17 == 0, F.lit(None)).otherwise(estc_key).alias("estc_id"),
        eebo_date.alias("eebo_tls_publication_date"),
        F.format_string("Eebo Title %d", i).alias("eebo_tls_title"),
    )
    # ghost NULL-id rows (must be dropped) + duplicate mapping rows with
    # a differing title (MAX dedup branch)
    ghosts = eebo_base.filter(i % 500 == 0).select(
        F.lit(None).cast("string").alias("eebo_tcp_id"),
        estc_key.alias("estc_id"),
        F.lit("1700").alias("eebo_tls_publication_date"),
        F.lit("Ghost").alias("eebo_tls_title"),
    )
    dups = eebo_base.filter(i % 50 == 0).select(
        F.substring_index("text_name", ".", 1).alias("eebo_tcp_id"),
        F.when(i % 17 == 0, F.lit(None)).otherwise(estc_key).alias("estc_id"),
        eebo_date.alias("eebo_tls_publication_date"),
        F.format_string("Eebo Title %d variant", i).alias("eebo_tls_title"),
    )
    eebo.unionByName(ghosts).unionByName(dups).write.mode("overwrite").parquet(
        os.path.join(out_dir, "eebo_core")
    )

    news = docs.filter(F.col("coll") == 2).select(
        F.col("text_name").alias("article_id"),
        F.date_add(F.lit("1732-01-01").cast("date"), F.pmod(_h(i, 31), F.lit(3650)).cast("int")).alias("issue_start_date"),
        F.format_string("Daily Courant %d", i % 20).alias("newspaper_title"),
    )
    news.coalesce(4).write.mode("overwrite").option("header", True).csv(
        os.path.join(out_dir, "bl_newspapers_meta_csv")
    )

    n_estc = n_docs // 6 + 2
    estc = spark.range(n_estc).select(
        F.format_string("T%06d", F.col("id")).alias("estc_id"),
        F.when(F.col("id") % 13 == 0, F.lit(None))
        .otherwise(F.format_string("W%06d", (F.col("id") / 3).cast("long")))
        .alias("work_id"),
        (F.lit(1600.0) + F.col("id") % 250).alias("publication_year"),
    )
    estc.write.mode("overwrite").parquet(os.path.join(out_dir, "estc_core"))

    actors = spark.range(500).select(
        F.format_string("A%04d", F.col("id")).alias("actor_id"),
        F.format_string("Author %d", F.col("id")).alias("name_unified"),
    )
    actors.write.mode("overwrite").parquet(os.path.join(out_dir, "estc_actors"))
    links = (
        spark.range(n_estc)
        .filter(F.col("id") % 11 != 0)  # some editions stay authorless
        .select(
            F.format_string("T%06d", F.col("id")).alias("estc_id"),
            F.format_string("A%04d", F.col("id") % 500).alias("actor_id"),
            F.lit(1).alias("actor_role_author"),
        )
        .unionByName(
            spark.range(n_estc).filter(F.col("id") % 7 == 0).select(
                F.format_string("T%06d", F.col("id")).alias("estc_id"),
                F.format_string("A%04d", (F.col("id") + 3) % 500).alias("actor_id"),
                F.lit(0).alias("actor_role_author"),  # non-author role
            )
        )
    )
    links.write.mode("overwrite").parquet(os.path.join(out_dir, "estc_actor_links"))

    # raw texts: only LENGTH feeds the pipeline (coverage denominators),
    # but make them real strings of the indexed length
    sources = docs.select(
        F.col("text_name").alias("doc_id"),
        F.expr(
            "substring(repeat('lorem ipsum dolor sit amet consectetur ', 600), 1, doc_len)"
        ).alias("text"),
        F.when(F.col("coll") == 0, "ecco")
        .when(F.col("coll") == 1, "eebo")
        .otherwise("newspapers")
        .alias("collection"),
        F.lit("synthetic://pipeline_scale").alias("text_loc"),
    )
    sources.write.mode("overwrite").option("compression", "zstd").parquet(
        os.path.join(out_dir, "textreuse_sources")
    )
    docs.unpersist()
    print("[generate] done", flush=True)


# ---------------------------------------------------------------------------
# Composed run
# ---------------------------------------------------------------------------


def _stage_totals(spark) -> tuple[int, int]:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages") as r:
        stages = json.load(r)
    return (
        sum(s.get("shuffleReadBytes", 0) for s in stages),
        sum(s.get("shuffleWriteBytes", 0) for s in stages),
    )


def build_registry(spark, data_dir: str, cw_stats: dict | None = None):
    """The full reference DAG as registry recipes over the generated
    corpus. Tuple-returning metadata builders appear as two recipes;
    the second recomputes the (cheap, dim-sized) shared subtree from
    the same materialized deps rather than inventing a tuple-asset
    mechanism. ``cw_stats`` (optional dict) receives the CW loop's
    iteration count / converged flag (round-8 item: the tie-freeze fix
    must show the composed CW stage converging before the cap)."""
    from hpc_hd_textreuse_etl_spark.operators import defrag as D
    from hpc_hd_textreuse_etl_spark.plans import metadata as M
    from hpc_hd_textreuse_etl_spark.plans import textreuse as TR
    from hpc_hd_textreuse_etl_spark.plans.registry import Registry
    from hpc_hd_textreuse_etl_spark.sources.csv_source import read_csv
    from hpc_hd_textreuse_etl_spark.sources.zip_jsonl import read_zip_jsonl

    zip_path = os.path.join(data_dir, "blast_hits.zip")
    pq = lambda name: spark.read.parquet(os.path.join(data_dir, name))  # noqa: E731

    reg = Registry()
    reg.add("raw_hits", builder=lambda s: read_zip_jsonl(s, zip_path, HIT_SCHEMA, num_partitions=32))
    reg.add("ecco_core", builder=lambda s: pq("ecco_core"))
    reg.add("eebo_core", builder=lambda s: pq("eebo_core"))
    reg.add("estc_core", builder=lambda s: pq("estc_core"))
    reg.add("estc_actors", builder=lambda s: pq("estc_actors"))
    reg.add("estc_actor_links", builder=lambda s: pq("estc_actor_links"))
    reg.add("textreuse_sources", builder=lambda s: pq("textreuse_sources"))
    reg.add(
        "newspapers_core",
        builder=lambda s: read_csv(
            s, os.path.join(data_dir, "bl_newspapers_meta_csv"), NEWS_SCHEMA
        ),
    )

    # --- core text-reuse chain -------------------------------------------
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
            builder=lambda s, orig_pieces, piece_id_mappings: D.defrag_pieces(orig_pieces, piece_id_mappings))
    reg.add("defrag_textreuses", deps=["orig_textreuses", "piece_id_mappings"],
            builder=lambda s, orig_textreuses, piece_id_mappings: D.defrag_textreuses(
                orig_textreuses.select("piece1_id", "piece2_id"), piece_id_mappings))
    reg.add("clustered_defrag_pieces", deps=["defrag_textreuses"],
            # the cw_probe-proven convergence config (round 8): default
            # tie_freeze=5 plus the 0.001 activity floor, cap high
            # enough that termination is BY CONVERGENCE (the probe
            # measured 95/250 at sf1; reference semantics never
            # converge on this tie-rich graph) — a user copying this
            # harness config gets converged:true, not cap-termination
            builder=lambda s, defrag_textreuses: TR.cluster_pieces(
                defrag_textreuses, max_iter=250, min_active=0.001,
                stats=cw_stats))

    # --- metadata layer ---------------------------------------------------
    reg.add("manifestation_ids", deps=["ecco_core", "eebo_core", "newspapers_core"],
            builder=lambda s, ecco_core, eebo_core, newspapers_core:
                M.manifestation_ids(ecco_core, eebo_core, newspapers_core))
    reg.add("edition_ids", deps=["ecco_core", "eebo_core", "newspapers_core", "manifestation_ids"],
            builder=lambda s, ecco_core, eebo_core, newspapers_core, manifestation_ids:
                M.edition_ids_and_mapping(ecco_core, eebo_core, newspapers_core, manifestation_ids)[0])
    reg.add("edition_mapping", deps=["ecco_core", "eebo_core", "newspapers_core", "manifestation_ids"],
            builder=lambda s, ecco_core, eebo_core, newspapers_core, manifestation_ids:
                M.edition_ids_and_mapping(ecco_core, eebo_core, newspapers_core, manifestation_ids)[1])
    reg.add("work_mapping", deps=["estc_core", "manifestation_ids", "edition_ids", "edition_mapping"],
            builder=lambda s, estc_core, manifestation_ids, edition_ids, edition_mapping:
                M.work_ids_and_mapping(estc_core, manifestation_ids, edition_ids, edition_mapping)[1])
    reg.add("actor_ids", deps=["estc_actors"],
            builder=lambda s, estc_actors: M.actor_ids(estc_actors))
    reg.add("edition_authors", deps=["edition_ids", "estc_actor_links", "actor_ids"],
            builder=lambda s, edition_ids, estc_actor_links, actor_ids:
                M.edition_authors(edition_ids, estc_actor_links, actor_ids))
    reg.add("manifestation_publication_date",
            deps=["ecco_core", "eebo_core", "newspapers_core", "estc_core",
                  "manifestation_ids", "edition_ids", "edition_mapping"],
            builder=lambda s, ecco_core, eebo_core, newspapers_core, estc_core,
                   manifestation_ids, edition_ids, edition_mapping:
                M.manifestation_publication_date(
                    ecco_core, eebo_core, newspapers_core, estc_core,
                    manifestation_ids, edition_ids, edition_mapping))
    reg.add("manifestation_title",
            deps=["ecco_core", "eebo_core", "newspapers_core", "manifestation_ids"],
            builder=lambda s, ecco_core, eebo_core, newspapers_core, manifestation_ids:
                M.manifestation_title(ecco_core, eebo_core, newspapers_core, manifestation_ids))
    reg.add("trs_edition_mapping", deps=["textreuse_ids", "manifestation_ids", "edition_mapping", "work_mapping"],
            builder=lambda s, textreuse_ids, manifestation_ids, edition_mapping, work_mapping:
                M.textreuse_metadata_mappings(textreuse_ids, manifestation_ids, edition_mapping, work_mapping)["textreuse_edition_mapping"])
    reg.add("trs_work_mapping", deps=["textreuse_ids", "manifestation_ids", "edition_mapping", "work_mapping"],
            builder=lambda s, textreuse_ids, manifestation_ids, edition_mapping, work_mapping:
                M.textreuse_metadata_mappings(textreuse_ids, manifestation_ids, edition_mapping, work_mapping)["textreuse_work_mapping"])

    # trs-level publication dates feed earliest/reception
    def trs_dates(s, textreuse_ids, manifestation_ids, manifestation_publication_date):
        return (
            textreuse_ids.join(manifestation_ids, "manifestation_id")
            .join(manifestation_publication_date, "manifestation_id_i")
            .select("trs_id", "publication_date")
        )

    reg.add("manifestation_dates",
            deps=["textreuse_ids", "manifestation_ids", "manifestation_publication_date"],
            builder=trs_dates)

    # --- reception / coverages / stats -----------------------------------
    reg.add("earliest_pieces",
            deps=["clustered_defrag_pieces", "defrag_pieces", "manifestation_dates"],
            builder=lambda s, clustered_defrag_pieces, defrag_pieces, manifestation_dates:
                TR.earliest_pieces_by_cluster(clustered_defrag_pieces, defrag_pieces, manifestation_dates))
    reg.add("reception_edges", deps=["clustered_defrag_pieces", "earliest_pieces"],
            builder=lambda s, clustered_defrag_pieces, earliest_pieces:
                TR.reception_edges(clustered_defrag_pieces, earliest_pieces))
    reg.add("reception_edges_denorm", deps=["reception_edges", "defrag_pieces"],
            builder=lambda s, reception_edges, defrag_pieces:
                TR.reception_edges_denorm(reception_edges, defrag_pieces))

    def eligible_books(s, textreuse_ids, ecco_core, eebo_core):
        books = (
            ecco_core.select(F.col("ecco_id").alias("manifestation_id"))
            .unionByName(
                eebo_core.filter(F.col("eebo_tcp_id").isNotNull())
                .select(F.col("eebo_tcp_id").alias("manifestation_id"))
            )
            .distinct()
        )
        return textreuse_ids.join(books, "manifestation_id", "left_semi").select("trs_id")

    reg.add("eligible_book_trs", deps=["textreuse_ids", "ecco_core", "eebo_core"],
            builder=eligible_books)
    reg.add("book_reception_edges",
            deps=["clustered_defrag_pieces", "defrag_pieces", "manifestation_dates", "eligible_book_trs"],
            builder=lambda s, clustered_defrag_pieces, defrag_pieces, manifestation_dates, eligible_book_trs:
                TR.restricted_reception(
                    clustered_defrag_pieces, defrag_pieces,
                    manifestation_dates, eligible_book_trs)[1])
    reg.add("textreuse_source_lengths", deps=["textreuse_sources", "textreuse_ids"],
            builder=lambda s, textreuse_sources, textreuse_ids:
                TR.textreuse_source_lengths(textreuse_sources, textreuse_ids))
    reg.add("coverages", deps=["defrag_textreuses", "defrag_pieces", "textreuse_source_lengths"],
            builder=lambda s, defrag_textreuses, defrag_pieces, textreuse_source_lengths:
                TR.coverages(defrag_textreuses, defrag_pieces, textreuse_source_lengths))
    reg.add("source_piece_statistics_full",
            deps=["reception_edges", "defrag_pieces", "clustered_defrag_pieces",
                  "trs_edition_mapping", "trs_work_mapping", "edition_authors"],
            builder=lambda s, reception_edges, defrag_pieces, clustered_defrag_pieces,
                   trs_edition_mapping, trs_work_mapping, edition_authors:
                TR.source_piece_statistics_full(
                    reception_edges, defrag_pieces, clustered_defrag_pieces,
                    trs_edition_mapping, trs_work_mapping, edition_authors))
    return reg


#: terminal assets whose closure is the whole DAG
TERMINALS = (
    "reception_edges_denorm",
    "book_reception_edges",
    "coverages",
    "source_piece_statistics_full",
    "manifestation_title",
)


def run(spark, data_dir: str, assets_dir: str, label: str) -> dict:
    cw_stats: dict = {}
    reg = build_registry(spark, data_dir, cw_stats=cw_stats)
    order = reg.order(TERMINALS)
    stages = []
    rows = {}
    t_total0 = time.time()
    import gc

    for name in order:
        sh0 = _stage_totals(spark)
        t0 = time.time()
        done = reg.materialise(
            spark, assets_dir, [name], default_target_files=TARGET_FILES
        )
        wall = time.time() - t0
        sh1 = _stage_totals(spark)
        n = done[name].count()
        rows[name] = n
        n_files = len(
            glob.glob(os.path.join(assets_dir, f"{name}.parquet", "*.parquet"))
        )
        # stage-boundary cache hygiene: operators persist intermediates
        # (e.g. piece_id_mappings' raw table) that are dead once the
        # stage is snapshotted — in ONE long session running 70 stages
        # the leaked blocks squeeze storage memory until an iterative
        # stage (CW) thrashes on eviction/recompute (measured: 506s vs
        # 146s standalone at sf1). Production stages run as separate
        # jobs; this is the single-session equivalent. clearCache does
        # NOT free RDD-level localCheckpoint blocks (dense-id pins) —
        # those need the round-8 tracked release.
        from hpc_hd_textreuse_etl_spark.functions.checkpoints import (
            release_local_checkpoints,
        )

        spark.catalog.clearCache()
        release_local_checkpoints()
        gc.collect()
        stages.append({
            "stage": name,
            "wall_s": round(wall, 2),
            "shuffle_read_mb": round((sh1[0] - sh0[0]) / 1e6, 2),
            "shuffle_write_mb": round((sh1[1] - sh0[1]) / 1e6, 2),
            "rows": n,
            "files": n_files,
        })
        print(f"[{label}] {name}: {wall:.1f}s, {n} rows, "
              f"shuffle_w {(sh1[1] - sh0[1]) / 1e6:.1f} MB", flush=True)
    total = time.time() - t_total0

    # row-count sanity: the invariants a quadratic or broken stage breaks
    dp = spark.read.parquet(os.path.join(assets_dir, "defrag_pieces.parquet"))
    sanity = {
        "all_stages_nonempty": all(v > 0 for v in rows.values()),
        # round-7 catch: job-unstable dense ids produced ~0.8% duplicate
        # defrag piece ids at sf1 (functions/ids.py zip_with_index, fixed)
        "defrag_piece_ids_unique":
            dp.select("piece_id").distinct().count() == rows["defrag_pieces"],
        "defrag_never_grows_pieces": rows["defrag_pieces"] <= rows["orig_pieces"],
        "every_defrag_piece_clustered":
            rows["clustered_defrag_pieces"] == rows["defrag_pieces"],
        "dedup_shrinks_edges": rows["defrag_textreuses"] <= rows["orig_textreuses"],
        "coverage_rows_bounded_by_pieces": rows["coverages"] <= 2 * rows["defrag_textreuses"],
        "book_edges_subset_of_unrestricted_scale":
            rows["book_reception_edges"] <= 4 * rows["reception_edges"],
    }
    for k, ok in sanity.items():
        if not ok:
            print(f"[{label}] SANITY FAIL: {k}", flush=True)
    return {"label": label, "total_wall_s": round(total, 2),
            "cw": dict(cw_stats),
            "max_files_per_snapshot": max(s["files"] for s in stages),
            "stages": stages, "sanity": sanity}


def cw_probe(spark, data_dir: str, max_iter: int = 250) -> dict:
    """Round-8 convergence evidence: run the CW stage alone on the sf1
    corpus's materialized defrag_textreuses with a generous cap, under
    both semantics — reference (tie_freeze=None, the never-converge
    behavior) sampled for its activity plateau, and the default
    tie-freeze, run to convergence. Records iterations, wall, and the
    active-vertex trajectory sampled every 10 iterations."""
    import time as _time

    from hpc_hd_textreuse_etl_spark.operators.clustering import (
        chinese_whispers,
        symmetrize_edges,
    )

    edges = spark.read.parquet(
        os.path.join(data_dir, "assets", "defrag_textreuses.parquet")
    )
    out = {}
    # reference semantics: activity does not decay (tied vertices churn
    # forever) — sample the plateau at 40 iterations. tie-freeze turns
    # the active set into geometric decay (~0.9×/iter measured), but
    # mutually-adjacent tied groups reset each other's staleness, so the
    # exact-zero tail costs hundreds of iterations for a vanishing
    # vertex fraction — terminate that leg with the 0.1% activity floor.
    for label, tf, cap, floor in (
        ("reference_semantics", None, 40, 0),
        ("tie_freeze_with_floor", 5, max_iter, 0.001),
    ):
        adj = symmetrize_edges(edges)
        t0 = _time.time()
        state, iters = chinese_whispers(
            adj, max_iter=cap, seed=42, tie_freeze=tf, min_active=floor
        )
        wall = _time.time() - t0
        out[label] = {
            "max_iter": cap,
            "min_active": floor,
            "iterations": iters,
            "converged": iters < cap,
            "still_active": state.filter("active").count(),
            "n_vertices": state.count(),
            "wall_s": round(wall, 1),
        }
        spark.catalog.clearCache()
    return out


def run_lazy(spark, data_dir: str) -> dict:
    """Terminal assets end-to-end with NO intermediate snapshots (the
    CW loop still checkpoints internally — it must). The ratio of the
    materialized total to this wall is the registry's measured
    materialization overhead.

    The timer starts BEFORE builder resolution: several builders are not
    pure plan construction — ``cluster_pieces`` runs the whole CW loop
    (its per-iteration checkpoints are Spark actions) and the dense-id
    builders pin eager localCheckpoints — so resolution is real
    execution. An earlier revision started the clock after resolution,
    which silently excluded the single most expensive stage from the
    "lazy" wall and overstated the materialization overhead."""
    reg = build_registry(spark, data_dir)
    t0 = time.time()
    # resolve builders lazily by walking the same recipes without writes
    done = {}
    for name in reg.order(TERMINALS):
        recipe = reg._recipes[name]
        done[name] = recipe.builder(spark, **{d: done[d] for d in recipe.deps})
    counts = {}
    for t in TERMINALS:
        try:
            counts[t] = done[t].count()
        except Exception as e:  # record, don't lose the whole artifact
            counts[t] = f"ERROR: {type(e).__name__}: {str(e)[:200]}"
    wall = time.time() - t0
    return {"wall_s": round(wall, 2), "terminal_rows": counts}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--generate", action="store_true")
    ap.add_argument("--generate-half", action="store_true")
    ap.add_argument("--generate-sf2", action="store_true")
    ap.add_argument("--run", action="store_true")
    ap.add_argument("--compare-lazy", action="store_true")
    ap.add_argument(
        "--cw-probe", action="store_true",
        help="standalone CW convergence probe on the sf1 corpus; merges "
             "a cw_probe record into the existing PIPELINE_SCALE.json",
    )
    ap.add_argument("--docs", type=int, default=30_000)
    ap.add_argument("--hits", type=int, default=3_000_000)
    ap.add_argument("--out", default=os.path.join(REPO, "PIPELINE_SCALE.json"))
    args = ap.parse_args()

    from hpc_hd_textreuse_etl_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="pipeline-scale",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={"spark.ui.enabled": "true", "spark.driver.memory": "24g"},
    )
    if args.generate:
        generate(spark, SF1_DIR, args.docs, args.hits)
    if args.generate_half:
        generate(spark, SF05_DIR, args.docs // 2, args.hits // 2)
    if args.generate_sf2:
        generate(spark, SF2_DIR, args.docs * 2, args.hits * 2)
    if args.run:
        result = {
            "generated": {"sf1": {"docs": args.docs, "hits": args.hits},
                          "sf0.5": {"docs": args.docs // 2, "hits": args.hits // 2},
                          "sf2": {"docs": args.docs * 2, "hits": args.hits * 2}},
            "master": f"local[{cpus}]",
            "target_files_per_snapshot": TARGET_FILES,
            "loadavg_pre": list(os.getloadavg()),
        }
        runs = []
        rung_scale = {}
        for data_dir, label, scale in (
            (SF05_DIR, "sf0.5", 0.5), (SF1_DIR, "sf1", 1.0), (SF2_DIR, "sf2", 2.0)
        ):
            if not os.path.exists(data_dir):
                continue
            assets_dir = os.path.join(data_dir, "assets")
            if os.path.exists(assets_dir):
                shutil.rmtree(assets_dir)
            runs.append(run(spark, data_dir, assets_dir, label))
            rung_scale[label] = scale
        result["runs"] = runs
        if len(runs) >= 2:
            # per-stage scaling exponent: least-squares slope of
            # log(wall) on log(scale) over all measured rungs; noise
            # floor 0.05 s. Only stages >= 1 s at the largest rung are
            # candidates for "worst" (sub-second stages are jitter).
            import math

            by_stage: dict[str, list[tuple[float, float]]] = {}
            for r in runs:
                sc = rung_scale[r["label"]]
                for s in r["stages"]:
                    by_stage.setdefault(s["stage"], []).append(
                        (math.log(sc), math.log(max(s["wall_s"], 0.05)))
                    )
            exps = {}
            for stage, pts in by_stage.items():
                if len(pts) < 2:
                    continue
                mx = sum(x for x, _ in pts) / len(pts)
                my = sum(y for _, y in pts) / len(pts)
                denom = sum((x - mx) ** 2 for x, _ in pts)
                exps[stage] = round(
                    sum((x - mx) * (y - my) for x, y in pts) / denom, 2
                )
            result["stage_exponents"] = exps
            big_last = {
                s["stage"] for s in runs[-1]["stages"] if s["wall_s"] >= 1.0
            }
            worst = max(
                ((st, e) for st, e in exps.items() if st in big_last),
                key=lambda kv: kv[1],
                default=None,
            )
            if worst:
                result["worst_stage_exponent"] = {
                    "stage": worst[0], "exponent": worst[1]
                }
        result["loadavg_post"] = list(os.getloadavg())
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1)
        print(f"wrote {args.out}", flush=True)
    if args.compare_lazy:
        # standalone-friendly: merge into the existing artifact so the
        # lazy pass can be re-measured without repeating the full run
        lazy = run_lazy(spark, SF1_DIR)
        merged = json.load(open(args.out)) if os.path.exists(args.out) else {}
        merged["lazy_end_to_end"] = lazy
        # compare like with like: the lazy pass runs the sf1 corpus
        mat_total = next(
            (r["total_wall_s"] for r in merged.get("runs", [])
             if r["label"] == "sf1"),
            None,
        )
        if mat_total:
            merged["materialization_overhead_ratio"] = round(
                mat_total / lazy["wall_s"], 2
            )
        with open(args.out, "w") as fh:
            json.dump(merged, fh, indent=1)
        print(f"lazy comparison merged into {args.out}: {lazy}", flush=True)
    if args.cw_probe:
        probe = cw_probe(spark, SF1_DIR)
        merged = json.load(open(args.out)) if os.path.exists(args.out) else {}
        merged["cw_probe"] = probe
        with open(args.out, "w") as fh:
            json.dump(merged, fh, indent=1)
        print(f"cw_probe merged into {args.out}: {probe}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
