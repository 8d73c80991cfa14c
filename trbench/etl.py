"""ETL workload: a batch process that runs the curation job in its
set-up, then times the text-reuse DAG from the zip of JSONL hits to
defragmented, clustered pieces, one ``Registry.materialise`` per stage.

The recipes are those of the composed pipeline probe
(``examples/pipeline_scale.py build_registry``), restricted to the core
of the DAG: ingest, dense ids, pieces, defrag and Chinese Whispers. The
metadata layer, reception, statistics and coverages are built by the
serving workload's set-up instead (README.md says why the full DAG does
not fit one run).
"""

from __future__ import annotations

import glob
import os

from trbench import gen
from trbench.curation import Curation

#: Chinese Whispers with the production convergence settings. The
#: iteration cap is a command-line argument (``--cw-max-iter``, pinned in
#: BENCHMARK.json); it must exceed ``CW_TIE_FREEZE``, or no tied vertex
#: can freeze before the loop ends. On the tie-rich ``hits`` shape the
#: active set decays by about 0.87x per iteration and would need about 45
#: iterations to reach the activity floor, so the loop ends at the cap.
CW_TIE_FREEZE = 5
CW_MIN_ACTIVE = 0.001
#: partitions of the zip-of-JSONL read (one per core of a 4-core host)
READ_PARTITIONS = 4
#: snapshot file-count bound (catalog.materialise target_files)
TARGET_FILES = 4

TERMINALS = ("clustered_defrag_pieces", "defrag_pieces")

#: stage -> (layer, span name)
STAGE_SPANS = {
    "raw_hits": ("zip_jsonl", "zip_jsonl.read"),
    "textreuse_ids": ("textreuse", "textreuse.ids"),
    "textreuses": ("textreuse", "textreuse.textreuses"),
    "orig_pieces": ("textreuse", "textreuse.orig_pieces"),
    "orig_textreuses": ("textreuse", "textreuse.orig_textreuses"),
    "piece_id_mappings": ("defrag", "defrag.mappings"),
    "defrag_pieces": ("defrag", "defrag.apply"),
    "defrag_textreuses": ("defrag", "defrag.apply"),
    "clustered_defrag_pieces": ("clustering", "clustering"),
}


def build_registry(spark, data_dir: str, cw_max_iter: int, cw_stats: dict):
    from hpc_hd_textreuse_etl_spark.operators import defrag as D
    from hpc_hd_textreuse_etl_spark.plans import textreuse as TR
    from hpc_hd_textreuse_etl_spark.plans.registry import Registry
    from hpc_hd_textreuse_etl_spark.sources.zip_jsonl import read_zip_jsonl

    zip_path = os.path.join(data_dir, "blast_hits.zip")
    reg = Registry()
    reg.add("raw_hits", builder=lambda s: read_zip_jsonl(
        s, zip_path, gen.HIT_SCHEMA, num_partitions=READ_PARTITIONS))
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
                defrag_textreuses, max_iter=cw_max_iter, tie_freeze=CW_TIE_FREEZE,
                min_active=CW_MIN_ACTIVE, stats=cw_stats))
    return reg


def run_pass(spark, tracer, data_dir: str, assets_dir: str, cw_max_iter: int) -> dict:
    """One ETL pass into a fresh ``assets_dir``; returns the CW stats."""
    from hpc_hd_textreuse_etl_spark.functions.checkpoints import release_local_checkpoints

    cw_stats: dict = {}
    reg = build_registry(spark, data_dir, cw_max_iter, cw_stats)
    for name in reg.order(TERMINALS):
        layer, span = STAGE_SPANS[name]
        with tracer.span(span, layer, stage=name):
            reg.materialise(spark, assets_dir, [name], default_target_files=TARGET_FILES)
            # stage-boundary hygiene: builders' persists and tracked
            # localCheckpoints are dead once the stage is a snapshot
            spark.catalog.clearCache()
            release_local_checkpoints(blocking=True)
    return cw_stats


# ---------------------------------------------------------------------------
# output checks (DuckDB over the snapshots: an engine independent of Spark)
# ---------------------------------------------------------------------------


def _scan(assets_dir: str, name: str) -> str:
    return f"read_parquet('{os.path.join(assets_dir, name + '.parquet')}/*.parquet')"


def digest(con, assets_dir: str, name: str) -> str:
    """Order-independent digest of a snapshot: row count plus the sum of
    per-row hashes (doubles rounded to 9 places)."""
    rel = _scan(assets_dir, name)
    cols = con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()
    exprs = [
        f"round({c}, 9)" if t in ("DOUBLE", "FLOAT") else c for c, t, *_ in cols
    ]
    n, h = con.execute(
        f"SELECT count(*), sum(hash({', '.join(exprs)})::HUGEINT) FROM {rel}"
    ).fetchone()
    return f"{n}:{h}"


def check(assets_dir: str, n_hits: int) -> dict[str, bool]:
    """The composed-pipeline sanity invariants. Returns name -> passed."""
    import duckdb

    con = duckdb.connect()
    try:
        rows = {
            os.path.basename(p)[: -len(".parquet")]: con.execute(
                f"SELECT count(*) FROM read_parquet('{p}/*.parquet')").fetchone()[0]
            for p in glob.glob(os.path.join(assets_dir, "*.parquet"))
        }
        q = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        dp, cl = _scan(assets_dir, "defrag_pieces"), _scan(assets_dir, "clustered_defrag_pieces")
        return {
            "all_stages_present": set(rows) == set(STAGE_SPANS),
            "all_stages_nonempty": all(v > 0 for v in rows.values()),
            "every_hit_ingested": rows.get("raw_hits") == n_hits,
            "defrag_piece_ids_unique":
                q(f"SELECT count(DISTINCT piece_id) FROM {dp}") == rows["defrag_pieces"],
            "defrag_never_grows_pieces": rows["defrag_pieces"] <= rows["orig_pieces"],
            "every_defrag_piece_clustered":
                rows["clustered_defrag_pieces"] == rows["defrag_pieces"]
                and q(f"SELECT count(*) FROM {dp} d ANTI JOIN {cl} c USING (piece_id)") == 0,
            "dedup_shrinks_edges": rows["defrag_textreuses"] <= rows["orig_textreuses"],
        }
    finally:
        con.close()


def terminal_digests(assets_dir: str) -> dict[str, str]:
    import duckdb

    con = duckdb.connect()
    try:
        return {t: digest(con, assets_dir, t) for t in TERMINALS}
    finally:
        con.close()


class Etl:
    """A batch process: set-up runs the curation job (``curation.py``),
    then each operation is one ETL pass into a fresh assets dir. A pass
    outlasts the measuring window, so a run times one pass."""

    shapes = ("hits", Curation.shape)

    def setup(self, ctx) -> None:
        if ctx.cw_max_iter <= CW_TIE_FREEZE:
            raise ValueError(f"--cw-max-iter must exceed tie_freeze={CW_TIE_FREEZE}")
        self.curation = Curation()
        self.curation.setup(ctx)
        self.curation_s = self.curation.run(ctx)

    def run(self, ctx, seconds: float) -> dict:
        import time

        from trbench import proc

        # a pass outlasts any measuring window the benchmark uses, so a
        # run times exactly one
        self.assets = ctx.path("assets")
        t, c, j = time.perf_counter(), proc.cpu_s(), proc.jit_cpu_s()
        with ctx.tracer.span("etl.pass", "etl"):
            self.cw_stats = run_pass(ctx.spark, ctx.tracer, ctx.data["hits"],
                                     self.assets, ctx.cw_max_iter)
        wall, cpu, jit = time.perf_counter() - t, proc.cpu_s() - c, proc.jit_cpu_s() - j
        return {"latencies_ms": [wall * 1000.0], "cpu_ms_per_op": (cpu - jit) * 1000.0,
                "jit_ms_per_op": jit * 1000.0,
                "items": ctx.inputs["hits"]["hits"], "wall_s": wall,
                # the pass's stages, plus the curate call of the set-up
                "attempted": len(STAGE_SPANS) + 1, "failed": 0}

    def check(self, ctx) -> dict[str, bool]:
        res = check(self.assets, ctx.inputs["hits"]["hits"])
        got = terminal_digests(self.assets)
        self.outputs = {"digests": got, "cw": self.cw_stats,
                        "curation_s": self.curation_s, "curation_rows": len(self.curation.out)}
        pinned = ctx.pinned_digests(f"cw{ctx.cw_max_iter}")
        if pinned is not None:
            res["terminal_digests_match_pinned"] = pinned == got
        res.update({f"curation.{k}": ok for k, ok in self.curation.check(ctx).items()})
        return res

    def layer_metrics(self, ctx) -> dict[str, float]:
        import duckdb

        con = duckdb.connect()
        try:
            n = {t: con.execute(f"SELECT count(*) FROM {_scan(self.assets, t)}").fetchone()[0]
                 for t in ("orig_pieces", "defrag_pieces")}
            ck = max(glob.glob(os.path.join(ctx.tmp, "clp-checkpoint-*")), key=os.path.getmtime)
            last = max(glob.glob(os.path.join(ck, "clusters_counts_*")), key=os.path.getmtime)
            act = glob.glob(os.path.join(last, "active=true", "*.parquet"))
            active = con.execute(
                f"SELECT count(*) FROM read_parquet({act!r})").fetchone()[0] if act else 0
        finally:
            con.close()
        return {
            "defrag.merge_ratio": 1.0 - n["defrag_pieces"] / n["orig_pieces"],
            "clustering.iterations": self.cw_stats["iterations"],
            "clustering.checkpoint_mb": _du(ck) / 1e6,
            "clustering.active_final": active,
            **self.curation.layer_metrics(ctx),
        }


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
