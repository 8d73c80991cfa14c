"""Serving workload: analysts querying the reception tables.

Set-up builds the serving tables with the engine's own builders (metadata
titles, earliest pieces, reception edges and their denormalised form,
source-piece statistics, coverages) from generated defrag pieces and
clusters. The timed part is a closed loop: ``CLIENTS`` threads, each
waiting for its answer before sending the next query of a seeded mix.
Every distinct query's answer is then checked once against DuckDB over
the same parquet snapshots.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import numpy as np

CLIENTS = 2
#: queries of the mix run before timing, while the JVM compiles the
#: query paths: CPU per query falls by about a third over the first 100
#: queries and keeps falling more slowly for hundreds after
WARM_UP_QUERIES = 60
#: (kind, share of the mix)
MIX = (("reception_detail", 0.6), ("top_quotes", 0.2),
       ("cluster_time_spans", 0.1), ("coverage_lookup", 0.1))
TARGET_FILES = 4
#: the timed loop issues ``--seconds`` x this many queries (two clients
#: on a 4-core host answer about 10 a second)
QUERIES_PER_SECOND = 10

#: stage -> (layer, span name)
STAGE_SPANS = {
    "manifestation_ids": ("metadata", "metadata"),
    "manifestation_title": ("metadata", "metadata"),
    "trs_titles": ("metadata", "metadata"),
    "earliest_pieces": ("textreuse", "textreuse.reception"),
    "reception_edges": ("textreuse", "textreuse.reception"),
    "reception_edges_denorm": ("textreuse", "textreuse.reception"),
    "source_piece_statistics": ("textreuse", "textreuse.statistics"),
    "coverages": ("textreuse", "textreuse.coverages"),
    "cluster_dates": ("serving", "serving.prepare"),
}


def build_registry(spark, data_dir: str):
    from pyspark.sql import functions as F

    from hpc_hd_textreuse_etl_spark.plans import metadata as M
    from hpc_hd_textreuse_etl_spark.plans import textreuse as TR
    from hpc_hd_textreuse_etl_spark.plans.registry import Registry

    pq = lambda name: spark.read.parquet(os.path.join(data_dir, name))  # noqa: E731
    docs = lambda: pq("documents")  # noqa: E731
    dates = lambda: docs().select("trs_id", "publication_date")  # noqa: E731

    reg = Registry()
    reg.add("manifestation_ids", builder=lambda s: M.manifestation_ids(
        pq("ecco_core"), pq("eebo_core"), pq("newspapers_core")))
    reg.add("manifestation_title", deps=["manifestation_ids"],
            builder=lambda s, manifestation_ids: M.manifestation_title(
                pq("ecco_core"), pq("eebo_core"), pq("newspapers_core"), manifestation_ids))
    reg.add("trs_titles", deps=["manifestation_ids", "manifestation_title"],
            builder=lambda s, manifestation_ids, manifestation_title: (
                docs().join(manifestation_ids, "manifestation_id")
                .join(manifestation_title, "manifestation_id_i")
                .select(F.col("trs_id").alias("dst_trs_id"), "title")))
    reg.add("earliest_pieces", builder=lambda s: TR.earliest_pieces_by_cluster(
        pq("clustered_pieces"), pq("defrag_pieces"), dates()))
    reg.add("reception_edges", deps=["earliest_pieces"],
            builder=lambda s, earliest_pieces: TR.reception_edges(
                pq("clustered_pieces"), earliest_pieces))
    reg.add("reception_edges_denorm", deps=["reception_edges"],
            builder=lambda s, reception_edges: TR.reception_edges_denorm(
                reception_edges, pq("defrag_pieces")))
    reg.add("source_piece_statistics", deps=["reception_edges"],
            builder=lambda s, reception_edges: TR.source_piece_statistics(
                reception_edges, pq("defrag_pieces"), pq("clustered_pieces")))
    reg.add("coverages", builder=lambda s: TR.coverages(
        pq("defrag_textreuses"), pq("defrag_pieces"),
        docs().select("trs_id", "text_length")))
    reg.add("cluster_dates", builder=lambda s: (
        pq("clustered_pieces").join(pq("defrag_pieces"), "piece_id")
        .join(dates(), "trs_id").select("cluster_id", "publication_date")))
    return reg


class Serving:
    shapes = ("serving",)

    def setup(self, ctx) -> None:
        import pyarrow.parquet as papq

        from hpc_hd_textreuse_etl_spark.functions.checkpoints import release_local_checkpoints

        self.spark = spark = ctx.spark
        assets = ctx.path("assets")
        self._lock = threading.Lock()
        reg = build_registry(spark, ctx.data["serving"])
        for name in reg.order(list(STAGE_SPANS)):
            layer, span = STAGE_SPANS[name]
            with ctx.tracer.span(span, layer, stage=name):
                reg.materialise(spark, assets, [name], default_target_files=TARGET_FILES)
                spark.catalog.clearCache()
                release_local_checkpoints(blocking=True)
        self.assets = assets
        self.tables = {n: spark.read.parquet(os.path.join(assets, f"{n}.parquet"))
                       for n in ("reception_edges_denorm", "trs_titles", "coverages",
                                 "cluster_dates")}
        # query parameters come from the snapshots (read with pyarrow, not
        # Spark): sources that do have receptions, and existing doc pairs
        src = papq.read_table(os.path.join(assets, "reception_edges_denorm.parquet"),
                              columns=["src_trs_id"]).column(0).to_numpy()
        cov = papq.read_table(os.path.join(assets, "coverages.parquet"),
                              columns=["trs1_id", "trs2_id"])
        self.sources = np.unique(src)
        self.pairs = list(zip(cov.column(0).to_pylist(), cov.column(1).to_pylist()))
        self.n_docs = ctx.inputs["serving"]["docs"]
        self.answers: dict[tuple, list] = {}
        # analysts' sessions are long-lived: warm the query paths (JIT,
        # codegen caches) before timing
        warm_plan = self._plan([ctx.seed, 99], WARM_UP_QUERIES)
        with ctx.tracer.span("serving.warm_up", "serving") as warm:
            self._drive(ctx, warm_plan, keep=False, parent=warm)

    def _params(self, rng, kind: str) -> tuple:
        if kind == "reception_detail":
            if rng.random() < 0.8:
                return (kind, int(self.sources[rng.integers(len(self.sources))]))
            return (kind, int(rng.integers(self.n_docs)))
        if kind == "coverage_lookup":
            return (kind, *self.pairs[rng.integers(len(self.pairs))])
        return (kind,)

    def _frame(self, key: tuple):
        from pyspark.sql import functions as F

        from hpc_hd_textreuse_etl_spark.plans import serving as S

        t, spark = self.tables, self.spark
        kind = key[0]
        if kind == "reception_detail":
            src = spark.range(1).select(F.lit(key[1]).cast("long").alias("src_trs_id"))
            return S.reception_detail(t["reception_edges_denorm"], "src_trs_id", src,
                                      t["trs_titles"], "dst_trs_id")
        if kind == "top_quotes":
            return S.top_quotes(t["reception_edges_denorm"],
                                ["src_trs_id", "src_trs_start", "src_trs_end"],
                                "dst_trs_id", 20)
        if kind == "cluster_time_spans":
            return S.cluster_time_spans(t["cluster_dates"], "cluster_id", "publication_date", 100)
        c = t["coverages"]
        return c.filter((F.col("trs1_id") == key[1]) & (F.col("trs2_id") == key[2]))

    def _query(self, ctx, key: tuple, keep: bool = True, parent=None) -> float:
        t0 = time.perf_counter()
        with ctx.tracer.span(f"serving.{key[0]}", "serving", parent=parent, query=key[0]):
            df = self._frame(key)
            if ctx.traced:
                with ctx.tracer.span("serving.plan", "serving"):
                    df._jdf.queryExecution().executedPlan()
            rows = [tuple(r) for r in df.collect()]
        ms = (time.perf_counter() - t0) * 1000.0
        if keep:
            with self._lock:
                self.answers.setdefault(key, (df.columns, rows))
        return ms

    def _plan(self, seed, n: int) -> list[tuple]:
        """``n`` queries in shuffled blocks of 10 that hold the mix's exact
        shares, so every run issues the same mix whatever its length (an
        i.i.d. draw of ~50 queries moves the median with its share of
        each kind)."""
        rng = np.random.default_rng(seed)
        block = [k for k, share in MIX for _ in range(round(share * 10))]
        kinds = [k for _ in range(-(-n // len(block))) for k in rng.permutation(block)]
        return [self._params(rng, str(k)) for k in kinds[:n]]

    def _drive(self, ctx, plan: list[tuple], keep: bool, parent=None):
        """``CLIENTS`` closed-loop clients take the next query of ``plan``
        until it runs out. Returns the latencies (ms) and the failed
        queries."""
        it = iter(plan)
        lat: list[float] = []
        errors: list[BaseException] = []

        def client():
            while True:
                with self._lock:
                    key = next(it, None)
                if key is None:
                    return
                try:
                    ms = self._query(ctx, key, keep=keep, parent=parent)
                except Exception as exc:  # counted as a failed operation
                    errors.append(exc)
                    continue
                with self._lock:
                    lat.append(ms)

        threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=600)
        if any(th.is_alive() for th in threads):
            raise RuntimeError("serving client did not finish")
        for exc in errors:
            print(f"query failed: {exc!r}", flush=True)
        return lat, errors

    def run(self, ctx, seconds: float) -> dict:
        from trbench import proc

        # a fixed number of queries, whatever the host's speed: the JVM is
        # still warming up, so a run that got further down the plan would
        # pay less per query
        plan = self._plan([ctx.seed, 7], max(1, round(seconds * QUERIES_PER_SECOND)))
        with ctx.tracer.span("serving.loop", "serving") as loop:
            t0, c0, j0 = time.perf_counter(), proc.cpu_s(), proc.jit_cpu_s()
            lat, errors = self._drive(ctx, plan, keep=True, parent=loop)
            wall, cpu = time.perf_counter() - t0, proc.cpu_s() - c0
            jit = proc.jit_cpu_s() - j0
        # queries overlap, so CPU is shared out over the loop's queries
        n = max(1, len(lat))
        return {"latencies_ms": lat, "cpu_ms_per_op": (cpu - jit) * 1000.0 / n,
                "jit_ms_per_op": jit * 1000.0 / n,
                "items": len(lat), "wall_s": wall,
                "attempted": len(lat) + len(errors), "failed": len(errors)}

    # -- output checks --------------------------------------------------

    def check(self, ctx) -> dict[str, bool]:
        import duckdb

        con = duckdb.connect()
        try:
            for n in ("reception_edges_denorm", "trs_titles", "coverages", "cluster_dates"):
                con.execute(f"CREATE VIEW {n} AS SELECT * FROM read_parquet("
                            f"'{os.path.join(self.assets, n + '.parquet')}/*.parquet')")
            res = {kind: True for kind, _ in MIX}
            for key, (cols, rows) in self.answers.items():
                sql, ordered = _oracle_sql(key, cols)
                want = [tuple(r) for r in con.execute(sql).fetchall()]
                got = [_norm(r) for r in rows]
                want = [_norm(r) for r in want]
                if not ordered:
                    got, want = sorted(got, key=repr), sorted(want, key=repr)
                if got != want:
                    print(f"serving mismatch on {key}: {len(got)} vs {len(want)} rows",
                          flush=True)
                    res[key[0]] = False
            res["every_kind_issued"] = {k[0] for k in self.answers} == set(res) - {
                "every_kind_issued"}
            return res
        finally:
            con.close()


def _oracle_sql(key: tuple, cols: list[str]) -> tuple[str, bool]:
    kind = key[0]
    if kind == "reception_detail":
        sel = ", ".join(f"e.{c}" if c != "title" else "m.title" for c in cols)
        return (f"SELECT {sel} FROM reception_edges_denorm e JOIN trs_titles m "
                f"ON e.dst_trs_id = m.dst_trs_id WHERE e.src_trs_id = {key[1]}", False)
    if kind == "top_quotes":
        return ("SELECT src_trs_id, src_trs_start, src_trs_end, "
                "count(DISTINCT dst_trs_id) AS n FROM reception_edges_denorm "
                "GROUP BY ALL ORDER BY n DESC, src_trs_id, src_trs_start, src_trs_end "
                "LIMIT 20", True)
    if kind == "cluster_time_spans":
        return ("SELECT cluster_id, strftime(max(publication_date), '%Y-%m-%d'), "
                "strftime(min(publication_date), '%Y-%m-%d'), "
                "date_diff('day', min(publication_date), max(publication_date)) AS s "
                "FROM cluster_dates GROUP BY cluster_id ORDER BY s DESC, cluster_id "
                "LIMIT 100", True)
    return (f"SELECT {', '.join(cols)} FROM coverages "
            f"WHERE trs1_id = {key[1]} AND trs2_id = {key[2]}", False)


def _norm(row) -> tuple:
    out = []
    for v in row:
        if isinstance(v, float):
            v = round(v, 9)
        elif isinstance(v, (dt.date, dt.datetime)):
            v = v.isoformat()
        elif hasattr(v, "item"):
            v = v.item()
        out.append(v)
    return tuple(out)
