#!/usr/bin/env python3
"""Text-reuse engine benchmark: one workload, one seed, one JSON result.

    python3 trbench/run.py --cw-max-iter 8 --workload reuse_etl --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from the seed (cached
under ``.trbench/cache``); each run works in its own temporary directory
under ``.trbench/tmp`` (its ``TMPDIR``, Spark local dirs and snapshots),
deleted when the run ends. The last line of standard output is the
result: ``{"correct", "attempted", "failed", "metrics"}`` with every
end-to-end metric (``--trace 0``) or every per-layer metric
(``--trace 1``). A traced run also writes its spans to
``.trbench/traces/``. The exit code is 1 when an output check fails and
2 when the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".trbench")

#: end-to-end metrics (name -> unit); see README.md for their meaning
END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
}

LAYERS = ("zip_jsonl", "textreuse", "defrag", "clustering", "metadata",
          "serving", "curation", "dedup", "graph", "sampling")
COUNTERS = {"jobs": "count", "tasks": "count", "failed_tasks": "count",
            "shuffle_write_mb": "MB", "spill_mb": "MB", "self_s": "s"}
#: per-layer metric -> span name whose total duration it reports (s)
SPAN_SECONDS = {
    "zip_jsonl.read_s": "zip_jsonl.read",
    "textreuse.ids_s": "textreuse.ids",
    "textreuse.textreuses_s": "textreuse.textreuses",
    "textreuse.orig_pieces_s": "textreuse.orig_pieces",
    "textreuse.orig_textreuses_s": "textreuse.orig_textreuses",
    "textreuse.coverages_s": "textreuse.coverages",
    "textreuse.reception_s": "textreuse.reception",
    "textreuse.statistics_s": "textreuse.statistics",
    "defrag.mappings_s": "defrag.mappings",
    "defrag.apply_s": "defrag.apply",
    "clustering.s": "clustering",
    "metadata.s": "metadata",
    "curation.quality_gate_s": "curation.quality_gate",
    "dedup.exact_s": "dedup.exact",
    "dedup.minhash_s": "dedup.minhash",
    "dedup.resolve_s": "dedup.resolve",
    "dedup.decontaminate_s": "dedup.decontaminate",
    "sampling.split_s": "sampling.split",
}
#: per-layer metric -> span name whose median duration it reports (ms)
SPAN_MEDIAN_MS = {
    "serving.reception_detail_ms": "serving.reception_detail",
    "serving.top_quotes_ms": "serving.top_quotes",
    "serving.cluster_time_spans_ms": "serving.cluster_time_spans",
    "serving.coverage_lookup_ms": "serving.coverage_lookup",
    "serving.plan_ms": "serving.plan",
}
#: per-layer metrics of the timed operations
LOOP = {
    "setup_wall_s": "s",
    "op_median_ms": "ms",
    "serving.query_p75_ms": "ms",
    "serving.queries_per_s": "1/s",
}
DERIVED = {
    "zip_jsonl.rows_per_s": "1/s",
    "defrag.merge_ratio": "ratio",
    "clustering.iterations": "count",
    "clustering.s_per_iter": "s",
    "clustering.jobs_per_iter": "count",
    "clustering.checkpoint_mb": "MB",
    "clustering.active_final": "count",
    "catalog.snapshots": "count",
    "catalog.files_written": "count",
    "catalog.mb_written": "MB",
    "serving.jobs_per_query": "count",
    "serving.tasks_per_query": "count",
    "dedup.pairs": "count",
    "curation.survivor_ratio": "ratio",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{c}": u for layer in LAYERS for c, u in COUNTERS.items()}
    units.update({m: "s" for m in SPAN_SECONDS})
    units.update({m: "ms" for m in SPAN_MEDIAN_MS})
    units.update(LOOP)
    units.update(DERIVED)
    return units


def workloads() -> dict:
    from trbench.etl import Etl
    from trbench.serving import Serving

    return {"reuse_etl": Etl, "reuse_serving": Serving}


class Context:
    """What a workload sees: session, tracer, inputs and its temp dir."""

    def __init__(self, args, data: dict, inputs: dict, tmp: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.traced = bool(args.trace)
        self.cw_max_iter = args.cw_max_iter
        self.data = data  # input shape -> its generated directory
        self.inputs = inputs  # input shape -> generator's counts
        self.tmp = tmp
        self.spark = None
        self.tracer = None
        self.loop = None

    def path(self, name: str) -> str:
        return os.path.join(self.tmp, name)

    def pinned_digests(self, config: str) -> dict | None:
        """The digests pinned for this workload, ``config`` and seed, or
        None."""
        with open(os.path.join(HERE, "digests.json")) as fh:
            pinned = json.load(fh)
        return pinned.get(f"{self.workload}/{config}", {}).get(str(self.seed))


# ---------------------------------------------------------------------------
# environment
# ---------------------------------------------------------------------------


def pin_environment(tmp: str) -> dict:
    """Pin what the engine reads from the environment before the JVM and
    its Python workers start; returns the recorded values."""
    import tempfile

    cpus = str(len(os.sched_getaffinity(0)))
    mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap = f"{max(1, min(4, int(mem_gib // 4)))}g"
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    pypath = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_DRIVER_MEM": heap,
        # local[N] Python workers do not inherit this process's sys.path
        "PYTHONPATH": os.pathsep.join(pypath),
        "TMPDIR": tmp,
        # every JVM of the run keeps its temp files inside the run dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                             "-XX:-UseDynamicNumberOfCompilerThreads",
        "SPARK_GRAFT_UI": "false",
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return dict(env, host_mem_gib=round(mem_gib, 1))


def start_spark(tmp: str, traced: bool):
    from hpc_hd_textreuse_etl_spark.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.enabled": "false",
    }
    if traced:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        })
    return get_spark(app_name="trbench", master=f"local[{cpus}]",
                     shuffle_partitions=cpus, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(setup_s: float, res: dict) -> dict:
    return {"setup_s": setup_s, "op_cpu_ms": res["cpu_ms_per_op"]}


def loop_stats(res: dict) -> dict:
    """Tail and throughput of the run's operations (the info line; the
    traced serving run also reports them per layer): the 75th and 90th
    percentiles, each with the number of operations beyond it."""
    import numpy as np

    lat = np.asarray(res["latencies_ms"])
    out = {"ops": len(lat), "items_per_s": res["items"] / res["wall_s"],
           "op_median_ms": float(np.median(lat)), "op_jit_cpu_ms": res["jit_ms_per_op"]}
    for q in (75, 90):
        p = float(np.percentile(lat, q))
        out.update({f"op_p{q}_ms": p, f"ops_beyond_p{q}": int((lat > p).sum())})
    return out


def per_layer(ctx, workload) -> dict:
    tr = ctx.tracer
    tr.attach_counters()
    selfs = tr.self_times()
    out = {m: 0.0 for m in per_layer_units()}
    for s in tr.spans:
        layer = s["layer"]
        if layer in LAYERS:
            out[f"{layer}.jobs"] += s["jobs"]
            out[f"{layer}.tasks"] += s["tasks"]
            out[f"{layer}.failed_tasks"] += s["failed_tasks"]
            out[f"{layer}.shuffle_write_mb"] += s["shuffle_write_bytes"] / 1e6
            out[f"{layer}.spill_mb"] += s["spill_bytes"] / 1e6
            out[f"{layer}.self_s"] += selfs[s["id"]]
    # serving latencies are those of the timed loop, not of the warm-up
    warm = set()
    for s in sorted(tr.spans, key=lambda s: s["start"]):
        if s["name"] == "serving.warm_up" or s["parent"] in warm:
            warm.add(s["id"])
    timed = [s for s in tr.spans if s["id"] not in warm]
    dur = lambda name: [s["end"] - s["start"] for s in timed if s["name"] == name]  # noqa: E731
    for metric, name in SPAN_SECONDS.items():
        out[metric] = sum(dur(name))
    for metric, name in SPAN_MEDIAN_MS.items():
        d = dur(name)
        out[metric] = statistics.median(d) * 1000.0 if d else 0.0
    # counters of a query include its planning child span
    queries = [s for s in timed if s.get("query")]
    if queries:
        kids = {}
        for s in tr.spans:
            kids.setdefault(s["parent"], []).append(s)
        tot = lambda s, k: s[k] + sum(c[k] for c in kids.get(s["id"], []))  # noqa: E731
        out["serving.jobs_per_query"] = statistics.mean(tot(s, "jobs") for s in queries)
        out["serving.tasks_per_query"] = statistics.mean(tot(s, "tasks") for s in queries)
    st = loop_stats(ctx.loop)
    out["op_median_ms"] = st["op_median_ms"]
    out["setup_wall_s"] = ctx.setup_wall_s
    if "serving" in workload.shapes:
        out["serving.query_p75_ms"] = st["op_p75_ms"]
        out["serving.queries_per_s"] = st["items_per_s"]
    if out["zip_jsonl.read_s"]:
        out["zip_jsonl.rows_per_s"] = ctx.inputs["hits"]["hits"] / out["zip_jsonl.read_s"]
    assets = getattr(workload, "assets", None)
    if assets:
        snaps = [d for d in os.listdir(assets) if d.endswith(".parquet")]
        files = [os.path.join(assets, d, f) for d in snaps
                 for f in os.listdir(os.path.join(assets, d)) if f.endswith(".parquet")]
        out["catalog.snapshots"] = len(snaps)
        out["catalog.files_written"] = len(files)
        out["catalog.mb_written"] = sum(os.path.getsize(f) for f in files) / 1e6
    if hasattr(workload, "layer_metrics"):
        out.update(workload.layer_metrics(ctx))
    if out["clustering.iterations"]:
        cw = [s for s in tr.spans if s["name"] == "clustering"]
        out["clustering.s_per_iter"] = out["clustering.s"] / out["clustering.iterations"]
        out["clustering.jobs_per_iter"] = (
            sum(s["jobs"] for s in cw) / out["clustering.iterations"])
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cw-max-iter", type=int, default=8,
                    help="Chinese Whispers iteration cap of reuse_etl")
    ap.add_argument("--corrupt", metavar="TABLE",
                    help="fault injection for the check tests: damage an output "
                         "before the checks run")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "hpc_hd_textreuse_etl_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from trbench import gen, proc

    factories = workloads()
    if args.workload not in factories:
        print(f"unknown workload {args.workload!r}; one of {sorted(factories)}",
              file=sys.stderr)
        return 2
    workload = factories[args.workload]()

    # inputs first: generation is kept out of every metric
    data, inputs = {}, {}
    for shape in workload.shapes:
        data[shape], inputs[shape] = gen.ensure(os.path.join(STATE, "cache"), shape, args.seed)
    tmp = os.path.join(STATE, "tmp", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    ctx = Context(args, data, inputs, tmp)
    env = pin_environment(tmp)
    env["loadavg_before"] = os.getloadavg()
    spark = None
    try:
        t0, cpu0 = time.perf_counter(), proc.cpu_s()
        spark = ctx.spark = start_spark(tmp, ctx.traced)
        from trbench.trace import Tracer

        ctx.tracer = Tracer(spark, ctx.traced, f"{args.workload}-s{args.seed}")
        workload.setup(ctx)
        setup_s = proc.cpu_s() - cpu0
        env["setup_wall_s"] = ctx.setup_wall_s = time.perf_counter() - t0

        res = ctx.loop = workload.run(ctx, args.seconds)
        # recorded, not gated: the JVM heap's growth follows GC timing
        env["peak_rss_mb"] = proc.peak_rss_mb()
        if args.corrupt:
            corrupt(ctx, workload, args.corrupt)
        checks = workload.check(ctx)
        e2e = end_to_end(setup_s, res)
        env.update(loop_stats(res))
        if ctx.traced:
            metrics = per_layer(ctx, workload)
            units = per_layer_units()
        else:
            metrics, units = e2e, END_TO_END
        env["loadavg_after"] = os.getloadavg()
        env["spark_version"] = spark.version
        if ctx.traced:
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            base = os.path.join(STATE, "traces", f"{args.workload}-s{args.seed}")
            ctx.tracer.write(base + ".spans.jsonl")
            with open(base + ".summary.json", "w") as fh:
                json.dump({"env": env, "checks": checks, "end_to_end": e2e,
                           "per_layer": metrics}, fh, indent=1)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    failed_checks = sorted(k for k, ok in checks.items() if not ok)
    print(json.dumps({"env": env, "checks": checks,
                      "outputs": getattr(workload, "outputs", {})}), flush=True)
    correct = not failed_checks and res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"] + len(checks),
        "failed": res["failed"] + len(failed_checks),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    if failed_checks:
        print(f"output checks failed: {failed_checks}", file=sys.stderr)
        return 1
    return 0 if correct else 1


def corrupt(ctx, workload, table: str) -> None:
    """Damage one output in place (for the tests that show the checks
    bite): drop a row of a snapshot or of a query's answer, or duplicate
    a survivor of the curation job."""
    if table == "answers":  # serving
        key = next(k for k, (_, rows) in workload.answers.items() if rows)
        cols, rows = workload.answers[key]
        workload.answers[key] = (cols, rows[1:])
        return
    if table == "curation":
        workload.curation.out = workload.curation.out + workload.curation.out[:1]
        return
    import pyarrow.parquet as papq

    d = os.path.join(workload.assets, f"{table}.parquet")
    part = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))[0]
    t = papq.read_table(os.path.join(d, part))
    papq.write_table(t.slice(1), os.path.join(d, part))


if __name__ == "__main__":
    sys.exit(main())
