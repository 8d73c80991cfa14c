"""Seeded input generators for the benchmark.

Everything here is plain NumPy + pyarrow, so generating inputs starts no
Spark job and none of it lands in a timed region. The same
``(workload, seed)`` always yields byte-identical files; bump
``GEN_VERSION`` whenever a generator changes so cached inputs are
rebuilt.

Shapes:

- ``hits``: the family-structured, tie-rich BLAST-hit corpus of the
  composed pipeline probe (``examples/pipeline_scale.py``), ported from
  Spark expressions to NumPy and copied here so edits to ``examples/``
  cannot shift a workload. Each hit joins two of the ~6 documents of a
  family at a family-specific base span, jittered through every defrag
  threshold branch (exact repeat, <10, 10-180, >180 chars, exactly
  adjacent), so the piece graph is tie-rich and Chinese Whispers runs
  to its iteration cap.
- ``serving``: the inputs of the serving tables (defrag pieces, their
  clusters, piece-pair edges, per-document dates/lengths and the
  title fixtures of the metadata layer).
- ``curation``: a document corpus with planted exact duplicates,
  edited near-duplicates and documents sharing n-grams with a small
  benchmark set.
"""

from __future__ import annotations

import datetime as dt
import io
import json
import os
import shutil
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

HIT_SCHEMA = (
    "text1_id string, text2_id string, text1_text_start int, text1_text_end int, "
    "text2_text_start int, text2_text_end int, align_length int, "
    "positives_percent double"
)

#: workload -> generator parameters. Sizes are small on purpose: at this
#: scale the engine's per-stage and per-job overhead, not row work, sets
#: the wall time, and a run must fit the benchmark's time budget.
SIZES = {
    "hits": {"docs": 160, "hits": 4_000, "members": 8},
    "serving": {"docs": 1_200, "pieces_per_doc": 12},
    "curation": {"docs": 400, "bench_docs": 40},
}

_SALT = {"hits": 11, "serving": 13, "curation": 14}


def rng_for(shape: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([GEN_VERSION, _SALT[shape], seed])


# ---------------------------------------------------------------------------
# documents and metadata fixtures
# ---------------------------------------------------------------------------


def doc_names(n_docs: int) -> list[str]:
    """The three reference id formats: ECCO 10-digit, EEBO dotted,
    BL-newspaper article ids (collection = i % 3)."""
    out = []
    for i in range(n_docs):
        if i % 3 == 0:
            out.append(f"{i + 287900000:010d}")
        elif i % 3 == 1:
            out.append(f"A{i:05d}.main_body_{i % 7}")
        else:
            out.append(f"NICNF{i % 10000:04d}-C00000-N{i:07d}-00020-001")
    return out


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="zstd")


def write_title_fixtures(out_dir: str, names: list[str], rng) -> None:
    """ecco/eebo/newspaper core tables with the title columns the
    metadata layer reads (duplicate EEBO title rows exercise its MAX
    dedup; ghost NULL-id rows must be dropped)."""
    ecco, eebo, news = [], [], []
    for i, name in enumerate(names):
        if i % 3 == 0:
            ecco.append((name, f"T{i // 6:06d}", f"Ecco Title {i}"))
        elif i % 3 == 1:
            tcp = name.split(".", 1)[0]
            eebo.append((tcp, f"T{i // 6:06d}", f"Eebo Title {i}"))
            if i % 50 == 1:
                eebo.append((tcp, f"T{i // 6:06d}", f"Eebo Title {i} variant"))
        else:
            day = dt.date(1732, 1, 1) + dt.timedelta(days=int(rng.integers(3650)))
            news.append((name, day, f"Daily Courant {i % 20}"))
    eebo.append((None, "T999999", "Ghost"))
    _write(pa.table({
        "ecco_id": [r[0] for r in ecco], "estc_id": [r[1] for r in ecco],
        "ecco_full_title": [r[2] for r in ecco],
    }), os.path.join(out_dir, "ecco_core", "part-0.parquet"))
    _write(pa.table({
        "eebo_tcp_id": [r[0] for r in eebo], "estc_id": [r[1] for r in eebo],
        "eebo_tls_title": [r[2] for r in eebo],
    }), os.path.join(out_dir, "eebo_core", "part-0.parquet"))
    _write(pa.table({
        "article_id": [r[0] for r in news],
        "issue_start_date": pa.array([r[1] for r in news], pa.date32()),
        "newspaper_title": [r[2] for r in news],
    }), os.path.join(out_dir, "newspapers_core", "part-0.parquet"))


def write_sources(out_dir: str, names: list[str], lengths: np.ndarray) -> None:
    """Raw texts: only their LENGTH feeds the pipeline (coverage
    denominators), but they are real strings of that length."""
    base = "lorem ipsum dolor sit amet consectetur " * 600
    _write(pa.table({
        "doc_id": names,
        "text": [base[: int(n)] for n in lengths],
    }), os.path.join(out_dir, "textreuse_sources", "part-0.parquet"))


# ---------------------------------------------------------------------------
# BLAST hits (zip of JSONL)
# ---------------------------------------------------------------------------


def _family_hits(rng, n_docs: int, n_hits: int):
    """Port of ``pipeline_scale.generate``'s hit expressions."""
    n_fam = max(n_docs // 4, 1)
    f = rng.integers(n_fam, size=n_hits)
    m1 = rng.integers(6, size=n_hits)
    m2r = rng.integers(6, size=n_hits)
    m2 = np.where(m2r == m1, (m2r + 1) % 6, m2r)
    d1 = (f * 4 + m1) % n_docs
    d2 = (f * 4 + m2) % n_docs
    sbase = 200 + (f % 40) * 100
    jc = rng.integers(10, size=n_hits)
    lenc = rng.integers(10, size=n_hits)
    # length depends on (family, length class), not on the hit, so
    # jitter-0 hits of one family repeat (doc, start, end) exactly
    short = 20 + rng.integers(20, size=(n_fam, 10))
    long_ = 40 + rng.integers(360, size=(n_fam, 10))
    ln = np.where(lenc == 0, short[f, lenc], long_[f, lenc])

    def jitter():
        r = rng.integers(1 << 30, size=n_hits)
        return np.select(
            [jc <= 3, jc <= 6, jc <= 8],
            [0, 1 + r % 9, 15 + r % 156],
            200 + r % 200,
        )

    s1 = np.where(jc == 9, sbase + ln, sbase + jitter())
    s2 = sbase + jitter()
    return d1, d2, s1, s1 + ln, s2, s2 + ln, ln


def write_hits(out_dir: str, seed: int) -> dict:
    p = SIZES["hits"]
    rng = rng_for("hits", seed)
    n_docs = p["docs"]
    names = doc_names(n_docs)
    d1, d2, st1, en1, st2, en2, ln = _family_hits(rng, n_docs, p["hits"])
    pos = 85.0 + rng.integers(150, size=len(d1)) / 10.0
    members = p["members"]
    bufs = [io.StringIO() for _ in range(members)]
    for k in range(len(d1)):
        bufs[k % members].write(json.dumps({
            "text1_id": names[d1[k]], "text2_id": names[d2[k]],
            "text1_text_start": int(st1[k]), "text1_text_end": int(en1[k]),
            "text2_text_start": int(st2[k]), "text2_text_end": int(en2[k]),
            "align_length": int(ln[k]), "positives_percent": float(pos[k]),
        }) + "\n")
    os.makedirs(out_dir, exist_ok=True)
    with zipfile.ZipFile(
        os.path.join(out_dir, "blast_hits.zip"), "w", zipfile.ZIP_DEFLATED,
        compresslevel=1,
    ) as zf:
        for idx, b in enumerate(bufs):
            zf.writestr(f"tr_output_{idx:03d}.jsonl", b.getvalue())
    # every span must fit its document (coverage denominators)
    need = np.zeros(n_docs, dtype=np.int64)
    np.maximum.at(need, d1, en1)
    np.maximum.at(need, d2, en2)
    lengths = np.maximum(5000 + rng.integers(15000, size=n_docs), need + 1)
    write_sources(out_dir, names, lengths)
    return {"hits": len(d1), "docs": n_docs}


# ---------------------------------------------------------------------------
# serving-table inputs
# ---------------------------------------------------------------------------


def write_serving(out_dir: str, seed: int) -> dict:
    p = SIZES["serving"]
    rng = rng_for("serving", seed)
    n_docs, per = p["docs"], p["pieces_per_doc"]
    names = doc_names(n_docs)
    year = 1600 + rng.integers(200, size=n_docs)
    dates = [dt.date(int(y), 1, 1) + dt.timedelta(days=int(d))
             for y, d in zip(year, rng.integers(365, size=n_docs))]
    lengths = 20_000 + rng.integers(30_000, size=n_docs)
    _write(pa.table({
        "trs_id": pa.array(np.arange(n_docs), pa.int64()),
        "text_name": names,
        "manifestation_id": [n.split(".", 1)[0] for n in names],
        "publication_date": pa.array(dates, pa.date32()),
        "text_length": pa.array(lengths, pa.int64()),
    }), os.path.join(out_dir, "documents", "part-0.parquet"))

    n_pieces = n_docs * per
    trs = np.repeat(np.arange(n_docs), per)
    slot = np.tile(np.arange(per), n_docs)
    start = slot * 1500 + rng.integers(500, size=n_pieces)
    end = start + 100 + rng.integers(800, size=n_pieces)
    _write(pa.table({
        "piece_id": pa.array(np.arange(n_pieces), pa.int64()),
        "trs_id": pa.array(trs, pa.int64()),
        "trs_start": pa.array(start, pa.int32()),
        "trs_end": pa.array(end, pa.int32()),
    }), os.path.join(out_dir, "defrag_pieces", "part-0.parquet"))

    # heavy-tailed cluster sizes (2..~80) so top-quote ranks are spread
    order = rng.permutation(n_pieces)
    sizes, left = [], n_pieces
    while left > 0:
        s = int(min(left, 2 + rng.zipf(1.8) % 80))
        sizes.append(s)
        left -= s
    cluster = np.repeat(np.arange(len(sizes)), sizes)
    cl = np.empty(n_pieces, dtype=np.int64)
    cl[order] = cluster
    _write(pa.table({
        "piece_id": pa.array(np.arange(n_pieces), pa.int64()),
        "cluster_id": pa.array(cl, pa.int64()),
    }), os.path.join(out_dir, "clustered_pieces", "part-0.parquet"))

    # piece-pair edges: a chain through each cluster's members
    members = order  # grouped by cluster in `order`
    bounds = np.cumsum([0] + sizes)
    a, b = [], []
    for c in range(len(sizes)):
        m = members[bounds[c]: bounds[c + 1]]
        a.extend(m[:-1])
        b.extend(m[1:])
    _write(pa.table({
        "piece1_id": pa.array(a, pa.int64()),
        "piece2_id": pa.array(b, pa.int64()),
    }), os.path.join(out_dir, "defrag_textreuses", "part-0.parquet"))
    write_title_fixtures(out_dir, names, rng)
    return {"docs": n_docs, "pieces": n_pieces, "clusters": len(sizes)}


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

_SYL = "ba ce di fo gu ha ke li mo nu pa re si to vu wa xe yi zo ru".split()
#: 5000 synthetic content words: with a small vocabulary random texts
#: would share n-grams with the benchmark set by chance
_VOCAB = np.array([a + b + c for a in _SYL for b in _SYL for c in _SYL][:5000])
_STOP = np.array(["the", "a", "of", "and", "in", "to", "is"])


def write_curation(out_dir: str, seed: int) -> dict:
    """Base documents plus planted exact duplicates (10%), edited
    near-duplicates (10%, one word in ~40 replaced), contaminated
    documents (3%, carrying a run of a benchmark document) and
    too-short documents the quality gate must drop (3%)."""
    p = SIZES["curation"]
    rng = rng_for("curation", seed)

    def text(n):
        stop = rng.random(n) < 0.15
        w = np.where(stop, _STOP[rng.integers(len(_STOP), size=n)],
                     _VOCAB[rng.integers(len(_VOCAB), size=n)])
        return " ".join(w)

    bench = [text(int(rng.integers(30, 60))) for _ in range(p["bench_docs"])]
    n = p["docs"]
    docs, kinds = [], []
    n_base = int(n * 0.74)
    for _ in range(n_base):
        docs.append(text(int(rng.integers(60, 200))))
        kinds.append("base")
    for _ in range(int(n * 0.10)):
        docs.append(docs[int(rng.integers(n_base))])
        kinds.append("exact")
    for _ in range(int(n * 0.10)):
        toks = docs[int(rng.integers(n_base))].split()
        for pos in rng.integers(len(toks), size=max(1, len(toks) // 40)):
            toks[pos] = str(_VOCAB[rng.integers(len(_VOCAB))])
        docs.append(" ".join(toks))
        kinds.append("near")
    for _ in range(int(n * 0.03)):
        b = bench[int(rng.integers(len(bench)))].split()
        k = int(rng.integers(0, len(b) - 8))
        docs.append(text(80) + " " + " ".join(b[k: k + 8]) + " " + text(80))
        kinds.append("contaminated")
    while len(docs) < n:
        docs.append(text(int(rng.integers(3, 12))))
        kinds.append("short")
    perm = rng.permutation(len(docs))
    _write(pa.table({
        "doc_id": pa.array(np.arange(len(docs)), pa.int64()),
        "text": [docs[i] for i in perm],
        "kind": [kinds[i] for i in perm],
    }), os.path.join(out_dir, "docs", "part-0.parquet"))
    _write(pa.table({"text": bench}), os.path.join(out_dir, "benchmark", "part-0.parquet"))
    return {"docs": len(docs), "bench_docs": len(bench)}


WRITERS = {
    "hits": write_hits,
    "serving": write_serving,
    "curation": write_curation,
}


def ensure(cache_root: str, shape: str, seed: int) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of ``shape`` at ``seed`` under
    ``cache_root``; keyed by shape, seed and ``GEN_VERSION``. A
    ``_DONE`` marker guards against half-written caches."""
    out = os.path.join(cache_root, f"{shape}-s{seed}-g{GEN_VERSION}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        with open(done) as fh:
            return out, json.load(fh)
    shutil.rmtree(out, ignore_errors=True)
    info = WRITERS[shape](out, seed)
    with open(done, "w") as fh:
        json.dump(info, fh)
    return out, info
