"""Defragmentation semantics: property-test the scan against an
independent brute-force oracle, and the Spark operator against the pure
scan (SURVEY §7 step 5)."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st

from hpc_hd_textreuse_etl_spark.operators.defrag import (
    BUFFER_WINDOW,
    defrag_pieces,
    defrag_scan_group,
    defrag_textreuses,
    piece_id_mappings,
)


def brute_force_mapping(pieces: list[tuple[int, int, int]]) -> list[int]:
    """Independent restatement of the reference UDAF semantics
    (piece_id_mappings.ipynb cell 2): for piece i, candidates are all
    j <= i (scan order) with start_j >= start_i - 180; map to the first
    candidate within the threshold."""
    out = []
    for i, (s, e, _pid) in enumerate(pieces):
        for j in range(i + 1):
            rs, re, rpid = pieces[j]
            if rs < s - BUFFER_WINDOW:
                continue
            limit = min(max(min(e - s, re - rs) // 4, 10), 180)
            if abs(rs - s) <= limit and abs(re - e) <= limit:
                out.append(rpid)
                break
    return out


pieces_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2000),  # start
        st.integers(min_value=1, max_value=700),  # length
    ),
    min_size=1,
    max_size=60,
)


@given(pieces_strategy)
@settings(max_examples=300, deadline=None)
def test_scan_matches_brute_force(raw):
    pieces = sorted(
        [(s, s + ln, i + 1) for i, (s, ln) in enumerate(raw)],
        key=lambda t: (t[0], t[2]),
    )
    starts = [p[0] for p in pieces]
    ends = [p[1] for p in pieces]
    pids = [p[2] for p in pieces]
    assert defrag_scan_group(starts, ends, pids) == brute_force_mapping(pieces)


def test_scan_merges_jittered_spans():
    # jitter < 10 chars always merges; > 180 never merges
    pieces = [(100, 500, 1), (105, 495, 2), (600, 1300, 3), (790, 1490, 4), (3000, 3100, 5)]
    pieces.sort(key=lambda t: (t[0], t[2]))
    starts, ends, pids = zip(*pieces)
    got = defrag_scan_group(list(starts), list(ends), list(pids))
    # piece 2 within 10 of piece 1 → maps to 1
    assert got[pids.index(2)] == 1
    # piece 4 starts 190 after piece 3 → outside buffer window, self-map
    assert got[pids.index(4)] == 4
    assert got[pids.index(5)] == 5


def _synthetic_pieces(n_docs: int = 20, per_doc: int = 40, seed: int = 7):
    rng = random.Random(seed)
    rows = []
    pid = 1
    for doc in range(1, n_docs + 1):
        for _ in range(per_doc):
            s = rng.randrange(0, 3000)
            ln = rng.randrange(20, 600)
            rows.append((doc, s, s + ln, pid))
            pid += 1
    return rows


def _scan_reference(rows) -> dict[int, int]:
    """``piece_id -> defrag_piece_id`` from the pure per-document scan,
    sorted distinct targets renumbered 1..N (ipynb cell 5 semantics)."""
    raw_expected = {}
    by_doc: dict[int, list] = {}
    for doc, s, e, pid in rows:
        by_doc.setdefault(doc, []).append((s, e, pid))
    for doc, pieces in by_doc.items():
        pieces.sort(key=lambda t: (t[0], t[2]))
        starts, ends, pids = zip(*pieces)
        for pid, target in zip(pids, defrag_scan_group(list(starts), list(ends), list(pids))):
            raw_expected[pid] = target
    renumber = {t: i + 1 for i, t in enumerate(sorted(set(raw_expected.values())))}
    return {pid: renumber[t] for pid, t in raw_expected.items()}


def test_spark_mapping_matches_pure_scan(spark):
    rows = _synthetic_pieces()
    df = spark.createDataFrame(rows, "trs_id int, trs_start int, trs_end int, piece_id long")
    got = {
        r.orig_piece_id: r.defrag_piece_id
        for r in piece_id_mappings(df).collect()
    }
    assert len(got) == len(rows)
    assert got == _scan_reference(rows)


def test_join_strategy_equals_scan_strategy(spark):
    """The range-join formulation must be row-identical to the
    sequential scan on varied span data (more and denser documents than
    the test above)."""
    rows = _synthetic_pieces(n_docs=30, per_doc=60, seed=11)
    df = spark.createDataFrame(rows, "trs_id int, trs_start int, trs_end int, piece_id long")
    got = [(r.orig_piece_id, r.defrag_piece_id) for r in piece_id_mappings(df).collect()]
    assert len(got) == len(rows)
    assert dict(got) == _scan_reference(rows)


def test_defrag_pieces_and_textreuses(spark):
    pieces = spark.createDataFrame(
        [(1, 100, 500, 1), (1, 104, 504, 2), (1, 900, 1200, 3), (2, 10, 80, 4)],
        "trs_id int, trs_start int, trs_end int, piece_id long",
    )
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (4, 3)], "piece1_id long, piece2_id long"
    )
    mappings = piece_id_mappings(pieces)
    dp = {r.piece_id: (r.trs_id, r.trs_start, r.trs_end) for r in defrag_pieces(pieces, mappings).collect()}
    # pieces 1+2 merged → extent (100, 504); 3 and 4 stand alone
    assert len(dp) == 3
    assert (1, 100, 504) in dp.values()
    dt = {(r.piece1_id, r.piece2_id): r.num_orig_links for r in defrag_textreuses(edges, mappings).collect()}
    # edges 1→3 and 2→3 collapse into one defrag edge with multiplicity 2
    assert sorted(dt.values()) == [1, 2]
