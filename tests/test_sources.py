"""Sources: zip-of-JSONL scan, CSV with schema, date repair, catalog
materialization round-trips."""

from __future__ import annotations

import datetime
import json
import zipfile

import pytest
from pyspark.sql import types as T

from hpc_hd_textreuse_etl_spark.catalog import materialise, path_exists
from hpc_hd_textreuse_etl_spark.functions.dates import (
    parse_ecco_date,
    parse_eebo_date,
    parse_iso_date_with_placeholders,
)
from hpc_hd_textreuse_etl_spark.sources.csv_source import read_csv
from hpc_hd_textreuse_etl_spark.sources.zip_jsonl import list_members, read_zip_jsonl

HIT_SCHEMA = (
    "text1_id string, text2_id string, text1_text_start int, text1_text_end int, "
    "text2_text_start int, text2_text_end int, align_length int, positives_percent double"
)


@pytest.fixture(scope="module")
def hits_zip(tmp_path_factory):
    path = tmp_path_factory.mktemp("zips") / "hits.zip"
    rows_a = [
        {"text1_id": "0287901000", "text2_id": "A00003.headed_1", "text1_text_start": 10,
         "text1_text_end": 60, "text2_text_start": 5, "text2_text_end": 55,
         "align_length": 50, "positives_percent": 91.01},
    ]
    rows_b = [
        {"text1_id": "NICNF0317-C00000", "text2_id": "0287901000", "text1_text_start": 100,
         "text1_text_end": 220, "text2_text_start": 90, "text2_text_end": 200,
         "align_length": 115, "positives_percent": 88.5},
        {"text1_id": "A00003.headed_1", "text2_id": "NICNF0317-C00000", "text1_text_start": 1,
         "text1_text_end": 40, "text2_text_start": 2, "text2_text_end": 41,
         "align_length": 39, "positives_percent": 99.0},
    ]
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("tr_output_001.jsonl", "\n".join(json.dumps(r) for r in rows_a))
        zf.writestr("tr_output_002.jsonl", "\n".join(json.dumps(r) for r in rows_b))
        zf.writestr("notes/readme.txt", "not jsonl")
    return str(path)


def test_list_members(hits_zip):
    assert sorted(list_members(hits_zip)) == [
        "notes/readme.txt",
        "tr_output_001.jsonl",
        "tr_output_002.jsonl",
    ]


def test_read_zip_jsonl(spark, hits_zip):
    df = read_zip_jsonl(
        spark,
        hits_zip,
        HIT_SCHEMA,
        num_partitions=4,
        member_filter=lambda m: m.endswith(".jsonl"),
    )
    rows = df.collect()
    assert len(rows) == 3
    assert {r.text1_id for r in rows} == {"0287901000", "NICNF0317-C00000", "A00003.headed_1"}
    assert df.schema.fieldNames()[0] == "text1_id"


def test_read_jsonl_files_matches_zip_scan(spark, hits_zip, tmp_path):
    """The JVM-only from_json path must parse identically to the zip
    scan."""
    import zipfile

    from hpc_hd_textreuse_etl_spark.sources.zip_jsonl import read_jsonl_files

    outdir = tmp_path / "jsonl"
    outdir.mkdir()
    with zipfile.ZipFile(hits_zip) as zf:
        for name in zf.namelist():
            if name.endswith(".jsonl"):
                (outdir / name.replace("/", "_")).write_bytes(zf.read(name))
    via_files = read_jsonl_files(spark, str(outdir), HIT_SCHEMA)
    via_zip = read_zip_jsonl(
        spark, hits_zip, HIT_SCHEMA, member_filter=lambda m: m.endswith(".jsonl")
    )
    assert sorted(map(tuple, via_files.collect())) == sorted(
        map(tuple, via_zip.collect())
    )


def _zip(path, members: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)
    return str(path)


def _jobs_and_tasks(spark, group: str, action) -> tuple[int, int, object]:
    """Run ``action`` in a job group; its job count, task count, result."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = sum(
        tracker.getStageInfo(stage).numTasks
        for job in jobs
        for stage in tracker.getJobInfo(job).stageIds
    )
    return len(jobs), tasks, out


def test_read_zip_jsonl_small_archive_is_one_task(spark, hits_zip):
    """A small archive is one job of one task, whatever ``num_partitions``
    allows: the scan is sized by bytes, not spread over the cores."""
    jobs, tasks, rows = _jobs_and_tasks(spark, "zip-small", lambda: read_zip_jsonl(
        spark, hits_zip, HIT_SCHEMA, num_partitions=4,
        member_filter=lambda m: m.endswith(".jsonl"),
    ).collect())
    assert len(rows) == 3
    assert (jobs, tasks) == (1, 1)


def test_read_zip_jsonl_tasks_follow_max_partition_bytes(spark, tmp_path):
    """Tasks = min(num_partitions, members, ceil(compressed bytes /
    spark.sql.files.maxPartitionBytes)), and every row is read once."""
    import math

    line = json.dumps({"text1_id": "a", "text2_id": "b", "align_length": 1}) + "\n"
    members = {f"m{k}.jsonl": line * (k + 1) for k in range(6)}
    path = _zip(tmp_path / "six.zip", members)
    with zipfile.ZipFile(path) as zf:
        total = sum(i.compress_size for i in zf.infolist())
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    try:
        for max_bytes, num_partitions in [(total // 3 + 1, 8), (total // 3 + 1, 2), (1, 4),
                                          (1, 200), (total, 8)]:
            spark.conf.set(key, str(max_bytes))
            jobs, tasks, rows = _jobs_and_tasks(
                spark, f"zip-{max_bytes}-{num_partitions}",
                lambda: read_zip_jsonl(spark, path, HIT_SCHEMA, num_partitions).collect(),
            )
            want = min(num_partitions, len(members), math.ceil(total / max_bytes))
            assert (jobs, tasks) == (1, want), (max_bytes, num_partitions)
            assert len(rows) == sum(range(1, 7))
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize(
    "line, error",
    [
        ('{"text1_id": "a", "align_length": ', "JSONDecodeError"),
        ('{"text1_id": "a", "align_length": "12"}', "align_length"),
        ('{"text1_id": "a", "align_length": 3000000000}', "not in range"),
        ('{"text1_id": "a", "align_length": 1.5}', "align_length"),
        ('{"text1_id": 7}', "text1_id"),
    ],
    ids=["malformed", "string_in_int", "int_out_of_range", "fraction_in_int", "int_in_string"],
)
def test_read_zip_jsonl_bad_values_raise(spark, tmp_path, line, error):
    """Ingestion fails loudly: a value the schema cannot hold is never
    truncated, nulled, dropped or rewritten (a number in a string field
    would have lost an id's leading zeros)."""
    path = _zip(tmp_path / "bad.zip", {"a.jsonl": '{"text1_id": "ok"}\n' + line + "\n"})
    with pytest.raises(Exception, match=error):
        read_zip_jsonl(spark, path, HIT_SCHEMA).collect()


def test_read_zip_jsonl_blank_lines_and_missing_keys(spark, tmp_path):
    path = _zip(tmp_path / "gaps.zip", {
        "a.jsonl": '\n{"text1_id": "x", "align_length": 4}\n   \n\n{"positives_percent": 91.5}\n',
        "b.jsonl": "",
    })
    rows = read_zip_jsonl(spark, path, HIT_SCHEMA).collect()
    assert sorted((r.text1_id or "", r.align_length, r.positives_percent, r.text2_id)
                  for r in rows) == [("", None, 91.5, None), ("x", 4, None, None)]


def test_read_zip_jsonl_widens_integers_in_floating_fields(spark, tmp_path):
    """A writer may print a whole double as ``91``: it reads as 91.0,
    also when no row of the batch holds a fraction."""
    path = _zip(tmp_path / "ints.zip", {"a.jsonl": '{"positives_percent": 91}\n'})
    rows = read_zip_jsonl(spark, path, HIT_SCHEMA).collect()
    assert [r.positives_percent for r in rows] == [91.0]


def test_read_zip_jsonl_custom_opener_runs_on_workers(spark, hits_zip, tmp_path):
    """The opener travels with the task and opens the archive where the
    task runs, not only on the driver."""
    import os

    seen = tmp_path / "opened"
    seen.mkdir()

    def opener(path):
        (seen / str(os.getpid())).touch()
        return open(path, "rb")

    rows = read_zip_jsonl(spark, hits_zip, HIT_SCHEMA, opener=opener,
                          member_filter=lambda m: m.endswith(".jsonl")).collect()
    assert len(rows) == 3
    assert {p.name for p in seen.iterdir()} - {str(os.getpid())}


def test_read_zip_jsonl_rows_match_line_parse_on_benchmark_archive(spark, tmp_path):
    """On the benchmark's seed-3 hits archive the scan yields exactly the
    rows a line-by-line ``json.loads`` of every member gives."""
    from trbench import gen

    gen.write_hits(str(tmp_path), 3)
    path = str(tmp_path / "blast_hits.zip")
    names = T.StructType.fromDDL(gen.HIT_SCHEMA).fieldNames()
    with zipfile.ZipFile(path) as zf:
        want = sorted(
            tuple(json.loads(line).get(k) for k in names)
            for m in zf.namelist()
            for line in zf.read(m).decode().splitlines() if line.strip()
        )
    df = read_zip_jsonl(spark, path, gen.HIT_SCHEMA, num_partitions=4)
    assert df.schema == T.StructType.fromDDL(gen.HIT_SCHEMA)
    assert len(want) == 4_000
    assert sorted(map(tuple, df.collect())) == want


def test_read_csv_with_schema(spark, tmp_path):
    p = tmp_path / "meta.csv"
    p.write_text(
        "article_id,issue_date_start\nX1,1732-00-00\nX2,1745-03-12\n"
    )
    df = read_csv(spark, str(p), "article_id string, issue_date_start string")
    got = {
        r.article_id: r.d
        for r in df.select(
            "article_id",
            parse_iso_date_with_placeholders("issue_date_start").alias("d"),
        ).collect()
    }
    assert got["X1"] == datetime.date(1732, 1, 1)
    assert got["X2"] == datetime.date(1745, 3, 12)


def test_eebo_date_shapes(spark):
    df = spark.createDataFrame(
        [
            ("1697",),
            ("-1697",),
            ("1690-1697",),
            ("April 24, 1649",),
            # malformed shapes must yield NULL, not abort the job, even
            # under Spark 4 ANSI mode (ADVICE r01 high finding)
            ("1690-97",),
            ("not a date at all",),
            ("17th century",),
        ],
        "d string",
    )
    got = [r.p for r in df.select(parse_eebo_date("d").alias("p")).collect()]
    assert got == [
        datetime.date(1697, 1, 1),
        datetime.date(1697, 1, 1),
        datetime.date(1690, 1, 1),
        datetime.date(1649, 4, 24),
        None,
        None,
        None,
    ]


def test_ecco_date_sentinels(spark):
    df = spark.createDataFrame(
        [
            (17580101.0,),
            (0.0,),
            (10000101.0,),
            (18400101.0,),
            (17320000.0,),
            # every ECCO date truncates to Jan 1 of its year (reference
            # takes SUBSTRING(int,1,4) || '-01-01')
            (17580615.0,),
            # short int: first four chars of the UNPADDED string
            (1758.0,),
        ],
        "d double",
    )
    got = [r.p for r in df.select(parse_ecco_date("d").alias("p")).collect()]
    assert got == [
        datetime.date(1758, 1, 1),
        None,
        None,
        None,
        datetime.date(1732, 1, 1),
        datetime.date(1758, 1, 1),
        datetime.date(1758, 1, 1),
    ]


def test_fs_utilities(spark, tmp_path):
    from hpc_hd_textreuse_etl_spark.catalog import delete_path, rename_path

    src = str(tmp_path / "a.parquet")
    dst = str(tmp_path / "b.parquet")
    spark.range(3).write.parquet(src)
    assert path_exists(spark, src)
    assert rename_path(spark, src, dst)
    assert not path_exists(spark, src) and path_exists(spark, dst)
    assert delete_path(spark, dst)
    assert not path_exists(spark, dst)


def test_materialise_roundtrip_and_if_absent(spark, tmp_path):
    from hpc_hd_textreuse_etl_spark.catalog import table_path
    from hpc_hd_textreuse_etl_spark.plans.registry import Registry

    base = str(tmp_path / "assets")
    df = spark.range(5).withColumnRenamed("id", "x")
    reg = Registry()
    reg.add("snap", builder=lambda s: df)
    got = reg.materialise(spark, base, ["snap"])["snap"]
    assert got.count() == 5
    assert path_exists(spark, table_path(base, "snap"))

    # a complete snapshot is reused: a builder that raises proves it is
    # never called, by the Registry that wrote the snapshot and by a
    # fresh one (a resumed run)
    def poisoned_builder(s):
        raise AssertionError("builder must not run when output exists")

    for r in (reg, Registry()):
        r.add("snap", builder=poisoned_builder)
        again = r.materialise(spark, base, ["snap"])["snap"]
        assert sorted(row.x for row in again.collect()) == list(range(5))
        assert spark.table("snap").count() == 5


def test_materialise_reads_back_written_schema_in_one_job(spark, tmp_path):
    """The snapshot comes back with the schema an inferring read would
    find, without the inference job: a shuffle-free call is one job."""
    from decimal import Decimal

    df = spark.createDataFrame(
        [
            (
                7, "a", [1, 2], {"k": 1.5}, Decimal("12.34"),
                datetime.date(1701, 3, 4),
                datetime.datetime(2020, 1, 2, 3, 4, 5),
            ),
            (8, None, None, None, None, None, None),
        ],
        "l long, s string, arr array<int>, m map<string,double>, "
        "d decimal(10,2), day date, ts timestamp",
    )
    out = str(tmp_path / "typed.parquet")
    sc = spark.sparkContext
    sc.setJobGroup("materialise-one-job", "materialise")
    try:
        got = materialise(spark, df, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("materialise-one-job")
    assert len(jobs) == 1
    assert got.schema == spark.read.parquet(out).schema
    assert sorted(map(tuple, got.collect()), key=str) == sorted(
        map(tuple, df.collect()), key=str
    )


def test_register_with_cache(spark):
    from hpc_hd_textreuse_etl_spark.catalog import register

    df = spark.range(4).withColumnRenamed("id", "v")
    out = register(spark, df, "cached_view", cache=True)
    assert out.storageLevel.useMemory
    assert spark.table("cached_view").count() == 4
    out.unpersist()
    spark.catalog.dropTempView("cached_view")
