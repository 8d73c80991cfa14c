"""Sources: zip-of-JSONL scan, CSV with schema, date repair, catalog
materialization round-trips."""

from __future__ import annotations

import datetime
import json
import zipfile

import pytest

from hpc_hd_textreuse_etl_spark.catalog import (
    materialise,
    materialise_if_absent,
    path_exists,
)
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
    out = str(tmp_path / "snap.parquet")
    df = spark.range(5).withColumnRenamed("id", "x")
    got = materialise(spark, df, out, name="snap")
    assert got.count() == 5
    assert path_exists(spark, out)
    # second build must be skipped: builder raising proves laziness
    def poisoned_builder():
        raise AssertionError("builder must not run when output exists")

    again = materialise_if_absent(spark, poisoned_builder, out, name="snap")
    assert again.count() == 5


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
