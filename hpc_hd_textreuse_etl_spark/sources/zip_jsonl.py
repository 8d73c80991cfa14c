"""Zip-of-JSONL distributed scan.

The reference ingests BLAST hits as a zip archive of JSONL members
streamed from object storage: the driver lists members, parallelizes the
member list, and every task re-opens the archive and parses its members
(``etl_textreuse/assets/raw_textreuses.py:43-68,80-133``; reused for raw
texts at ``assets/raw_texts.py:26-73``). Same architecture here — it is
the right Spark pattern for an archive format Hadoop can't split — with
three generalizations:

- the opener is pluggable (local file by default; anything fsspec-like,
  e.g. smart_open for s3://, can be injected), gated behind import-try
  so no extra dependency is required;
- the driver sizes the scan by the members' compressed bytes, as Spark
  sizes a file scan by ``spark.sql.files.maxPartitionBytes``, and packs
  the members into that many tasks: a small archive is one task, not
  one per core;
- rows cross the Python→JVM boundary as Arrow record batches of the
  explicit schema (``mapInArrow``; never inference, no row pickled), and
  member→task assignment carries no meaning downstream (ids are assigned
  by sorted dense-id steps later), which keeps ingestion replayable at
  any parallelism.
"""

from __future__ import annotations

import io
import json
import math
import zipfile
from collections.abc import Callable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: rows per Arrow batch a task yields (Spark's default
#: ``spark.sql.execution.arrow.maxRecordsPerBatch``)
_BATCH_ROWS = 10_000


def _default_opener(path: str) -> io.BufferedIOBase:
    """Open the archive for random access. Local filesystem by default;
    s3:// and friends via smart_open when available."""
    if "://" in path and not path.startswith("file://"):
        try:
            from smart_open import open as s_open  # type: ignore

            return s_open(path, "rb")
        except ImportError as e:  # pragma: no cover
            raise ImportError(
                f"reading {path} needs smart_open; not installed"
            ) from e
    return open(path.removeprefix("file://"), "rb")


def _member_sizes(path: str, opener: Callable) -> dict[str, int]:
    """File members of the archive -> compressed bytes, in archive order."""
    with opener(path) as fh, zipfile.ZipFile(fh) as zf:
        return {i.filename: i.compress_size for i in zf.infolist() if not i.is_dir()}


def list_members(path: str, opener: Callable = _default_opener) -> list[str]:
    return list(_member_sizes(path, opener))


def _pack_members(sizes: dict[str, int], tasks: int) -> list[list[str]]:
    """Members into ``tasks`` lists of about equal compressed bytes:
    largest first onto the lightest list."""
    packs: list[list[str]] = [[] for _ in range(tasks)]
    load = [0] * tasks
    for m in sorted(sizes, key=sizes.__getitem__, reverse=True):
        t = load.index(min(load))
        packs[t].append(m)
        load[t] += sizes[m]
    return packs


def _column(values: list, field: pa.Field) -> pa.Array:
    """One parsed column as the schema's Arrow type. Inferring first and
    casting with overflow checks keeps the type errors of a checked
    conversion: a string or a fraction in an integer field raises
    instead of being truncated (``pa.array([1.5], pa.int32())`` gives 1),
    and so do an integer out of the field's range and a number in a
    string field (an id written as a number has lost its leading
    zeros). An integer in a floating field is widened."""
    target = field.type
    try:
        got = pa.array(values)
        if (
            got.type == target
            or pa.types.is_null(got.type)
            or (pa.types.is_integer(got.type)
                and (pa.types.is_integer(target) or pa.types.is_floating(target)))
            or (pa.types.is_floating(got.type) and pa.types.is_floating(target))
        ):
            return got.cast(target)
        problem = f"got a value of type {got.type}"
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError) as e:
        problem = str(e)
    raise TypeError(f"field {field.name!r} is {target}: {problem}")


def read_zip_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    num_partitions: int = 200,
    opener: Callable = _default_opener,
    member_filter: Callable[[str], bool] | None = None,
) -> DataFrame:
    """Parse every JSONL member of a zip archive into a DataFrame.

    The scan runs ``ceil(compressed bytes / spark.sql.files.maxPartitionBytes)``
    tasks, at most ``num_partitions`` and at most one per member; the
    driver packs the members into them (:func:`_pack_members`) and each
    task's list travels as a literal in its closure. Each task opens its
    own handle (executors never share file objects), parses lines with
    ``json.loads`` and yields Arrow record batches of ``schema``. Blank
    lines are skipped and a missing key reads as null; a malformed line
    or a value the field's type cannot hold raises — ingestion is the
    one place where failing loudly beats silent row loss.
    """
    sizes = _member_sizes(path, opener)
    if member_filter:
        sizes = {m: b for m, b in sizes.items() if member_filter(m)}
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    names = arrow_schema.names
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    tasks = max(1, min(num_partitions, len(sizes), math.ceil(sum(sizes.values()) / max_bytes)))
    packs = _pack_members(sizes, tasks)

    def batch(cols: list[list]) -> pa.RecordBatch:
        return pa.RecordBatch.from_arrays(
            [_column(c, f) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
        )

    def parse(task_ids: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        todo = [m for b in task_ids for t in b.column(0).to_pylist() for m in packs[t]]
        if not todo:
            return
        cols: list[list] = [[] for _ in names]
        with opener(path) as fh, zipfile.ZipFile(fh) as zf:
            for name in todo:
                with zf.open(name) as member:
                    for line in io.TextIOWrapper(member, encoding="utf-8"):
                        line = line.strip()
                        if not line:
                            continue
                        obj = json.loads(line)
                        for col, key in zip(cols, names):
                            col.append(obj.get(key))
                        if len(cols[0]) == _BATCH_ROWS:
                            yield batch(cols)
                            cols = [[] for _ in names]
        if cols[0]:
            yield batch(cols)

    return spark.range(0, tasks, 1, tasks).mapInArrow(parse, schema)


def read_jsonl_files(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """JSONL already exploded to plain files: the fully JVM-side path
    (``spark.read.text`` + ``from_json`` with an explicit schema — no
    Python parsing at all). Prefer this whenever the archive can be
    pre-exploded; the zip scan above exists for archives that can't be."""
    from pyspark.sql import functions as F

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    lines = spark.read.text(path).filter(F.trim("value") != "")
    return lines.select(
        F.from_json(F.col("value"), schema).alias("j")
    ).select("j.*")
