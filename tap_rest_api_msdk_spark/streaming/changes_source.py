"""Structured-Streaming CDC reads of a LakeTable: a PySpark Python Data
Source (Spark 4 ``pyspark.sql.datasource`` API) exposing the table's
commit log as a stream —

    spark.dataSource.register(LakeTableChangesDataSource)
    df = (spark.readStream.format("laketable_changes")
          .option("path", table_path)
          .option("starting_version", 0)   # default: table HEAD at start
          .load())

Each micro-batch delivers the data files ADDED by data commits in the
offset window (the same commit-walk rule as ``LakeTable.changes_since``:
maintenance commits — folds, compactions — are skipped via the unchanged
batch-id ledger, so rewritten-but-unchanged base rows never surface as
changes). Rows carry ``__commit_version`` (the snapshot that added them)
and ``__bucket`` alongside the table columns.

Scale shape: offsets are manifest versions (driver-side metadata only,
O(1) HEAD via the pointer hint); each input partition is ONE data file,
read on the EXECUTOR with pyarrow and yielded as Arrow RecordBatches —
no per-row Python, and parallelism = files per batch. Exactly-once comes
from Spark's checkpointed offsets plus deterministic manifests: replaying
(start, end] always selects the same files (retained until ``vacuum``;
a vacuumed window raises the standard retained-snapshots error).

Semantics per sink mode (same contract as ``changes_since``): under
mor / cow_incremental the delivered rows are exactly the change rows
(within-batch LWW winners incl. tombstones); under whole-bucket cow,
rewritten buckets carry unchanged rows along — downstream filters by its
replication-key bookmark for an exact stream.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from tap_rest_api_msdk_spark.streaming.laketable import (
    head_version,
    load_core_at,
    read_tag_version,
    walk_added_files,
)


@dataclass
class _FilePartition(InputPartition):
    file_path: str
    commit_version: int


def _read_partition(schema_json: str, partition):
    """Executor-side: one parquet file -> Arrow RecordBatches cast to the
    declared schema (+ constant __commit_version) — vectorized, no per-row
    Python. ``partition is None`` is PySpark's stand-in for an EMPTY batch
    partition list (a caught-up window): yield nothing."""
    if partition is None:
        return
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    spark_schema = StructType.fromJson(__import__("json").loads(schema_json))
    arrow_schema = to_arrow_schema(spark_schema)
    tbl = pq.read_table(partition.file_path)
    n = tbl.num_rows
    cols = []
    for field in arrow_schema:
        if field.name == "__commit_version":
            cols.append(pa.array([partition.commit_version] * n, type=field.type))
        elif field.name in tbl.column_names:
            cols.append(tbl.column(field.name).cast(field.type).combine_chunks())
        else:
            cols.append(pa.nulls(n, type=field.type))
    out = pa.table(cols, schema=arrow_schema)
    yield from out.to_batches(max_chunksize=8192)


def _resolve_version_option(table_path: str, name: str, v):
    """Option value -> version: int, numeric string, or TAG NAME —
    'changes since release-1'. Raises with the option name on an
    unresolvable value."""
    try:
        return int(v)
    except ValueError:
        tv = read_tag_version(table_path, str(v))
        if tv is None:
            raise ValueError(
                f"laketable_changes: {name}={v!r} is neither a version "
                "nor a known tag"
            )
        return tv


def _start_version_option(options, default):
    """Accept BOTH spellings on both read modes ('starting_version' per
    the streaming docs, 'start_version' per the batch window)."""
    for name in ("starting_version", "start_version"):
        v = options.get(name)
        if v is not None:
            return _resolve_version_option(options.get("path", ""), name, v)
    return default


class LakeTableChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        self.table_path = options.get("path")
        if not self.table_path:
            raise ValueError("laketable_changes requires .option('path', ...)")
        self.schema_json = schema.json()
        # keep the RAW option: a tag-name start resolves lazily in
        # initialOffset, which Spark only consults when NO checkpoint
        # exists — so a restart from checkpointed offsets works even
        # after the tag was dropped
        self._raw_start = None
        for name in ("starting_version", "start_version"):
            if options.get(name) is not None:
                self._raw_start = (name, options[name])
                break

    def initialOffset(self) -> dict:
        if self._raw_start is not None:
            name, v = self._raw_start
            return {"version": _resolve_version_option(self.table_path, name, v)}
        head = head_version(self.table_path)
        return {"version": head if head is not None else -1}

    def latestOffset(self) -> dict:
        head = head_version(self.table_path)
        if head is not None:
            return {"version": head}
        return self.initialOffset()  # empty table: stay at the baseline

    def partitions(self, start: dict, end: dict):
        added = walk_added_files(
            self.table_path, int(start["version"]), int(end["version"])
        )
        return [_FilePartition(file_path=f, commit_version=v) for f, v in added]

    def read(self, partition):
        yield from _read_partition(self.schema_json, partition)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


class LakeTableChangesBatchReader(DataSourceReader):
    """Batch-mode changelog read: one bounded window
    (start_version, end_version] materialized as a DataFrame —

        spark.read.format("laketable_changes").option("path", p)
             .option("start_version", a).option("end_version", b).load()

    Same commit walk, partitioning, and Arrow read path as the stream."""

    def __init__(self, schema, options):
        self._schema_json = schema.json()
        self.table_path = options.get("path")
        if not self.table_path:
            raise ValueError("laketable_changes requires .option('path', ...)")
        start = _start_version_option(options, None)
        if start is None:
            raise ValueError(
                "laketable_changes batch read requires .option('start_version', ...)"
            )
        self.start_v = start
        end = options.get("end_version")
        if end is not None:
            # same resolution as the start: int, numeric string, or tag
            self.end_v = _resolve_version_option(
                self.table_path, "end_version", end
            )
        else:
            head = head_version(self.table_path)
            if head is None:
                raise ValueError(f"no committed snapshot at {self.table_path!r}")
            self.end_v = head

    def partitions(self):
        added = walk_added_files(self.table_path, self.start_v, self.end_v)
        return [_FilePartition(file_path=f, commit_version=v) for f, v in added]

    def read(self, partition):
        yield from _read_partition(self._schema_json, partition)


class LakeTableChangesDataSource(DataSource):
    """``format("laketable_changes")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "laketable_changes"

    def schema(self):
        from pyspark.sql import types as T

        m_head = head_version(self.options.get("path", ""))
        # CORE version file only — schema is a core field; assembling
        # every bucket section just to read it would make each stream
        # (re)construction O(live files) on a large table
        m = (
            load_core_at(self.options["path"], m_head)
            if m_head is not None
            else None
        )
        if m is None or not m.get("schema"):
            raise ValueError(
                "laketable_changes: no committed snapshot at "
                f"{self.options.get('path')!r}"
            )
        base = T.StructType.fromJson(m["schema"])
        return T.StructType(
            base.fields
            + [
                T.StructField("__bucket", T.IntegerType(), True),
                T.StructField("__commit_version", T.LongType(), False),
            ]
        )

    def streamReader(self, schema):
        return LakeTableChangesStreamReader(schema, self.options)

    def reader(self, schema):
        return LakeTableChangesBatchReader(schema, self.options)
