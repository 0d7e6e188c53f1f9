"""E2 analog — the engine's extract loop (SURVEY §3).

Reference loop: paginator -> request -> parse_response -> post_process ->
RECORD/STATE **[inherited: singer-sdk, §2.4]**. Spark loop (per micro-batch):

  scan WAL slice (start,end] -> filter(rk > bookmark) -> resolve payload
  schema -> flatten(payload) -> within-batch LWW -> LakeTable.merge_upsert
  (idempotent batch id, bookmark, payload schema + lineage committed
  atomically with the data)

One commit = one snapshot and, in the steady delta-append case, one write
job. :func:`process_batch` reads HEAD once and hands that snapshot to the
ledger check, the bookmark, the record counter, the payload-schema
resolver, the merge and the fold after it; only a lost CAS re-reads HEAD.
The lineage aggregate (per-bucket counts, offsets, high watermarks) runs as
a second job concurrently with the write and resolves into the same atomic
commit. A delta batch that fits one file is written by a single
shuffle-free job.

Two drivers share the exact same batch processor:

* :func:`run_batch_replay` — deterministic replay over a WAL DataFrame in
  planner-supplied slices (tests, bench, and bootstrap/backfill).
* :func:`run_streaming` — ``readStream`` file source tailing the WAL dir +
  ``foreachBatch``; Spark's checkpoint supplies offsets, the manifest's
  batch-id ledger supplies idempotence.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Optional, Sequence

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.functions.flatten import flatten_dataframe
from tap_rest_api_msdk_spark.functions.infer import merge_struct_types
from tap_rest_api_msdk_spark.operators.incremental import incremental_filter, result_limit
from tap_rest_api_msdk_spark.sources import reader
from tap_rest_api_msdk_spark.sources.reader import infer_json_schema_full
from tap_rest_api_msdk_spark.streaming.bookmarks import BookmarkStore
from tap_rest_api_msdk_spark.streaming.laketable import SLICE_MOD, LakeTable, key_hash
from tap_rest_api_msdk_spark.streaming.metrics import append_metrics_rows, lineage_metrics


@dataclass(frozen=True)
class PipelineConfig:
    """Resolved engine config for one stream (F6 analog at the Spark layer).
    Frozen: what a stream learns as it runs (bookmarks, counters, payload
    schema) is committed in the table's manifest, never kept here."""

    stream: str
    keys: Sequence[str] = ("repo", "path")
    replication_key: str = "seq"
    order_by: Sequence[str] = ("seq", "commit")  # deterministic LWW tie-break
    op_col: Optional[str] = "op"
    payload_col: Optional[str] = "payload"
    # a SUPPLIED payload schema (F5 file/inline bypass); None = discovered
    # and committed per stream in the manifest (F4)
    payload_schema: Optional[T.StructType] = None
    except_keys: list = field(default_factory=list)
    store_raw_json_message: bool = False
    start_date: Any = ""
    ts_col: Optional[str] = "ts"
    result_limit: Optional[int] = None
    num_buckets: int = 16
    # payload schema drift handling (FX6): "fixed" trusts the discovered
    # schema for the stream's lifetime, restarts included (fastest;
    # late-appearing fields are dropped); "sample" re-samples N+1 payloads
    # per batch and additively merges the nested schema (catches fields
    # that appear at batch boundaries — the CDC evolution shape); "full"
    # infers over the whole batch via a JVM-native json read (exact, one
    # extra parse pass).
    schema_evolution: str = "sample"
    inference_records: int = 50
    # sink write strategy: "cow" rewrites affected buckets fully merged;
    # "cow_incremental" (DESIGN_hierarchical_bucketing.md) appends delta
    # files (O(batch) writes, resolved at read) then folds the (bucket,
    # slice) granules due this round — amortized O(table/fold_every)
    # rewrite per batch, delta chains bounded: the steady-state streaming
    # path. "mor" is cow_incremental with folds off; its deltas fold into
    # the base only on an explicit LakeTable.compact()/compact_buckets()
    # (e.g. scripts/run_pipeline.py --mode maintenance from cron).
    sink_mode: str = "cow"
    # cow_incremental fold trigger of the handle the drivers open (None =
    # the LakeTable default); process_batch uses the handle it is given
    fold_every: Optional[int] = None
    # malformed payloads (unparseable JSON -> null struct after from_json):
    # "keep" emits all-null flattened fields (the tap's permissive shape),
    # "drop" filters them, "dlq" additionally lands the raw rows in a
    # dead-letter parquet dir under the table path for replay/inspection.
    malformed_policy: str = "keep"


def committed_payload_schema(snap: Optional[dict], stream: str) -> Optional[T.StructType]:
    """The payload schema ``stream`` committed with its last batch, or None."""
    js = ((snap or {}).get("payload_schema") or {}).get(stream)
    return T.StructType.fromJson(js) if js else None


def resolve_payload_schema(
    snap: Optional[dict], conf: PipelineConfig, raw: DataFrame, table_path: str, batch_id: int
) -> Optional[T.StructType]:
    """The payload schema a batch flattens with and commits (F4 discovery,
    FX6 drift; tap.py:557-640 analog), or None. The stream's schema so far
    is the one ``snap`` committed for it, whatever this process has seen:

    * shredded struct payload (the parquet schema IS the payload schema):
      committed and supplied schemas merged additively with the observed;
    * JSON with a supplied schema (F5 bypass): that schema, kept fixed;
    * discovered JSON under ``fixed``: inferred only while none is committed;
    * under ``sample`` / ``full``: the N+1 sample / whole batch inferred
      (its last fallback spills under the table) and merged additively.
    """
    if not conf.payload_col:
        return None
    committed = committed_payload_schema(snap, conf.stream)
    observed = raw.schema[conf.payload_col].dataType
    if isinstance(observed, T.StructType):
        known = (committed, conf.payload_schema, observed)
        return reduce(merge_struct_types, [s for s in known if s is not None])
    if conf.payload_schema is not None:
        return conf.payload_schema
    if committed is not None and conf.schema_evolution == "fixed":
        return committed
    if conf.schema_evolution == "full":
        payloads = raw.select(F.col(conf.payload_col).cast("string").alias("value"))
        spill = os.path.join(table_path, "_tmp_infer", f"batch_id={batch_id}")
        observed = infer_json_schema_full(payloads, spill)
    else:
        # looked up on the module per call, so a wrapper installed there sees it
        observed = reader.infer_payload_struct(raw, conf.payload_col, conf.inference_records)
    if not observed.fields:
        return committed
    return observed if committed is None else merge_struct_types(committed, observed)


def prepare_batch(
    df: DataFrame, conf: PipelineConfig, payload_schema: Optional[T.StructType]
) -> DataFrame:
    """flatten: the record-shaping stage (F1) with the batch's resolved
    payload schema (None = nothing to flatten)."""
    if not conf.payload_col or payload_schema is None:
        return df
    keep = [c for c in df.columns if c != conf.payload_col]
    return flatten_dataframe(
        df,
        conf.payload_col,
        payload_schema,
        except_keys=conf.except_keys,
        keep_cols=keep,
        store_raw_json_message=conf.store_raw_json_message,
    )


class _EmptyBatch(Exception):
    """The lineage job reported ZERO rows. Raised from the footprint or a
    lazy commit payload, it aborts merge_upsert before its CAS commit, so
    an empty batch never commits a manifest or burns the writer's ledger
    slot (an epoch dir already written is reclaimed)."""


class _Lineage:
    """The batch's lineage aggregate, collected on its own thread so it
    overlaps the merge write (it leaves cores idle that the write fills).
    The thread inherits the caller's Spark job group and properties."""

    def __init__(self, metrics_df: DataFrame):
        self._box: dict = {}
        self._thread = InheritableThread(target=self._run, args=(metrics_df,), daemon=True)
        self._thread.start()

    def _run(self, metrics_df: DataFrame) -> None:
        try:
            self._box["rows"] = metrics_df.collect()
        except BaseException as e:  # re-raised by rows()
            self._box["err"] = e

    def rows(self, nonempty: bool = False) -> list:
        """The rows; ``nonempty`` raises :class:`_EmptyBatch` on none."""
        self._thread.join()
        if "err" in self._box:
            raise self._box["err"]
        if nonempty and not self._box["rows"]:
            raise _EmptyBatch()
        return self._box["rows"]


def process_batch(
    table: LakeTable, conf: PipelineConfig, batch_df: DataFrame, batch_id: int
) -> dict:
    """One idempotent micro-batch commit (data + bookmarks + lineage).

    The result depends only on (snapshot, batch, config). HEAD is read
    once: that snapshot answers the ledger check, the starting bookmark,
    the records counter, the stream's payload schema and the table schema,
    and it is the base of the merge and of the fold that follows it. Only
    a lost CAS re-reads HEAD. The resolved payload schema is committed in
    the same manifest as the data it shaped.
    """
    snap = table.current_manifest()
    # batch-id ledger check FIRST: a replayed batch must be a complete
    # no-op, side channels (DLQ append, metrics) included. The stream IS
    # the writer: several streams share one table, each with its own ledger
    if snap is not None and batch_id <= table.last_batch_id_for(conf.stream, snap):
        return {"skipped": True, "batch_id": batch_id}

    store = BookmarkStore(
        table, conf.stream, conf.start_date, bookmarks=(snap or {}).get("bookmarks", {})
    )
    bookmark = store.get()
    raw = incremental_filter(batch_df, conf.replication_key, bookmark)

    # F11 result cap across batches (pagination_results_limit), per stream
    records_committed = ((snap or {}).get("records_committed_by") or {}).get(conf.stream, 0)
    if conf.result_limit is not None:
        remaining = conf.result_limit - records_committed
        if remaining <= 0:
            return {"skipped": True, "result_limit_reached": True, "batch_id": batch_id}
        raw = result_limit(raw.orderBy(conf.replication_key), remaining)

    schema = resolve_payload_schema(snap, conf, raw, table.path, batch_id)
    if conf.payload_col and not (schema and schema.fields):
        return {"skipped": True, "empty": True, "batch_id": batch_id}
    json_payload = conf.payload_col and not isinstance(
        raw.schema[conf.payload_col].dataType, T.StructType
    )
    if json_payload and conf.malformed_policy in ("drop", "dlq"):
        # PERMISSIVE from_json yields a struct of nulls on bad input; the
        # standard detector is the corrupt-record column (a shredded WAL
        # was parsed at ingest and has nothing malformed)
        probe_schema = T.StructType(
            list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
        )
        parsed = F.from_json(
            F.col(conf.payload_col),
            probe_schema,
            {"columnNameOfCorruptRecord": "_corrupt_record"},
        )
        ok = parsed["_corrupt_record"].isNull() | F.col(conf.payload_col).isNull()
        if conf.malformed_policy == "dlq":
            # overwrite into the per-batch dir (plus the ledger check
            # above): DLQ landing is idempotent under crash-replay
            raw.filter(~ok).write.mode("overwrite").parquet(
                os.path.join(table.path, "dlq", f"batch_id={batch_id}")
            )
        raw = raw.filter(ok)

    # lineage + high-watermark + the batch footprint in ONE cheap pass over
    # the RAW batch (merge keys / seq / ts / payload are all pre-flatten
    # columns, so this pass never parses JSON). The flatten then runs
    # exactly once, inside the merge write action — measured 2x replay
    # throughput vs persisting the flattened batch across both passes.
    # Record-shaped streams whose keys live INSIDE the payload fall back to
    # metrics over the flattened batch (pays one extra JSON pass).
    bucket = table.bucket_col(conf.keys, snap)  # lineage partition == merge bucket
    metrics_src = (
        raw if all(k in raw.columns for k in conf.keys) else prepare_batch(raw, conf, schema)
    )
    # the (bucket, slice64) footprint rides in the same aggregate;
    # metrics_src carries the shaped batch's keys after malformed/result-
    # limit filtering, so the merge's claims stay exact
    src = metrics_src.withColumn("__p", bucket).withColumn(
        "__s64", key_hash(conf.keys, SLICE_MOD, "__salt__")
    )
    if conf.sink_mode in ("mor", "cow_incremental") and table.delta_plans_one_file(
        snap, conf.stream
    ):
        # a batch whose delta append writes one file is aggregated in one
        # task too: no exchange, one job
        src = src.coalesce(1)
    metrics_df = lineage_metrics(
        src,
        "__p",
        conf.replication_key,
        ts_col=conf.ts_col if conf.ts_col in metrics_src.columns else None,
        # byte accounting only applies to string payloads; a shredded
        # struct has no single serialized length
        bytes_col=(
            conf.payload_col
            if json_payload and conf.payload_col in metrics_src.columns
            else None
        ),
        slice_col="__s64",
    )
    shaped = prepare_batch(raw, conf, schema)

    # The lineage job runs concurrently with the merge write; its rows feed
    # the commit payloads (bookmarks, counters) and the footprint as
    # callables that laketable resolves when it needs them — after the
    # write action, unless the write cannot be planned without the
    # footprint (see merge_upsert) — so exact bookmarks land in the same
    # atomic manifest.
    lineage = _Lineage(metrics_df)

    def _bookmarks():
        rows = lineage.rows(nonempty=True)
        return store.updates_for(
            max(r["max_replication_key"] for r in rows),
            {r["partition_id"]: r["max_replication_key"] for r in rows},
        )

    def _extra():
        n = records_committed + sum(r["event_count"] for r in lineage.rows(nonempty=True))
        out = {"records_committed": n, "records_committed_by": {conf.stream: n}}
        if schema is not None:
            out["payload_schema"] = {conf.stream: schema.jsonValue()}
        return out

    def _footprint():
        return {
            int(r["partition_id"]): (set(r["slice_classes"]), r["event_count"])
            for r in lineage.rows(nonempty=True)
        }

    try:  # an empty batch raises _EmptyBatch wherever the rows are first used
        stats = table.merge_upsert(
            shaped,
            keys=conf.keys,
            order_by=conf.order_by,
            batch_id=batch_id,
            op_col=conf.op_col,
            bookmark_updates=_bookmarks,
            extra_manifest=_extra,
            mode=conf.sink_mode,
            writer_id=conf.stream,
            footprint=_footprint,
            base=snap,
        )
        mrows = lineage.rows(nonempty=True)  # the merge may skip before resolving
    except _EmptyBatch:
        return {"skipped": True, "empty": True, "batch_id": batch_id}
    hw = max(r["max_replication_key"] for r in mrows)
    if not stats.get("skipped"):
        # metrics rows were already collected; append driver-side (pyarrow).
        # slice_classes is merge-plan plumbing, not lineage — keep the
        # persisted metrics schema stable across sink modes
        persisted = T.StructType(
            [f for f in metrics_df.schema.fields if f.name != "slice_classes"]
        )
        append_metrics_rows(mrows, persisted, table.path, batch_id, conf.stream)
    stats["rows_high_watermark"] = hw
    return stats


def _open(spark: SparkSession, table_path: str, conf: PipelineConfig) -> LakeTable:
    table = LakeTable(spark, table_path, num_buckets=conf.num_buckets)
    if conf.fold_every:
        table.fold_every = conf.fold_every
    return table


def run_batch_replay(
    spark: SparkSession,
    wal_df: DataFrame,
    table_path: str,
    conf: PipelineConfig,
    slices: Optional[Sequence[tuple]] = None,
    start_batch_id: int = 0,
) -> LakeTable:
    """Replay a bounded WAL through the same batch processor.

    ``slices`` — optional list of (start_seq, end_seq] ranges from the
    offset planner (plans/planner.py); default = one batch for the lot.
    """
    table = _open(spark, table_path, conf)
    rk = conf.replication_key
    if slices is None:
        process_batch(table, conf, wal_df, start_batch_id)
        return table
    for i, (s, e) in enumerate(slices):
        sl = wal_df.filter((F.col(rk) > F.lit(s)) & (F.col(rk) <= F.lit(e)))
        process_batch(table, conf, sl, start_batch_id + i)
    return table


def run_streaming(
    spark: SparkSession,
    wal_dir: str,
    wal_schema: T.StructType,
    table_path: str,
    conf: PipelineConfig,
    checkpoint_dir: Optional[str] = None,
    max_files_per_trigger: Optional[int] = 1,
    available_now: bool = True,
    block: bool = True,
):
    """Tail the WAL directory with a file-streaming source.

    ``maxFilesPerTrigger`` is the engine's ``pagination_page_size``
    (SURVEY §1.1); ``Trigger.AvailableNow`` drains the backlog then stops
    (the P7 single-page one-shot analog) — set ``available_now=False`` for
    a continuously-running tail. ``block=False`` returns immediately after
    ``start()`` so several availableNow drains can run CONCURRENTLY (the
    caller awaits each query; orchestrate.start_all does exactly this).
    """
    table = _open(spark, table_path, conf)
    source = spark.readStream.schema(wal_schema)
    if max_files_per_trigger:
        source = source.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = source.parquet(wal_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(table, conf, batch_df, batch_id)

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_dir or os.path.join(table_path, "_checkpoint")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        if block:
            q.awaitTermination()
        return table, q
    return table, writer.start()
