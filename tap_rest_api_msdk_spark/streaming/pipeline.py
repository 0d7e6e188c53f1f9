"""E2 analog — the engine's extract loop (SURVEY §3).

Reference loop: paginator -> request -> parse_response -> post_process ->
RECORD/STATE **[inherited: singer-sdk, §2.4]**. Spark loop (per micro-batch):

  scan WAL slice (start,end] -> filter(rk > bookmark) -> flatten(payload) ->
  within-batch LWW -> LakeTable.merge_upsert (idempotent batch id, bookmark
  + lineage committed atomically with the data)

One commit = one snapshot and, in the steady delta-append case, one write
job. :func:`process_batch` reads HEAD once and hands that snapshot to the
ledger check, the bookmark, the record counter, the merge and the fold
after it; only a lost CAS re-reads HEAD. The lineage aggregate (per-bucket
counts, offsets, high watermarks) runs as a second job concurrently with
the write and resolves into the same atomic commit. A delta batch that
fits one file is written by a single shuffle-free job.

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
from typing import Any, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.functions.flatten import flatten_dataframe
from tap_rest_api_msdk_spark.operators.incremental import incremental_filter
from tap_rest_api_msdk_spark.sources.reader import infer_json_schema_full
from tap_rest_api_msdk_spark.streaming.bookmarks import BookmarkStore
from tap_rest_api_msdk_spark.streaming.laketable import SLICE_MOD, LakeTable, key_hash
from tap_rest_api_msdk_spark.streaming.metrics import append_metrics_rows, lineage_metrics


# "auto" delta fan-out target (rows per delta file). 4096 puts the bench's
# 50k-row steady batches at ~13 files — the measured knee (16 files beat
# both 64 and 4 on the 30-batch steady shape; see delta_file_rows below).
DELTA_FILE_ROWS_AUTO = 4096


def _resolve_delta_file_rows(v) -> Optional[int]:
    if v is None:
        return None
    if v == "auto":
        return DELTA_FILE_ROWS_AUTO
    # bool is an int subclass: True would mean one delta file per row
    if isinstance(v, int) and not isinstance(v, bool) and v > 0:
        return v
    raise ValueError(f"delta_file_rows {v!r} (expected 'auto', a positive int, or None)")


@dataclass
class PipelineConfig:
    """Resolved engine config for one stream (F6 analog at the Spark layer)."""

    stream: str
    keys: Sequence[str] = ("repo", "path")
    replication_key: str = "seq"
    order_by: Sequence[str] = ("seq", "commit")  # deterministic LWW tie-break
    op_col: Optional[str] = "op"
    payload_col: Optional[str] = "payload"
    payload_schema: Optional[T.StructType] = None
    except_keys: list = field(default_factory=list)
    store_raw_json_message: bool = False
    start_date: Any = ""
    ts_col: Optional[str] = "ts"
    result_limit: Optional[int] = None
    num_buckets: int = 16
    # merge shuffle width = num_affected_buckets * files_per_bucket (None =
    # auto from cores): decouples write parallelism from the bucket layout
    files_per_bucket: Optional[int] = None
    # payload schema drift handling (FX6): "fixed" trusts the discovered
    # schema for the stream's lifetime (fastest; late-appearing fields are
    # dropped); "sample" re-samples N+1 payloads per batch and additively
    # merges the nested schema (catches fields that appear at batch
    # boundaries — the CDC evolution shape); "full" infers over the whole
    # batch via a JVM-native json read (exact, one extra parse pass).
    schema_evolution: str = "sample"
    inference_records: int = 50
    _schema_discovered: bool = False  # set by the pipeline on first inference
    # sink write strategy: "cow" rewrites affected buckets fully merged;
    # "cow_incremental" (DESIGN_hierarchical_bucketing.md) appends delta
    # files (O(batch) writes, resolved at read) then folds the (bucket,
    # slice) granules due this round — amortized O(table/fold_every)
    # rewrite per batch, delta chains bounded: the steady-state streaming
    # path. "mor" is cow_incremental with folds off; its deltas fold into
    # the base only on an explicit LakeTable.compact()/compact_buckets()
    # (e.g. scripts/run_pipeline.py --mode maintenance from cron).
    sink_mode: str = "cow"
    fold_every: Optional[int] = None  # cow_incremental stagger (None = table default)
    # target rows per DELTA file for mor/cow_incremental micro-batches:
    # caps the delta write fan-out at ceil(batch_rows / this), writing
    # files SHARED across buckets (the claim format's collision case). A
    # small batch would otherwise write up to num_buckets near-empty files
    # whose footers and commit latency dominate (measured +30% steady
    # ingest at 64 buckets, 2.9x at 1024). Large batches are unaffected:
    # the cap only ever LOWERS the partition count below one file per
    # (bucket, salt).
    # batch_rows comes from the stream's previous batch, recorded in the
    # snapshot, so the write starts before this batch's lineage job has
    # counted it. A batch expected to fit in ONE file (the steady CDC
    # shape) commits in two concurrent single-task jobs: the write (LWW
    # aggregate in the scan task, no exchange) and the lineage aggregate.
    # "auto" (the default) targets DELTA_FILE_ROWS_AUTO rows per file;
    # None = uncapped, the pre-r5 layout; an int = explicit target.
    delta_file_rows: Union[int, str, None] = "auto"
    # malformed payloads (unparseable JSON -> null struct after from_json):
    # "keep" emits all-null flattened fields (the tap's permissive shape),
    # "drop" filters them, "dlq" additionally lands the raw rows in a
    # dead-letter parquet dir under the table path for replay/inspection.
    malformed_policy: str = "keep"


def prepare_batch(df: DataFrame, conf: PipelineConfig, bookmark: Any) -> DataFrame:
    """bookmark filter -> flatten: the record-shaping stage (F10 + F1)."""
    out = incremental_filter(df, conf.replication_key, bookmark)
    if conf.payload_col and conf.payload_schema is not None:
        keep = [c for c in df.columns if c != conf.payload_col]
        out = flatten_dataframe(
            out,
            conf.payload_col,
            conf.payload_schema,
            except_keys=conf.except_keys,
            keep_cols=keep,
            store_raw_json_message=conf.store_raw_json_message,
        )
    return out


class _EmptyBatch(Exception):
    """Raised by a lazy commit payload when the lineage job reports ZERO
    rows: aborts merge_upsert between its write action and its CAS commit,
    so an empty batch never commits a manifest or burns the writer's
    ledger slot (the unreferenced epoch dir is reclaimed)."""


class _Lineage:
    """The batch's lineage aggregate, collected on its own thread so it
    overlaps the merge write (it leaves cores idle that the write fills).
    The thread inherits the caller's Spark job group and properties."""

    def __init__(self, metrics_df: DataFrame):
        from pyspark import InheritableThread

        self._box: dict = {}
        self._thread = InheritableThread(target=self._run, args=(metrics_df,), daemon=True)
        self._thread.start()

    def _run(self, metrics_df: DataFrame) -> None:
        try:
            self._box["rows"] = metrics_df.collect()
        except BaseException as e:  # re-raised by rows()
            self._box["err"] = e

    def rows(self) -> list:
        self._thread.join()
        if "err" in self._box:
            raise self._box["err"]
        return self._box["rows"]

    def nonempty_rows(self) -> list:
        rows = self.rows()
        if not rows:
            raise _EmptyBatch()
        return rows


def process_batch(
    table: LakeTable, conf: PipelineConfig, batch_df: DataFrame, batch_id: int
) -> dict:
    """One idempotent micro-batch commit (data + bookmarks + lineage).

    HEAD is read once: that snapshot answers the ledger check, the
    starting bookmark, the records counter and the table schema, and it is
    the base of the merge and of the fold that follows it. Only a lost CAS
    re-reads HEAD.
    """
    snap = table.current_manifest()
    if snap and snap.get("num_buckets"):  # manifest-authoritative
        table.num_buckets = int(snap["num_buckets"])
    # batch-id ledger check FIRST: a replayed (already-committed) batch must
    # be a complete no-op — merge_upsert would skip it anyway, but side
    # channels (the DLQ append, metrics work) must not run twice either
    # the stream IS the writer: per-stream ledgers let several streams
    # share one table without suppressing each other's batch ids
    if snap is not None and batch_id <= table.last_batch_id_for(conf.stream, snap):
        return {"skipped": True, "batch_id": batch_id}

    store = BookmarkStore(
        table, conf.stream, conf.start_date, bookmarks=(snap or {}).get("bookmarks", {})
    )
    bookmark = store.get()
    raw = incremental_filter(batch_df, conf.replication_key, bookmark)

    # F11 result cap across batches (pagination_results_limit): stop once
    # the table has committed `result_limit` records; a partial batch is
    # truncated deterministically by replication-key order
    # per-STREAM counter map (multi-writer safe: dict-valued extra keys
    # merge per entry on CAS rebase)
    records_committed = ((snap or {}).get("records_committed_by") or {}).get(conf.stream, 0)
    if conf.result_limit is not None:
        remaining = conf.result_limit - records_committed
        if remaining <= 0:
            return {"skipped": True, "result_limit_reached": True, "batch_id": batch_id}
        from tap_rest_api_msdk_spark.operators.incremental import result_limit as _cap

        raw = _cap(raw.orderBy(conf.replication_key), remaining)

    # F4 dynamic discovery + drift handling: no schema supplied -> infer
    # from an N+1 sample (tap.py:557-640 analog); on later batches, merge
    # newly-observed payload fields additively per conf.schema_evolution
    # (the tap flattens drifting records dynamically, streams.py:588-603;
    # the lake sink then evolves the flat schema, SURVEY §4.2).
    payload_is_struct = bool(
        conf.payload_col
        and conf.payload_col in raw.columns
        and isinstance(raw.schema[conf.payload_col].dataType, T.StructType)
    )
    if payload_is_struct:
        # pre-shredded columnar WAL: the parquet schema IS the payload
        # schema — no inference pass, no JSON parse, no malformed handling
        # (shredding already happened at ingest). Drift arrives as parquet
        # schema evolution and merges additively like any other batch.
        from tap_rest_api_msdk_spark.functions.infer import merge_struct_types

        observed = raw.schema[conf.payload_col].dataType
        conf.payload_schema = (
            observed
            if conf.payload_schema is None
            else merge_struct_types(conf.payload_schema, observed)
        )
        conf._schema_discovered = True
    elif conf.payload_col:
        from tap_rest_api_msdk_spark.functions.infer import merge_struct_types
        from tap_rest_api_msdk_spark.sources.reader import infer_payload_struct

        # a user-SUPPLIED schema (F5 file/inline bypass) stays fixed, like
        # the reference's no-discovery path; only discovered schemas track
        # drift across batches
        def _infer_full():
            payloads = raw.select(F.col(conf.payload_col).cast("string").alias("value"))
            spill = os.path.join(table.path, "_tmp_infer", f"batch_id={batch_id}")
            return infer_json_schema_full(payloads, spill)

        observed = None
        if conf.payload_schema is None or (
            conf._schema_discovered and conf.schema_evolution in ("sample", "full")
        ):
            if conf.schema_evolution == "full":
                observed = _infer_full()
            else:
                observed = infer_payload_struct(raw, conf.payload_col, conf.inference_records)
            conf._schema_discovered = True
        if observed is not None and observed.fields:
            if conf.payload_schema is None:
                conf.payload_schema = observed
            else:
                conf.payload_schema = merge_struct_types(conf.payload_schema, observed)
        if conf.payload_schema is None or not conf.payload_schema.fields:
            return {"skipped": True, "empty": True, "batch_id": batch_id}

        if conf.malformed_policy in ("drop", "dlq"):
            # PERMISSIVE from_json yields a struct of nulls on bad input;
            # the standard detector is the corrupt-record column
            probe_schema = T.StructType(
                list(conf.payload_schema.fields)
                + [T.StructField("_corrupt_record", T.StringType(), True)]
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

    # lineage + high-watermark + affected buckets in ONE cheap pass over the
    # RAW batch (merge keys / seq / ts / payload are all pre-flatten
    # columns, so this pass never parses JSON). The flatten then runs
    # exactly once, inside the merge write action — measured 2x replay
    # throughput vs persisting the flattened batch across both passes.
    # Record-shaped streams whose keys live INSIDE the payload fall back to
    # metrics over the flattened batch (pays one extra JSON pass).
    bucket = key_hash(conf.keys, table.num_buckets)
    metrics_src = (
        raw if all(k in raw.columns for k in conf.keys) else prepare_batch(raw, conf, None)
    )
    # for COW sinks on a non-empty table, ALSO collect the (bucket,
    # slice64) footprint in the same aggregate: merge_upsert then rewrites
    # only the touched granules ((bucket, slice)-granular COW) instead of
    # whole buckets, at zero extra scan cost. The footprint MUST be exact
    # (claims derive from it), which holds because metrics_src carries the
    # same key values as the shaped batch and runs after malformed/
    # result-limit filtering. On an empty table (bulk load) there is
    # nothing to claim against.
    bulk = snap is None
    delta = conf.sink_mode in ("mor", "cow_incremental")
    want_granular = conf.sink_mode == "cow" and not bulk
    # delta fan-out: (touched buckets, events) of this stream's previous
    # batch, kept in the snapshot — a CDC stream is stationary, so it
    # sizes this batch's write before the lineage job has counted it
    est = ((snap or {}).get("delta_fanout") or {}).get(conf.stream) if delta else None
    dfr = _resolve_delta_file_rows(conf.delta_file_rows) if delta else None
    src = metrics_src.withColumn("__p", bucket)
    if est is not None and dfr is not None and est[1] <= dfr:
        # a batch expected to fill one delta file is aggregated in one task:
        # no exchange, one job
        src = src.coalesce(1)
    if want_granular:
        src = src.withColumn("__s64", key_hash(conf.keys, SLICE_MOD, "__salt__"))
    metrics_df = lineage_metrics(
        src,
        "__p",
        conf.replication_key,
        ts_col=conf.ts_col if conf.ts_col in metrics_src.columns else None,
        # byte accounting only applies to string payloads; a shredded
        # struct has no single serialized length
        bytes_col=(
            conf.payload_col
            if conf.payload_col in metrics_src.columns and not payload_is_struct
            else None
        ),
        slice_col="__s64" if want_granular else None,
    )
    shaped = prepare_batch(raw, conf, None)  # bookmark already applied
    if conf.fold_every:
        table.fold_every = conf.fold_every

    # The lineage job runs concurrently with the merge write; its rows feed
    # the commit payloads (bookmarks, counters, touched buckets) as
    # callables that laketable resolves after the write action and right
    # before the CAS, so exact bookmarks land in the same atomic manifest.
    # A COW merge into a non-empty table plans its rewrite from the exact
    # footprint, and a delta append without a fan-out estimate sizes from
    # the exact counts: those wait for the lineage rows first.
    lineage = _Lineage(metrics_df)
    mu_kwargs: dict = {}
    if want_granular or (delta and est is None):
        mrows = lineage.rows()
        if not mrows:
            return {"skipped": True, "empty": True, "batch_id": batch_id}
        if want_granular:
            mu_kwargs = {
                # lineage partition == merge bucket
                "affected_buckets": sorted(r["partition_id"] for r in mrows),
                "affected_granules": {
                    int(r["partition_id"]): set(r["slice_classes"]) for r in mrows
                },
            }
        else:
            est = [len(mrows), sum(r["event_count"] for r in mrows)]
    if delta:
        mu_kwargs = {
            # exact touched-bucket set, needed only after the delta write
            "affected_buckets": lambda: sorted(
                int(r["partition_id"]) for r in lineage.nonempty_rows()
            ),
            "affected_est": est[0],
            "delta_parts": -(-est[1] // dfr) if dfr else None,
        }

    def _bookmarks():
        rows = lineage.nonempty_rows()
        return store.updates_for(
            max(r["max_replication_key"] for r in rows),
            {r["partition_id"]: r["max_replication_key"] for r in rows},
        )

    def _extra():
        rows = lineage.nonempty_rows()
        events = sum(r["event_count"] for r in rows)
        n = records_committed + events
        out = {"records_committed": n, "records_committed_by": {conf.stream: n}}
        if delta:
            out["delta_fanout"] = {conf.stream: [len(rows), events]}
        return out

    try:
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
            base=snap,
            **mu_kwargs,
        )
    except _EmptyBatch:
        return {"skipped": True, "empty": True, "batch_id": batch_id}
    mrows = lineage.rows()
    if not mrows:  # merge skipped before resolving (e.g. ledger race)
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
    table = LakeTable(
        spark, table_path, num_buckets=conf.num_buckets,
        files_per_bucket=conf.files_per_bucket,
    )
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
    table = LakeTable(
        spark, table_path, num_buckets=conf.num_buckets,
        files_per_bucket=conf.files_per_bucket,
    )
    reader = spark.readStream.schema(wal_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    stream = reader.parquet(wal_dir)

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
