"""Incrementally-maintained SCD Type-2 history companion.

The latest-state lake table answers "what is the row now"; this companion
maintains the other canonical CDC materialization — "what was the row,
when" — as a second LakeTable of validity intervals, updated per
micro-batch through the same exactly-once merge/ledger machinery.

Decomposition (the reason this is O(batch), not O(history)):

* Every version row is keyed ``(keys..., order_by...)`` in the history
  table and is written at most TWICE: once when it arrives (open interval,
  ``valid_to`` null) and once when the next version supersedes it (closed).
  The re-emission wins by LWW on ``__gen`` (the emitting batch id), so the
  history table converges under replay exactly like the state table.
* The only lookup a batch needs is each touched key's CURRENT version —
  which is the state table's row. That read is bucket-pruned
  (``read_state(buckets=affected)``): the same cost class as the COW
  merge's own base read, never a history scan.
* Within the batch, interval stitching is :func:`..operators.scd.scd2_intervals`
  over (previous-current ∪ new versions) — one window keyed by the
  business key over O(batch) rows.

Contract: exact against ``scd2_intervals`` over the full concatenated
stream whenever arrivals are KEY-MONOTONE (each key's versions arrive in
``order_by`` order across batches — the engine's own WAL replay and
streaming regime). A version arriving BELOW its key's current order is
ignored by the state table's LWW and equally leaves the history untouched:
the history records the state table's applied transitions, so the two
surfaces never disagree. Delete tombstones get a history row like any
version (``is_current`` 0, open ``valid_to`` until a later version
resurrects the key and closes it).

Crash ordering: the history commit lands BEFORE the state commit, so a
replayed batch recomputes the history rows from the same pre-batch state
(and its ledger skips the re-commit anyway); each table keeps its own
per-stream ledger. The payload schema is resolved once per batch, by the
pipeline's resolver against the pre-batch state snapshot, and both tables
flatten with it.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.operators.incremental import incremental_filter
from tap_rest_api_msdk_spark.operators.scd import scd2_intervals
from tap_rest_api_msdk_spark.streaming.bookmarks import BookmarkStore
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable
from tap_rest_api_msdk_spark.streaming.pipeline import (
    PipelineConfig,
    prepare_batch,
    process_batch,
    resolve_payload_schema,
)


def _history_rows(
    state: LakeTable, snap: Optional[dict], conf: PipelineConfig, shaped: DataFrame,
    batch_id: int,
) -> DataFrame:
    """The batch's history delta against state snapshot ``snap``: new
    versions (open or within-batch closed) plus re-emissions of
    previously-open rows now closed."""
    keys = list(conf.keys)
    ob = list(conf.order_by)
    ordst = F.struct(*[F.col(c) for c in ob])

    prev: Optional[DataFrame] = None
    if snap is not None:
        bcol = state.bucket_col(keys, snap)  # the snapshot's own bucketing
        aff = [
            r["b"]
            for r in shaped.select(bcol.alias("b")).distinct().collect()
        ]
        # trim collateral keys sharing the affected buckets: the window
        # input stays O(batch keys), not O(bucket)
        prev = state.read_state(buckets=aff, manifest=snap).drop("__bucket").join(
            shaped.select(*keys).distinct(), keys, "leftsemi"
        )

    if prev is not None:
        prev_ord = prev.select(
            *keys, F.struct(*[F.col(c) for c in ob]).alias("__prev_ord")
        )
        newer = (
            shaped.join(prev_ord, keys, "left")
            .filter(F.col("__prev_ord").isNull() | (ordst > F.col("__prev_ord")))
            .drop("__prev_ord")
        )
        all_versions = prev.withColumn("__from_prev", F.lit(1)).unionByName(
            newer.withColumn("__from_prev", F.lit(0)), allowMissingColumns=True
        )
    else:
        all_versions = shaped.withColumn("__from_prev", F.lit(0))

    iv = scd2_intervals(
        all_versions, keys, ob, conf.ts_col, op_col=conf.op_col
    )
    # previously-open rows that STAYED open (their batch rows were all
    # late-filtered) are unchanged — everything else is new or re-closed
    return (
        iv.filter((F.col("__from_prev") == 0) | F.col("valid_to").isNotNull())
        .drop("__from_prev")
        .withColumn("__gen", F.lit(batch_id))
    )


def _history_half(
    state: LakeTable,
    history: LakeTable,
    conf: PipelineConfig,
    batch_df: DataFrame,
    batch_id: int,
    history_mode: str,
) -> tuple:
    """``(history commit result, the batch's payload schema)``, on ONE
    state snapshot: it answers the bookmark, the payload schema, the
    bucket footprint and the previous-state read. The history merge
    commits on the history snapshot its ledger check read."""
    snap = state.current_manifest()
    hist = history.current_manifest()
    skip = {"skipped": True, "batch_id": batch_id}
    history_due = batch_id > LakeTable._last_for(hist, conf.stream)
    if not history_due and batch_id <= LakeTable._last_for(snap, conf.stream):
        return skip, None  # both halves already committed
    store = BookmarkStore(
        state, conf.stream, conf.start_date, bookmarks=(snap or {}).get("bookmarks", {})
    )
    raw = incremental_filter(batch_df, conf.replication_key, store.get())
    schema = resolve_payload_schema(snap, conf, raw, state.path, batch_id)
    if not history_due:
        return skip, schema
    if conf.payload_col and not (schema and schema.fields):
        return None, schema  # nothing inferable; the state pipeline will skip too
    shaped = prepare_batch(raw, conf, schema)
    # one bounded materialization: reused by the emptiness probe, the
    # bucket-footprint collect, and the merge write
    rows = _history_rows(state, snap, conf, shaped, batch_id).localCheckpoint(eager=True)
    if rows.isEmpty():
        return None, schema
    return history.merge_upsert(
        rows,
        keys=list(conf.keys) + list(conf.order_by),
        order_by=["__gen"],
        batch_id=batch_id,
        op_col=None,
        mode=history_mode,
        writer_id=conf.stream,
        base=hist,
    ), schema


def commit_history(
    state: LakeTable,
    history: LakeTable,
    conf: PipelineConfig,
    batch_df: DataFrame,
    batch_id: int,
    history_mode: str = "mor",
) -> Optional[dict]:
    """The history half of one micro-batch (exactly-once by the history
    table's own per-stream ledger). MUST run against the PRE-batch state —
    :func:`scd2_process_batch` sequences it before the state merge."""
    return _history_half(state, history, conf, batch_df, batch_id, history_mode)[0]


def scd2_process_batch(
    state: LakeTable,
    history: LakeTable,
    conf: PipelineConfig,
    batch_df: DataFrame,
    batch_id: int,
    history_mode: str = "mor",
) -> dict:
    """One exactly-once micro-batch into BOTH tables: the SCD2 history
    commit first (it reads the pre-batch state), then the normal
    latest-state ``process_batch``. Each commit is guarded by its own
    per-stream ledger, so any crash/replay interleaving reconverges. Both
    commits flatten with the schema the history half resolved (one
    inference)."""
    if conf.result_limit is not None:
        raise ValueError("result_limit is not supported with an SCD2 companion")
    out, schema = _history_half(state, history, conf, batch_df, batch_id, history_mode)
    if schema is not None:
        conf = replace(conf, payload_schema=schema)
    return {"history": out, "state": process_batch(state, conf, batch_df, batch_id)}


def scd2_view(history: LakeTable, current_only: bool = False) -> Optional[DataFrame]:
    """The queryable SCD2 surface: LWW-resolved history (each version's
    latest emission — open rows that were later closed resolve to the
    closed emission). ``current_only`` restricts to the open, non-deleted
    row per key."""
    df = history.to_df()
    if df is None:
        return None
    df = df.drop("__gen")
    return df.filter(F.col("is_current") == 1) if current_only else df
