"""Incrementally-maintained SCD2 history (streaming/scd2.py).

The invariant: after N micro-batches of a key-monotone CDC stream,
``scd2_view(history)`` equals ``scd2_intervals`` computed over the FULL
concatenated stream — regardless of batch boundaries, replays, or a crash
between the history and state commits.
"""

from __future__ import annotations

import dataclasses

import pytest
from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.operators.scd import scd2_intervals
from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable
from tap_rest_api_msdk_spark.streaming.pipeline import PipelineConfig, prepare_batch
from tap_rest_api_msdk_spark.streaming.scd2 import (
    commit_history,
    scd2_process_batch,
    scd2_view,
)

N = 3000
BATCHES = 5

CMP = ["repo", "path", "seq", "commit", "op", "valid_from", "valid_to", "is_current"]


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("scd2wal"))
    synth_repo_wal(spark, N, n_repos=6, n_paths=25, partitions=4).write.mode(
        "overwrite"
    ).parquet(d)
    wal_df = spark.read.parquet(d)
    payload_schema = spark.read.json(
        wal_df.limit(100).select("payload").rdd.map(lambda r: r[0])
    ).schema
    return wal_df, payload_schema


def mkconf(payload_schema):
    return PipelineConfig(
        stream="repo_wal", payload_col="payload", payload_schema=payload_schema,
        num_buckets=8,
    )


def batch_bounds(i):
    per = N // BATCHES
    return i * per, N if i == BATCHES - 1 else (i + 1) * per


def oracle_rows(wal_df, payload_schema):
    """scd2_intervals over the full shaped stream — the batch-side truth."""
    conf = mkconf(payload_schema)
    shaped = prepare_batch(wal_df, conf, payload_schema)
    iv = scd2_intervals(shaped, ["repo", "path"], ["seq", "commit"], "ts", op_col="op")
    return sorted(tuple(r) for r in iv.select(*CMP).collect())


def run_stream(spark, wal_df, payload_schema, tmp_path, crash_mid=False,
               rebucket_state_at=None):
    state = LakeTable(spark, str(tmp_path / "state"), num_buckets=8)
    hist = LakeTable(spark, str(tmp_path / "hist"), num_buckets=8)
    conf = mkconf(payload_schema)
    for i in range(BATCHES):
        lo, hi = batch_bounds(i)
        b = wal_df.filter((F.col("seq") >= lo) & (F.col("seq") < hi))
        if crash_mid and i == 2:
            # crash AFTER the history commit, BEFORE the state commit —
            # then the whole batch replays (foreachBatch redelivery)
            commit_history(state, hist, conf, b, i + 1)
        if i == rebucket_state_at:
            # another handle changes the state table's bucket count
            # between two batches made through ``state``
            LakeTable(spark, state.path).rebucket(32)
        scd2_process_batch(state, hist, conf, b, i + 1)
    return state, hist, conf


@pytest.fixture(scope="module")
def built(spark, wal, tmp_path_factory):
    wal_df, schema = wal
    d = tmp_path_factory.mktemp("scd2run")
    return run_stream(spark, wal_df, schema, d)


def test_incremental_history_matches_full_rebuild(spark, wal, built):
    wal_df, schema = wal
    state, hist, conf = built
    got = sorted(
        tuple(r) for r in scd2_view(hist).select(*CMP).collect()
    )
    assert got == oracle_rows(wal_df, schema)


def test_crash_between_commits_reconverges(spark, wal, tmp_path):
    wal_df, schema = wal
    state, hist, conf = run_stream(spark, wal_df, schema, tmp_path, crash_mid=True)
    got = sorted(tuple(r) for r in scd2_view(hist).select(*CMP).collect())
    assert got == oracle_rows(wal_df, schema)


def test_rebucket_by_another_handle_keeps_history_exact(spark, wal, tmp_path):
    """The history half buckets the batch and reads the previous state on
    the state snapshot it planned on: after another handle rebuckets the
    state table, every key still has one current row and the history
    equals the full rebuild."""
    wal_df, schema = wal
    state, hist, conf = run_stream(spark, wal_df, schema, tmp_path, rebucket_state_at=2)
    assert state.num_buckets == 32
    got = sorted(tuple(r) for r in scd2_view(hist).select(*CMP).collect())
    current = scd2_view(hist, current_only=True).groupBy("repo", "path").count()
    assert current.filter(F.col("count") > 1).count() == 0
    assert got == oracle_rows(wal_df, schema)


def test_batch_replay_is_noop(spark, wal, built):
    wal_df, schema = wal
    state, hist, conf = built
    before = sorted(tuple(r) for r in scd2_view(hist).select(*CMP).collect())
    v_before = hist.current_manifest()["version"]
    lo, hi = batch_bounds(3)
    b = wal_df.filter((F.col("seq") >= lo) & (F.col("seq") < hi))
    out = scd2_process_batch(state, hist, conf, b, 4)  # already committed
    assert out["history"].get("skipped") and out["state"].get("skipped")
    assert hist.current_manifest()["version"] == v_before
    after = sorted(tuple(r) for r in scd2_view(hist).select(*CMP).collect())
    assert after == before


def test_current_slice_matches_state_table(spark, wal, built):
    """is_current=1 in the view == the state table's live rows (tombstoned
    keys appear in history but have no current row)."""
    wal_df, schema = wal
    state, hist, conf = built
    cur = scd2_view(hist, current_only=True).select("repo", "path", "seq")
    live = state.to_df(drop_deletes=True).select("repo", "path", "seq")
    assert sorted(map(tuple, cur.collect())) == sorted(map(tuple, live.collect()))


def test_late_version_leaves_history_untouched(spark, wal, built):
    """A version below its key's current order is ignored by the state
    LWW — and therefore by the history (the documented contract). Uses a
    fresh stream name so the bookmark filter can't mask the window-level
    late filter: the stale rows REACH the interval logic and are dropped
    there (no row of the batch is newer than its key's current version)."""
    wal_df, schema = wal
    state, hist, conf = built
    before = sorted(tuple(r) for r in scd2_view(hist).select(*CMP).collect())
    v_before = hist.current_manifest()["version"]
    # empty bookmark, empty ledger
    stale_conf = dataclasses.replace(mkconf(schema), stream="stale_replayer")
    lo, hi = batch_bounds(0)
    b = wal_df.filter((F.col("seq") >= lo) & (F.col("seq") < hi))
    out = commit_history(state, hist, stale_conf, b, 1)
    assert out is None  # every version was late -> no history delta
    assert hist.current_manifest()["version"] == v_before
    after = sorted(tuple(r) for r in scd2_view(hist).select(*CMP).collect())
    assert after == before


def test_field_first_seen_in_batch_2_reaches_history(spark, tmp_path):
    """A payload field first seen in batch 2 lands in the history table on
    every batch-2 version, as in the state table: the batch's schema is
    resolved once and both commits flatten with it."""
    import datetime as dt
    import json

    from pyspark.sql import types as T

    from tap_rest_api_msdk_spark.session import arrow_frame

    schema = T.StructType([
        T.StructField("repo", T.StringType()), T.StructField("path", T.StringType()),
        T.StructField("seq", T.LongType()), T.StructField("commit", T.StringType()),
        T.StructField("op", T.StringType()), T.StructField("ts", T.TimestampType()),
        T.StructField("payload", T.StringType()),
    ])
    t0 = dt.datetime(2024, 1, 1)
    # batch 2 updates batch 1's 50 keys, and only its payloads carry x
    wal = arrow_frame(spark, [
        ("r", f"p{i % 50}", i, f"c{i}", "upsert", t0 + dt.timedelta(seconds=i),
         json.dumps({"a": i, **({"x": f"x{i}"} if i >= 50 else {})}))
        for i in range(100)
    ], schema)
    state = LakeTable(spark, str(tmp_path / "state"), num_buckets=4)
    hist = LakeTable(spark, str(tmp_path / "hist"), num_buckets=4)
    conf = PipelineConfig(stream="s", payload_col="payload", num_buckets=4)
    for i in range(2):
        b = wal.filter((F.col("seq") >= 50 * i) & (F.col("seq") < 50 * (i + 1)))
        scd2_process_batch(state, hist, conf, b, i)
    live = state.to_df()
    assert live.filter(F.col("x").isNotNull()).count() == 50
    versions = scd2_view(hist)
    assert versions.filter((F.col("seq") >= 50) & F.col("x").isNotNull()).count() == 50
    current = scd2_view(hist, current_only=True).select("path", "seq", "x")
    assert sorted(current.collect()) == sorted(live.select("path", "seq", "x").collect())
