"""Multi-column zone maps (r4 verdict item #6): ``file_stats`` keyed
col -> [lo, hi], ``read_range(col=...)`` pruning on a non-ordering
column (the event-time window read), and the deltas soundness
degradation.

Era-disjointness on an append-mostly table comes from (bucket, slice)-
granular COW: a commit touching only new keys rewrites only its own
granules, so untouched older files keep their tight event-time bounds —
that is what the non-ordering-column prune bites on (ROUND5_NOTES §layout
has the design analysis of why full time-range bucketing is unsound for
a keyed LWW table)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.streaming.laketable import LakeTable, _stat_bounds


def _rows(spark, lo, hi, ts_off=0):
    return spark.createDataFrame(
        [(int(i), int(i), int(i + ts_off), f"v{i}") for i in range(lo, hi)],
        "id long, seq long, ts long, text string",
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=4,
                  stats_columns=["ts"])
    t.merge_upsert(_rows(spark, 0, 400), keys=["id"], order_by=["seq"],
                   batch_id=0, op_col=None)
    # append-mostly: later commits touch ONLY new keys -> granular COW
    # leaves era-0 files untouched with tight ts bounds
    t.merge_upsert(_rows(spark, 400, 420), keys=["id"], order_by=["seq"],
                   batch_id=1, op_col=None)
    return t


def test_stats_columns_harvested_and_persisted(spark, table):
    m = table.current_manifest()
    assert m["stats_columns"] == ["ts"]
    stats = m.get("file_stats", {})
    assert stats
    for entry in stats.values():
        assert set(entry) == {"seq", "ts"}
        for lohi in entry.values():
            assert lohi[0] <= lohi[1]
        assert _stat_bounds(entry, "ts") == entry["ts"]
        assert _stat_bounds(entry, "text") is None
    assert _stat_bounds({"ts": [1, 2]}, "ts") == [1, 2]
    assert _stat_bounds(None, "seq") is None
    # reopen: stats_columns is manifest-authoritative
    t2 = LakeTable(spark, table.path, num_buckets=4)
    assert t2.stats_columns == ["ts"]


def test_read_range_on_event_time_prunes_files(spark, table):
    got = {r["id"] for r in table.read_range(400, 1000, col="ts").collect()}
    assert got == set(range(400, 420))
    plan = table.last_read_plan
    assert plan["files_scanned"] < plan["files_total"], plan
    assert plan["col_ranges"] == {"ts": [400, 1000]}
    # exactness vs the brute-force filter
    brute = {r["id"] for r in table.to_df().filter(F.col("ts") >= 400).collect()}
    assert got == brute


def test_col_range_degrades_to_residual_under_deltas(spark, table):
    # a pending MOR delta re-versions id=0 with ts inside the window: a
    # file prune on ts would be UNSOUND (stale winner resurrection), so
    # to_df must scan everything and still return exact results
    table.merge_upsert(
        spark.createDataFrame([(0, 1000, 990, "new0")],
                              "id long, seq long, ts long, text string"),
        keys=["id"], order_by=["seq"], batch_id=2, op_col=None, mode="mor")
    assert table.current_manifest().get("deltas")
    got = {r["id"]: r["ts"] for r in table.read_range(400, 1000, col="ts").collect()}
    assert got[0] == 990 and set(got) == {0} | set(range(400, 420))
    plan = table.last_read_plan
    assert plan["files_scanned"] == plan["files_total"], plan


def test_unknown_col_range_refused(spark, table):
    with pytest.raises(ValueError, match="unknown column"):
        table.read_range(0, 1, col="nope").collect()


def test_stats_survive_maintenance_multicol(spark, table):
    before = {r["id"] for r in table.read_range(400, 1000, col="ts").collect()}
    table.compact()
    table.vacuum(retain_last=1)
    m = table.current_manifest()
    for entry in m.get("file_stats", {}).values():
        assert isinstance(entry, dict) and "ts" in entry
    assert {r["id"] for r in table.read_range(400, 1000, col="ts").collect()} == before


def test_stats_columns_seed_ignored_on_committed_table(spark, tmp_path):
    """The stats_columns seed only applies to a table with nothing
    committed: a handle opened with it on a table committed without stats
    columns adds none at its next commit (and harvests no zone map)."""
    path = str(tmp_path / "t")
    LakeTable(spark, path, num_buckets=4).merge_upsert(
        _rows(spark, 0, 100), keys=["id"], order_by=["seq"], batch_id=0, op_col=None
    )
    t = LakeTable(spark, path, num_buckets=4, stats_columns=["ts"])
    t.merge_upsert(_rows(spark, 100, 120), keys=["id"], order_by=["seq"],
                   batch_id=1, op_col=None)
    m = t.current_manifest()
    assert "stats_columns" not in m
    assert m["file_stats"]
    assert all("ts" not in entry for entry in m["file_stats"].values())
    assert t.stats_columns == []
