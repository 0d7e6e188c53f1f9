"""rebucket: online bucket-count evolution as a maintenance commit —
state-preserving, CDC-invisible, and safe against in-flight writers
computed under the old count (the bucket-drift rebase guard).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.session import arrow_frame
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable, head_version

SCHEMA = "seq long, id long, op string, val string"


def mk(spark, rows):
    return arrow_frame(spark, rows, T.StructType.fromDDL(SCHEMA))


def up(t, rows, bid, **kw):
    return t.merge_upsert(
        mk(t.spark, rows), keys=["id"], order_by=["seq"], batch_id=bid,
        op_col="op", **kw
    )


def state(t):
    return sorted(
        (r["id"], r["seq"], r["val"])
        for r in t.to_df(drop_deletes=True).collect()
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    up(t, [(i, i % 60, "up", f"v{i}") for i in range(200)], 0)
    up(t, [(200, 7, "delete", None), (201, 61, "up", "new")], 1, mode="mor")
    return t


def test_rebucket_preserves_state_and_history(spark, table):
    before = state(table)
    v_old = head_version(table.path)
    stats = table.rebucket(16)
    assert not stats["skipped"] and stats["num_buckets"] == 16
    assert table.num_buckets == 16
    assert state(table) == before
    # tombstones survive the rewrite (a late lower-seq upsert still loses)
    up(table, [(5, 7, "up", "stale")], 2)
    assert 7 not in {i for i, _, _ in state(table)}
    # old-version time travel reads the OLD layout exactly
    old = sorted(
        (r["id"], r["seq"], r["val"])
        for r in table.to_df(drop_deletes=True, version=v_old).collect()
    )
    assert old == before
    # growing again and shrinking both keep state
    table.rebucket(8)
    assert state(table) == [s for s in before if s[0] != 7]


def test_rebucket_is_cdc_invisible_maintenance(spark, table):
    v0 = head_version(table.path)
    table.rebucket(16)
    v1 = head_version(table.path)
    # no phantom events: the full rewrite is ledger-neutral
    assert table.cdc_diff(v0, v1).count() == 0
    ch = table.changes_since(v0)
    assert ch is None or ch.count() == 0
    # diffs SPANNING the boundary see exactly the real changes
    up(table, [(300, 99, "up", "after")], 2)
    d = {(r["id"], r["change"]) for r in table.cdc_diff(v0).collect()}
    assert d == {(99, "insert")}


def test_stale_instance_writes_land_in_new_space(spark, table):
    # a second handle opened under the OLD count...
    t2 = LakeTable(spark, table.path, num_buckets=4)
    assert t2.num_buckets == 4
    table.rebucket(16)
    # ...must re-sync mid-flight on its NEXT merge, not corrupt the layout
    up(t2, [(300, 1000, "up", "fresh"), (301, 5, "up", "v5-new")], 2)
    assert t2.num_buckets == 16
    live = {r["id"]: r["val"] for r in table.to_df(drop_deletes=True).collect()}
    assert live[1000] == "fresh" and live[5] == "v5-new"
    # point lookup routes by the NEW count and finds the key
    row = table.lookup({"id": 1000}).collect()
    assert len(row) == 1 and row[0]["val"] == "fresh"


def test_mor_rebase_guard_recomputes_after_racing_rebucket(spark, tmp_path):
    t1 = LakeTable(spark, str(tmp_path / "race"), num_buckets=4)
    up(t1, [(i, i, "up", f"v{i}") for i in range(50)], 0)
    t2 = LakeTable(spark, t1.path, num_buckets=4)

    real_publish = t2._publish
    fired = {"n": 0}

    def racing_publish(manifest):
        if fired["n"] == 0:
            fired["n"] = 1
            t1.rebucket(16)  # wins the version our MOR append wanted
        return real_publish(manifest)

    t2._publish = racing_publish
    up(t2, [(100, 7, "up", "raced"), (101, 200, "up", "new")], 1, mode="mor")
    t2._publish = real_publish
    # the delta recomputed under the new count: state exact, no dup keys
    live = t1.to_df(drop_deletes=True)
    assert live.filter("id = 7").count() == 1
    assert {r["val"] for r in live.filter("id = 7").collect()} == {"raced"}
    assert live.count() == 51
    assert t1.lookup({"id": 200}).count() == 1
    # ... and the layout is uniformly the new space: compaction + reads agree
    t1.compact()
    assert t1.to_df(drop_deletes=True).count() == 51


def test_rebucket_validation(spark, table):
    with pytest.raises(ValueError, match=">= 1"):
        table.rebucket(0)
    assert table.rebucket(4)["skipped"]  # already at 4
    t_empty = LakeTable(spark, table.path + "-empty", num_buckets=4)
    with pytest.raises(ValueError, match="empty table"):
        t_empty.rebucket(8)


def test_cow_rebase_guard_recomputes_after_racing_rebucket(spark, tmp_path):
    """COW's bucket-conflict checks can pass VACUOUSLY (a commit that
    consumed nothing conflicts with no file set) — the explicit
    num_buckets drift guard must force the recompute instead."""
    t1 = LakeTable(spark, str(tmp_path / "cowrace"), num_buckets=4)
    up(t1, [(i, i, "up", f"v{i}") for i in range(50)], 0)
    t2 = LakeTable(spark, t1.path, num_buckets=4)

    real_publish = t2._publish
    fired = {"n": 0}

    def racing_publish(manifest):
        if fired["n"] == 0:
            fired["n"] = 1
            t1.rebucket(16)
        return real_publish(manifest)

    t2._publish = racing_publish
    up(t2, [(100, 7, "up", "raced"), (101, 300, "up", "new")], 1)  # plain COW
    t2._publish = real_publish
    # the commit recomputed under the new count: nothing reverted, no dups
    m = t1.current_manifest()
    assert int(m["num_buckets"]) == 16
    live = t1.to_df(drop_deletes=True)
    assert live.count() == 51
    assert {r["val"] for r in live.filter("id = 7").collect()} == {"raced"}
    assert t1.lookup({"id": 300}).count() == 1
    t1.compact()
    assert t1.to_df(drop_deletes=True).count() == 51


def test_rebucket_key_index_reharvests_blooms(spark, tmp_path):
    # a key_index table keeps a bloom on every file the rewrite writes
    table = LakeTable(spark, str(tmp_path / "keyed"), num_buckets=4, key_index=True)
    up(table, [(i, i % 60, "up", f"v{i}") for i in range(200)], 0)
    up(table, [(200, 7, "delete", None), (201, 61, "up", "new")], 1, mode="mor")
    table.rebucket(16)
    m = table.current_manifest()
    assert set(m["key_blooms"]) == set(m["file_owners"])
    rows = table.lookup({"id": 3}).collect()
    assert len(rows) == 1
    st = table.last_lookup_stats
    assert st["candidate_files"] <= 2  # blooms prune, not just bucket claims
    # absent key: blooms typically prune to zero files
    assert table.lookup({"id": 10_000}).count() == 0
