"""delete_where: predicate deletes (GDPR / retention-expiry) routed
through the exactly-once merge path — tombstones that survive replay,
flow through cdc_diff, and lose to genuinely-later concurrent upserts.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.session import arrow_frame
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable, head_version

SCHEMA = "seq long, repo string, path string, commit string, op string, content string"
KEYS = ["repo", "path"]
ORDER = ["seq", "commit"]


def mk(spark, rows):
    return arrow_frame(spark, rows, T.StructType.fromDDL(SCHEMA))


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    t.merge_upsert(
        mk(
            spark,
            [
                (1, "r1", "a", "c1", "upsert", "keepme"),
                (2, "r1", "b", "c2", "upsert", "purge-x"),
                (3, "r2", "a", "c3", "upsert", "purge-y"),
                (4, "r2", "b", "c4", "upsert", "keepme2"),
            ],
        ),
        KEYS,
        ORDER,
        batch_id=0,
        op_col="op",
    )
    return t


def live_paths(t):
    return sorted(
        (r["repo"], r["path"]) for r in t.to_df(drop_deletes=True).collect()
    )


def test_predicate_delete_removes_matches_and_persists_tombstones(spark, table):
    stats = table.delete_where(F.col("content").startswith("purge"), batch_id=1)
    assert stats["n_deleted"] == 2 and not stats["skipped"]
    assert live_paths(table) == [("r1", "a"), ("r2", "b")]
    # tombstones are PERSISTED rows, not absences
    tombs = (
        table.to_df(drop_deletes=False)
        .filter(F.col("op") == "delete")
        .collect()
    )
    assert sorted((r["repo"], r["path"]) for r in tombs) == [
        ("r1", "b"),
        ("r2", "a"),
    ]
    # the minted seq strictly beats the victim's
    assert {r["seq"] for r in tombs} == {3, 4}


def test_replayed_batch_id_is_noop_and_late_lower_seq_cannot_resurrect(
    spark, table
):
    table.delete_where("content like 'purge%'", batch_id=1)
    v = head_version(table.path)
    # exactly-once: same (writer, batch_id) replays as a no-op commit-wise
    stats = table.delete_where("content like 'purge%'", batch_id=1)
    assert stats["skipped"] or head_version(table.path) == v
    # a replayed LOWER-seq upsert of a deleted key loses to the tombstone
    table.merge_upsert(
        mk(spark, [(2, "r1", "b", "c2", "upsert", "purge-x")]),
        KEYS,
        ORDER,
        batch_id=2,
        op_col="op",
    )
    assert ("r1", "b") not in live_paths(table)
    # but a genuinely LATER upsert resurrects it (tombstone seq was 3)
    table.merge_upsert(
        mk(spark, [(9, "r1", "b", "c9", "upsert", "back")]),
        KEYS,
        ORDER,
        batch_id=3,
        op_col="op",
    )
    assert ("r1", "b") in live_paths(table)


def test_delete_flows_through_cdc_diff_as_delete_events(spark, table):
    v0 = head_version(table.path)
    table.delete_where("repo = 'r2'", batch_id=1)
    d = table.cdc_diff(v0, head_version(table.path))
    ops = {(r["repo"], r["path"]): r["change"] for r in d.collect()}
    assert ops == {("r2", "a"): "delete", ("r2", "b"): "delete"}


def test_empty_match_skips_commit_without_burning_ledger(spark, table):
    v = head_version(table.path)
    stats = table.delete_where("content = 'nope'", batch_id=1)
    assert stats["skipped"] and stats["n_deleted"] == 0
    assert head_version(table.path) == v
    # the SAME batch_id still usable for a real delete afterwards
    stats = table.delete_where("repo = 'r1'", batch_id=1)
    assert stats["n_deleted"] == 2


def test_mor_mode_delete_resolves_identically(spark, table):
    table.delete_where("repo = 'r1'", batch_id=1, mode="mor")
    assert live_paths(table) == [("r2", "a"), ("r2", "b")]
    table.compact()
    assert live_paths(table) == [("r2", "a"), ("r2", "b")]


def test_requires_op_col_and_integral_seq(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "noop"), num_buckets=2)
    t.merge_upsert(
        arrow_frame(
            spark, [(1, "k", "v")], T.StructType.fromDDL("seq long, k string, v string")
        ),
        ["k"],
        ["seq"],
        batch_id=0,
    )
    with pytest.raises(ValueError, match="op_col"):
        t.delete_where("v = 'v'", batch_id=1)

    t2 = LakeTable(spark, str(tmp_path / "strseq"), num_buckets=2)
    t2.merge_upsert(
        arrow_frame(
            spark, [("2024-01-01", "k", "up", "v")],
            T.StructType.fromDDL("ts string, k string, op string, v string"),
        ),
        ["k"],
        ["ts"],
        batch_id=0,
        op_col="op",
    )
    with pytest.raises(ValueError, match="integral"):
        t2.delete_where("v = 'v'", batch_id=1)


def test_delete_keys_prunes_and_deletes(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "pk"), num_buckets=8, key_index=True)
    rows = [(i, f"r{i % 50}", f"p{i}", f"c{i}", "upsert", f"v{i}") for i in range(400)]
    df = arrow_frame(spark, rows, T.StructType.fromDDL(SCHEMA))
    # several batches so each bucket holds several bloom-indexed files
    for b in range(4):
        t.merge_upsert(
            df.filter(F.col("seq") % 4 == b),
            KEYS,
            ORDER,
            batch_id=b,
            op_col="op",
            mode="mor",
        )
    stats = t.delete_keys(
        [{"repo": "r7", "path": "p7"}, {"repo": "r7", "path": "p107"}],
        batch_id=10,
    )
    assert stats["n_deleted"] == 2
    funnel = t.last_delete_stats
    # bloom + slice pruning must beat "read the touched buckets whole"
    assert funnel["candidate_files"] < funnel["bucket_files"], funnel
    assert funnel["sections_loaded"] == funnel["buckets_touched"] <= 2
    live = t.to_df(drop_deletes=True)
    assert live.filter("path in ('p7', 'p107')").count() == 0
    assert live.count() == 398

    # absent keys: zero candidates, commit skipped, ledger slot intact
    stats = t.delete_keys([{"repo": "zz", "path": "zz"}], batch_id=11)
    assert stats["skipped"] and stats["n_deleted"] == 0
    assert t.last_delete_stats["candidate_files"] == 0
    # replay of the real delete is a no-op
    v = head_version(t.path)
    assert t.delete_keys([{"repo": "r7", "path": "p7"}], batch_id=10)["skipped"]
    assert head_version(t.path) == v


def test_delete_keys_validates_key_shape(spark, table):
    with pytest.raises(ValueError, match="exactly the merge keys"):
        table.delete_keys([{"repo": "r1"}], batch_id=5)
