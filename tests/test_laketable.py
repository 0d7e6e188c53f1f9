"""LakeTable: atomic manifest commit, idempotent batch ids, LWW merge,
tombstone persistence, additive schema evolution (SURVEY §4.1-4.2, M4/M6).
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.session import arrow_frame
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

SCHEMA = "seq long, repo string, path string, commit string, op string, content string"


def mk(spark, rows):
    return arrow_frame(spark, rows, T.StructType.fromDDL(SCHEMA))


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)


KEYS = ["repo", "path"]
ORDER = ["seq", "commit"]


def test_basic_merge_and_read(spark, table):
    b0 = mk(spark, [(1, "r1", "a", "c1", "upsert", "v1"), (2, "r1", "b", "c2", "upsert", "v2")])
    stats = table.merge_upsert(b0, KEYS, ORDER, batch_id=0, op_col="op")
    assert not stats["skipped"]
    got = {(r.repo, r.path): r.content for r in table.to_df().collect()}
    assert got == {("r1", "a"): "v1", ("r1", "b"): "v2"}


def test_lww_across_batches_and_within(spark, table):
    table.merge_upsert(
        mk(spark, [(1, "r1", "a", "c1", "upsert", "old"), (3, "r1", "a", "c3", "upsert", "mid")]),
        KEYS, ORDER, batch_id=0, op_col="op",
    )
    # batch 1: a lower-seq event must NOT overwrite; a higher-seq must
    table.merge_upsert(
        mk(spark, [(2, "r1", "a", "c2", "upsert", "stale"), (5, "r1", "b", "c5", "upsert", "new")]),
        KEYS, ORDER, batch_id=1, op_col="op",
    )
    got = {(r.repo, r.path): (r.seq, r.content) for r in table.to_df().collect()}
    assert got[("r1", "a")] == (3, "mid")
    assert got[("r1", "b")] == (5, "new")


def test_idempotent_batch_id_replay(spark, table):
    b = mk(spark, [(1, "r1", "a", "c1", "upsert", "v1")])
    table.merge_upsert(b, KEYS, ORDER, batch_id=7, op_col="op")
    v1 = table.current_manifest()["version"]
    # replaying the same or an older batch id must be a metadata no-op
    s2 = table.merge_upsert(
        mk(spark, [(99, "r1", "a", "c9", "upsert", "SHOULD_NOT_APPEAR")]),
        KEYS, ORDER, batch_id=7, op_col="op",
    )
    s3 = table.merge_upsert(b, KEYS, ORDER, batch_id=3, op_col="op")
    assert s2["skipped"] and s3["skipped"]
    assert table.current_manifest()["version"] == v1
    assert table.to_df().collect()[0].content == "v1"


def test_delete_tombstone_blocks_late_resurrection(spark, table):
    table.merge_upsert(
        mk(spark, [(1, "r1", "a", "c1", "upsert", "v1")]), KEYS, ORDER, 0, op_col="op"
    )
    table.merge_upsert(
        mk(spark, [(9, "r1", "a", "c9", "delete", None)]), KEYS, ORDER, 1, op_col="op"
    )
    assert table.to_df().count() == 0
    # late, lower-seq upsert in a LATER batch: tombstone must win
    table.merge_upsert(
        mk(spark, [(5, "r1", "a", "c5", "upsert", "late")]), KEYS, ORDER, 2, op_col="op"
    )
    assert table.to_df().count() == 0
    # a genuinely newer upsert resurrects the key
    table.merge_upsert(
        mk(spark, [(12, "r1", "a", "c12", "upsert", "back")]), KEYS, ORDER, 3, op_col="op"
    )
    assert [r.content for r in table.to_df().collect()] == ["back"]


def test_copy_on_write_only_touched_buckets(spark, table):
    rows = [(i, f"r{i}", f"p{i}", f"c{i}", "upsert", f"v{i}") for i in range(20)]
    table.merge_upsert(mk(spark, rows), KEYS, ORDER, 0, op_col="op")
    m0 = table.current_manifest()
    # second batch touches exactly one key -> at most one bucket rewritten
    table.merge_upsert(
        mk(spark, [(100, "r1", "p1", "cx", "upsert", "v1b")]), KEYS, ORDER, 1, op_col="op"
    )
    m1 = table.current_manifest()
    changed = [b for b in m1["files"] if m1["files"][b] != m0["files"].get(b)]
    assert len(changed) == 1
    got = {(r.repo, r.path): r.content for r in table.to_df().collect()}
    assert got[("r1", "p1")] == "v1b" and got[("r2", "p2")] == "v2"


def test_schema_evolution_additive_and_widening(spark, table):
    table.merge_upsert(
        mk(spark, [(1, "r1", "a", "c1", "upsert", "v1")]), KEYS, ORDER, 0, op_col="op"
    )
    evolved = arrow_frame(
        spark, [(2, "r2", "b", "c2", "upsert", "v2", 42, 1.5)],
        T.StructType.fromDDL(SCHEMA + ", stars long, size double"),
    )
    table.merge_upsert(evolved, KEYS, ORDER, 1, op_col="op")
    df = table.to_df()
    assert "stars" in df.columns and "size" in df.columns
    rows = {r.repo: r for r in df.collect()}
    assert rows["r1"].stars is None  # old rows backfilled with null
    assert rows["r2"].stars == 42
    # widening: a later long batch for 'size' keeps double (never narrow)
    again = arrow_frame(
        spark, [(3, "r3", "c", "c3", "upsert", "v3", 1, 7)],
        T.StructType.fromDDL(SCHEMA + ", stars long, size long"),
    )
    table.merge_upsert(again, KEYS, ORDER, 2, op_col="op")
    assert dict(table.to_df().dtypes)["size"] == "double"


def test_atomic_pointer_readers_never_see_partial(spark, table, tmp_path):
    table.merge_upsert(
        mk(spark, [(1, "r1", "a", "c1", "upsert", "v1")]), KEYS, ORDER, 0, op_col="op"
    )
    m = table.current_manifest()
    # pointer file is valid JSON at all times (atomic rename, no in-place write)
    assert m["batch_id"] == 0 and m["version"] == 0
    # a second table handle (fresh "reader") sees the committed snapshot
    reader = LakeTable(spark, table.path, num_buckets=4)
    assert reader.to_df().count() == 1


def test_mm3_hash_matches_spark(spark):
    """bucket_to_partition must agree with Spark's HashPartitioning."""
    from pyspark.sql import functions as F

    from tap_rest_api_msdk_spark.streaming.laketable import (
        bucket_to_partition,
        mm3_hash_int,
    )

    df = spark.range(64).select(F.col("id").cast("int").alias("b"))
    got = {r.b: r.h for r in df.select("b", F.hash("b").alias("h")).collect()}
    for b in range(64):
        assert mm3_hash_int(b) == got[b], b
    # partition assignment parity under an actual repartition
    rep = df.repartition(16, "b").select("b", F.spark_partition_id().alias("p"))
    for r in rep.collect():
        assert bucket_to_partition(r.b, 16) == r.p, r


def test_reopen_with_mismatched_num_buckets_is_safe(spark, tmp_path):
    """Bucket count is a table property: a handle opened with a different
    constructor value must adopt the manifest's committed count."""
    from tap_rest_api_msdk_spark.streaming.pipeline import PipelineConfig, process_batch

    t1 = LakeTable(spark, str(tmp_path / "nb"), num_buckets=4)
    t1.merge_upsert(
        mk(spark, [(i, f"r{i}", "p", f"c{i}", "upsert", f"v{i}") for i in range(10)]),
        KEYS, ORDER, 0, op_col="op",
    )
    # reopen claiming 16 buckets: manifest's 4 must win
    t2 = LakeTable(spark, str(tmp_path / "nb"), num_buckets=16)
    assert t2.num_buckets == 4
    conf = PipelineConfig(stream="nb", payload_col=None, num_buckets=16, op_col="op")
    batch = mk(spark, [(100, "r1", "p", "cx", "upsert", "v1b")])
    process_batch(t2, conf, batch, 1)
    got = {(r.repo, r.path): r.content for r in t2.to_df().collect()}
    assert got[("r1", "p")] == "v1b" and len(got) == 10
    # bucket-pruned read still routes correctly after the update
    assert t2.to_df().count() == 10


def test_register_view_enables_sql(spark, tmp_path):
    from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    df = arrow_frame(
        spark, [(1, 10, "a"), (2, 20, "b"), (1, 30, "c")],
        T.StructType.fromDDL("k long, seq long, v string"),
    )
    t.merge_upsert(df, keys=["k"], order_by=["seq"], batch_id=0)
    t.register_view("lake_t")
    got = {r.k: r.v for r in spark.sql("select k, v from lake_t order by k").collect()}
    assert got == {1: "c", 2: "b"}  # LWW state through plain SQL


def test_vacuum_retention_preserves_time_travel(spark, tmp_path):
    from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    for i in range(3):
        df = arrow_frame(spark, [(k, 100 * i + k, f"v{i}") for k in range(10)],
                         T.StructType.fromDDL("k long, seq long, v string"))
        t.merge_upsert(df, keys=["k"], order_by=["seq"], batch_id=i)
    cur = t.current_manifest()["version"]
    # retain the last 2 snapshots: the previous version must stay readable
    t.vacuum(retain_last=2)
    prev = t.to_df(version=cur - 1)
    assert {r.v for r in prev.collect()} == {"v1"}
    assert {r.v for r in t.to_df().collect()} == {"v2"}
    # default retention (current only) then reclaims the older snapshot
    removed = t.vacuum()
    assert removed >= 0
    assert {r.v for r in t.to_df().collect()} == {"v2"}


def test_vacuum_reclaims_dead_epoch_dirs(spark, tmp_path):
    """r6: vacuum must remove the checksum sidecars of reclaimed parquets
    and the now-dead epoch dirs (_SUCCESS/.crc residue otherwise pins one
    dir per commit FOREVER — unbounded at steady-state commit rates).
    Live files keep their sidecars; the current snapshot stays intact."""
    import os

    from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    for i in range(4):
        df = arrow_frame(
            spark, [(k, 100 * i + k, f"v{i}") for k in range(10)],
            T.StructType.fromDDL("k long, seq long, v string"),
        )
        t.merge_upsert(df, keys=["k"], order_by=["seq"], batch_id=i)
    data = str(tmp_path / "t" / "data")
    assert len(os.listdir(data)) == 4
    t.vacuum()
    dirs = os.listdir(data)
    # only the current snapshot's epoch dir(s) survive, with no orphaned
    # sidecars inside any surviving dir
    live = {
        f
        for fl in t.current_manifest()["files"].values()
        for f in fl
    }
    live_dirs = {os.path.basename(os.path.dirname(f)) for f in live}
    assert set(dirs) == live_dirs
    for ed in dirs:
        names = set(os.listdir(os.path.join(data, ed)))
        for n in names:
            if n.startswith(".") and n.endswith(".crc"):
                assert n[1:-4] in names  # sidecar's parquet still present
    assert {r.v for r in t.to_df().collect()} == {"v3"}


def test_compact_key_index_reharvests_blooms(spark, tmp_path):
    from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

    t = LakeTable(spark, str(tmp_path / "cb"), num_buckets=2, key_index=True)
    df = arrow_frame(
        spark, [(k, k, "up", f"v{k}") for k in range(50)],
        T.StructType.fromDDL("k long, seq long, op string, v string"),
    )
    t.merge_upsert(df, keys=["k"], order_by=["seq"], batch_id=0, op_col="op")
    assert t.current_manifest().get("key_blooms")
    v = t.current_manifest()["version"]
    # a handle opened without the seed still harvests: the property is
    # the snapshot's
    LakeTable(spark, t.path, num_buckets=2).compact()
    m = t.current_manifest()
    assert m["version"] > v and m["key_index"] is True
    assert set(m["key_blooms"]) == set(m["file_owners"])
    assert t.lookup({"k": 7}).count() == 1
    assert t.last_lookup_stats["candidate_files"] <= 2
    assert t.lookup({"k": 9999}).count() == 0
