"""Merge shuffle width decoupled from num_buckets: a bucket's rows may
split across files_per_bucket key-salted files, recorded per-commit in the
manifest; reads (full, pruned, MOR-resolved, compacted) stay exact."""

from __future__ import annotations

from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.operators.dedup import lww_dedup
from tap_rest_api_msdk_spark.streaming.laketable import (
    LakeTable,
    bucket_salt_to_partition,
    mm3_hash_int,
)


def _mk(spark, n, seq0=0):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") + seq0).alias("seq"),
        (F.col("id") % 7).cast("string").alias("v"),
    )


def test_two_col_partition_assignment_matches_spark(spark):
    rows = [(b, s) for b in range(8) for s in range(4)]
    df = spark.createDataFrame(rows, "b int, s int")
    got = {(r.b, r.s): r.h for r in df.select("b", "s", F.hash("b", "s").alias("h")).collect()}
    for b, s in rows:
        assert mm3_hash_int(s, mm3_hash_int(b, 42)) == got[(b, s)]
    k = 13
    rep = df.repartition(k, "b", "s").withColumn("p", F.spark_partition_id())
    for r in rep.collect():
        assert r.p == bucket_salt_to_partition(r.b, r.s, k)


def test_multi_file_buckets_roundtrip(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=2, files_per_bucket=4)
    b0 = _mk(spark, 500)
    t.merge_upsert(b0, keys=["k"], order_by=["seq"], batch_id=0)
    m = t.current_manifest()
    assert any(len(fl) > 1 for fl in m["files"].values()), "buckets should span files"
    # full read equals LWW of the input
    got = sorted((r.k, r.seq, r.v) for r in t.to_df().collect())
    want = sorted((r.k, r.seq, r.v) for r in lww_dedup(b0, ["k"], ["seq"]).collect())
    assert got == want
    # bucket-pruned read returns exactly that bucket's rows
    for b in (0, 1):
        rows = t.read_state(buckets=[b]).collect()
        assert rows and all(r["__bucket"] == b for r in rows)
    assert sum(t.read_state(buckets=[b]).count() for b in (0, 1)) == 500


def test_multi_file_merge_into_existing(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=2, files_per_bucket=3)
    t.merge_upsert(_mk(spark, 300), keys=["k"], order_by=["seq"], batch_id=0)
    # update a subset with higher seq values
    upd = _mk(spark, 50, seq0=1000)
    t.merge_upsert(upd, keys=["k"], order_by=["seq"], batch_id=1)
    out = {r.k: r.seq for r in t.to_df().collect()}
    assert len(out) == 300
    assert all(out[k] == k + 1000 for k in range(50))
    assert all(out[k] == k for k in range(50, 300))


def test_multi_file_mor_and_compact(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=2, files_per_bucket=3)
    t.merge_upsert(_mk(spark, 200), keys=["k"], order_by=["seq"], batch_id=0)
    t.merge_upsert(_mk(spark, 80, seq0=500), keys=["k"], order_by=["seq"], batch_id=1, mode="mor")
    out = {r.k: r.seq for r in t.to_df().collect()}
    assert len(out) == 200 and out[0] == 500 and out[199] == 199
    stats = t.compact()
    assert not stats.get("skipped")
    out2 = {r.k: r.seq for r in t.to_df().collect()}
    assert out2 == out
    removed = t.vacuum()
    assert removed >= 0
    assert {r.k: r.seq for r in t.to_df().collect()} == out


def test_auto_width_scales_with_cores(spark, tmp_path):
    """Auto mode: few affected buckets on many cores -> S > 1."""
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)  # auto fpb
    assert t._fpb(2) > 1  # 8 test cores / 2 buckets -> 4 slices
    assert t._fpb(1000) == 1  # plenty of buckets already
