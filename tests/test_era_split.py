"""Range-clustered rewrite layout (r4 verdict lead #7): with
``era_split > 1``, full and binpack compaction split each (bucket, slice)
granule's output into era-disjoint files keyed by the LWW ordering
column's value range — so read_since/read_range zone maps keep pruning
AFTER maintenance merges history. Claims stay (bucket, slice64); a
granule just owns several files (the format's existing collision case)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.session import arrow_frame
from tap_rest_api_msdk_spark.streaming.laketable import (
    LakeTable,
    bucket_salt_era_to_partition,
    key_hash,
    mm3_hash_int,
)


def _rows(spark, lo, hi):
    # append-mostly: each batch writes NEW ids, so live winners span the
    # full seq range — the workload whose history era-splitting serves
    return arrow_frame(
        spark, [(int(i), int(i), f"v{i}") for i in range(lo, hi)],
        T.StructType.fromDDL("id long, seq long, text string"),
    )


def _snap(t):
    return {(r["id"]): r["seq"] for r in t.to_df().collect()}


@pytest.fixture()
def history(spark, tmp_path):
    """A MOR table with several era-spanning commits (deltas pending)."""
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    for i, (lo, hi) in enumerate([(0, 500), (500, 1000), (1000, 1500), (1500, 2000)]):
        t.merge_upsert(_rows(spark, lo, hi), keys=["id"], order_by=["seq"],
                       batch_id=i, mode="mor" if i else "cow")
    return t


def test_three_col_partition_fn_matches_spark(spark):
    """bucket_salt_era_to_partition must mirror HashPartitioning over
    three int columns exactly (the claims derivation depends on it)."""
    k = 48
    df = arrow_frame(
        spark, [(b, s, e) for b in range(4) for s in range(4) for e in range(3)],
        T.StructType.fromDDL("b int, s int, e int"),
    ).repartition(k, "b", "s", "e")
    got = {
        (r["b"], r["s"], r["e"]): r["p"]
        for r in df.withColumn("p", F.spark_partition_id()).collect()
    }
    for (b, s, e), p in got.items():
        assert bucket_salt_era_to_partition(b, s, e, k) == p, (b, s, e)


def test_era_split_compact_preserves_state_and_prunes(spark, history):
    t = history
    before = _snap(t)
    t.era_split = 4
    out = t.compact()
    assert not out.get("skipped")
    assert _snap(t) == before  # byte-identical live state
    m = t.current_manifest()
    assert not m.get("deltas")
    # era-disjoint by construction: the high-seq window skips most files
    t.read_since(1800)
    plan = t.last_read_plan
    assert plan["files_scanned"] < plan["files_total"], plan
    assert {r["seq"] for r in t.read_since(1800).collect()} == set(range(1800, 2000))
    # files per bucket multiplied (several eras actually materialized)
    assert any(len(fl) > 1 for fl in m["files"].values())


def test_era_split_rebucket_preserves_state_and_is_era_disjoint(spark, history):
    """rebucket writes through the same rewrite job as compaction, so its
    output gets the era layout too: live state byte-identical, and within
    each new bucket the files cover disjoint ordering ranges."""
    t = history
    before = _snap(t)
    t.era_split = 4
    out = t.rebucket(8)
    assert not out.get("skipped")
    assert _snap(t) == before
    m = t.current_manifest()
    assert int(m["num_buckets"]) == 8 and not m.get("deltas")
    assert all(len(fl) > 1 for fl in m["files"].values())  # several eras
    # era-keyed files: every row sits in the output partition its (bucket,
    # salt, seq era) hashes to, so a file holds one era of a bucket unless
    # two of the bucket's groups hash to the same partition
    S = {ent[0] for bm in m["slice_meta"].values() for ent in bm.values()}
    assert len(S) == 1
    S = S.pop()
    files = sorted({f for fl in m["files"].values() for f in fl})
    groups = (
        spark.read.parquet(*files)
        .select(F.input_file_name().alias("f"), "__bucket",
                key_hash(["id"], S, "__salt__").alias("s"),
                F.floor(F.col("seq") * 4 / 2000).cast("int").alias("e"))
        .distinct().collect()
    )
    for r in groups:
        part = int(os.path.basename(r["f"]).split("-")[1])
        assert bucket_salt_era_to_partition(r["__bucket"], r["s"], r["e"], 8 * S * 4) == part
    assert len({(r["__bucket"], r["e"]) for r in groups}) == 8 * 4
    t.read_since(1800)
    plan = t.last_read_plan
    assert plan["files_scanned"] < plan["files_total"], plan


def test_era_split_equivalent_to_plain_compact(spark, tmp_path):
    a = LakeTable(spark, str(tmp_path / "a"), num_buckets=2)
    b = LakeTable(spark, str(tmp_path / "b"), num_buckets=2)
    for t in (a, b):
        t.merge_upsert(_rows(spark, 0, 400), keys=["id"], order_by=["seq"],
                       batch_id=0, mode="cow")
        t.merge_upsert(_rows(spark, 400, 800), keys=["id"], order_by=["seq"],
                       batch_id=1, mode="mor")
    b.era_split = 3
    a.compact()
    b.compact()
    assert _snap(a) == _snap(b)


def test_era_split_table_still_merges_and_folds(spark, history):
    """Claims must stay exact after an era-split rewrite: later merges,
    folds, and binpack runs on the multi-file granules must converge to
    the same LWW state."""
    t = history
    t.era_split = 4
    t.compact()
    t.merge_upsert(_rows(spark, 2000, 2400), keys=["id"], order_by=["seq"],
                   batch_id=4, mode="cow_incremental")
    t.fold_every = 1  # every granule with a pending delta is due
    assert t.fold_due()["skipped"] is False
    assert not t.current_manifest().get("deltas")
    # append-mostly ids: every id's winner is its own seq
    assert _snap(t) == {i: i for i in range(2400)}


def test_era_split_binpack_path(spark, history):
    t = history
    t.era_split = 2
    out = t.compact_buckets(small_file_bytes=1 << 30, min_input_files=1)
    if out.get("skipped"):
        pytest.skip(f"binpack skipped: {out}")
    before = _snap(t)
    t.read_since(1900)
    plan = t.last_read_plan
    assert plan["files_scanned"] < plan["files_total"], plan
    assert _snap(t) == before


def test_era_split_disables_without_stats(spark, history, monkeypatch):
    """Legacy tables (no zone maps) must compact exactly as before —
    _cluster_bounds returns None and the layout falls back to 2-col keys."""
    t = history
    t.era_split = 4
    before = _snap(t)
    monkeypatch.setitem(t.current_manifest(), "file_stats", {})

    # strip stats from the loaded manifest path: easiest honest route is
    # a table whose commits never harvested stats
    t2_path = t.path + "_nostats"
    monkeypatch.setattr(
        LakeTable, "_stats_of", staticmethod(lambda bi, cols: {})
    )
    t2 = LakeTable(t.spark, t2_path, num_buckets=2)
    t2.merge_upsert(_rows(t.spark, 0, 300), keys=["id"], order_by=["seq"],
                    batch_id=0)
    monkeypatch.undo()
    t2.era_split = 4
    assert not t2.current_manifest().get("file_stats")
    out = t2.compact()
    assert not out.get("skipped")
    assert len(_snap(t2)) == 300
    assert _snap(t) == before  # untouched sibling


def _drive_cowinc(spark, path, era_split=1, n_batches=8, per_batch=300):
    """Steady-state CDC: append-mostly batches with monotone seq, folded
    as they go (fold_every=2 keeps the fold path hot)."""
    t = LakeTable(spark, path, num_buckets=4)
    t.fold_every = 2
    t.era_split = era_split
    t.merge_upsert(_rows(spark, 0, per_batch), keys=["id"], order_by=["seq"],
                   batch_id=0)
    for b in range(1, n_batches):
        t.merge_upsert(
            _rows(spark, b * per_batch, (b + 1) * per_batch),
            keys=["id"], order_by=["seq"], batch_id=b, mode="cow_incremental",
        )
    return t, n_batches * per_batch


def test_era_split_fold_path_prunes_and_matches(spark, tmp_path):
    """r5 verdict item #4: WITHOUT era-split, fold outputs span ~100% of
    the table's ordering range (measured: scripts/measure_fold_spans.py)
    and a recent-window read_since scans everything. With era_split>1 the
    fold's winners take one extra output-sized (bucket, salt, era)
    exchange, state is byte-identical, and the recent window prunes."""
    plain, hi = _drive_cowinc(spark, str(tmp_path / "plain"), era_split=1)
    era, _ = _drive_cowinc(spark, str(tmp_path / "era"), era_split=4)
    assert _snap(era) == _snap(plain) == {i: i for i in range(hi)}

    bound = int(hi * 0.9)
    era.read_since(bound)
    plan = era.last_read_plan
    assert plan["files_scanned"] < plan["files_total"], plan
    assert {r["seq"] for r in era.read_since(bound).collect()} == set(
        range(bound, hi)
    )
    # fold outputs actually era-split: some granule owns several files
    m = era.current_manifest()
    assert any(len(fl) > 1 for fl in m["files"].values())


def test_era_split_fold_lww_across_eras(spark, tmp_path):
    """A key whose versions span eras must still resolve ONE winner (the
    LWW window stays (bucket, salt); era only shapes the output files)."""
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    t.fold_every = 1
    t.era_split = 4
    t.merge_upsert(_rows(spark, 0, 400), keys=["id"], order_by=["seq"], batch_id=0)
    # rewrite ids 0..99 with HIGH seq (other end of the era range)
    upd = arrow_frame(
        spark, [(i, 10_000 + i, f"u{i}") for i in range(100)],
        T.StructType.fromDDL("id long, seq long, text string"),
    )
    out = t.merge_upsert(upd, keys=["id"], order_by=["seq"], batch_id=1,
                         mode="cow_incremental")
    assert out["fold"]["skipped"] is False
    got = _snap(t)
    want = {i: (10_000 + i if i < 100 else i) for i in range(400)}
    assert got == want
    # exactly one live row per key (no per-era duplicate winners)
    df = t.to_df()
    assert df.count() == df.select("id").distinct().count() == 400
