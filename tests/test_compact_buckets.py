"""Incremental small-file compaction (``compact_buckets``): binpack
fragmented buckets one by one — never the table — as a CDC-invisible
maintenance commit. Results must be byte-identical to the uncompacted
snapshot; untouched buckets' files must be left physically alone.
"""

import os

import pytest
from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

SCHEMA = "seq long, id long, op string, val string"


def mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def up(t, rows, bid, **kw):
    return t.merge_upsert(
        mk(t.spark, rows), keys=["id"], order_by=["seq"], batch_id=bid,
        op_col="op", **kw
    )


def snap(t, **kw):
    return sorted((r["id"], r["seq"], r["val"]) for r in t.to_df(**kw).collect())


def live_files(m):
    return {
        b: (list(m.get("files", {}).get(b, [])), list(m.get("deltas", {}).get(b, [])))
        for b in set(m.get("files", {})) | set(m.get("deltas", {}))
    }


def n_unique_files(m):
    return len({f for b, d in live_files(m).values() for f in b + d})


def fragmented(spark, path, **kw):
    """Fragmented history: a COW base plus five small MOR deltas and a
    late tombstone — every bucket accumulates a pile of small files."""
    t = LakeTable(spark, path, num_buckets=4, **kw)
    up(t, [(i, i, "up", f"v{i}") for i in range(200)], 0)
    for b in range(1, 6):
        up(t, [(1000 * b + i, i * 7 % 200, "up", f"m{b}.{i}") for i in range(30)],
           b, mode="mor")
    up(t, [(9000, 13, "delete", None)], 6, mode="mor")
    return t


@pytest.fixture()
def table(spark, tmp_path):
    return fragmented(spark, str(tmp_path / "lake"))


def test_compaction_preserves_state_and_consumes_files(spark, table):
    before = snap(table)
    before_all = snap(table, drop_deletes=False)
    m0 = table.current_manifest()
    files_before = n_unique_files(m0)
    out = table.compact_buckets(small_file_bytes=32 << 20, min_input_files=2)
    assert not out.get("skipped"), out
    assert out["compacted_buckets"] == 4
    assert out["files_in"] == files_before
    m1 = table.current_manifest()
    assert m1["version"] == m0["version"] + 1
    assert not m1.get("deltas")  # all pending deltas consumed
    assert n_unique_files(m1) == out["files_out"] < files_before
    assert snap(table) == before
    assert snap(table, drop_deletes=False) == before_all  # tombstone kept


def test_explicit_buckets_leave_others_physically_alone(spark, table):
    before = snap(table)
    m0 = table.current_manifest()
    out = table.compact_buckets(buckets=[0])
    assert not out.get("skipped") and out["compacted_buckets"] == 1
    m1 = table.current_manifest()
    f0, f1 = live_files(m0), live_files(m1)
    assert f1["0"][0] != f0["0"][0] and not f1["0"][1]  # rewritten, deltas gone
    for b in ("1", "2", "3"):
        assert f1[b] == f0[b], b  # same paths, untouched
    assert snap(table) == before


def test_threshold_selection(spark, tmp_path):
    """Only buckets with >= min_input_files small files are selected;
    a freshly consolidated table has nothing due."""
    t = LakeTable(spark, str(tmp_path / "sel"), num_buckets=2)
    up(t, [(i, i, "up", f"v{i}") for i in range(100)], 0)
    t.compact()  # one file per (bucket, slice): consolidated
    out = t.compact_buckets(small_file_bytes=1, min_input_files=2)
    assert out.get("skipped"), out  # nothing under 1 byte
    for b in range(1, 4):
        up(t, [(100 * b, 50 + b, "up", f"x{b}")], b, mode="mor")
    out = t.compact_buckets(small_file_bytes=32 << 20, min_input_files=2)
    assert not out.get("skipped")
    assert not t.current_manifest().get("deltas")


def test_maintenance_is_cdc_invisible(spark, table):
    v = table.current_manifest()["version"]
    out = table.compact_buckets(small_file_bytes=32 << 20, min_input_files=2)
    assert not out.get("skipped")
    diff = table.cdc_diff(v)
    assert diff is not None and diff.count() == 0
    assert table.changes_since(v).count() == 0


def test_tombstone_watermark_purges(spark, table):
    assert (13, 9000, None) in [
        (r["id"], r["seq"], r["val"])
        for r in table.to_df(drop_deletes=False).collect()
    ]
    out = table.compact_buckets(
        small_file_bytes=32 << 20, min_input_files=1, tombstone_watermark=9000
    )
    assert not out.get("skipped")
    ids_all = {r["id"] for r in table.to_df(drop_deletes=False).collect()}
    assert 13 not in ids_all  # tombstone physically purged
    assert 13 not in {r["id"] for r in table.to_df().collect()}


def test_null_op_rows_survive_watermarked_purge(spark, tmp_path):
    """A row whose op column is NULL (e.g. null-filled by schema
    alignment) is LIVE — the tombstone purge predicate must be
    NULL-safe on both paths, or ~(NULL & x) = NULL silently drops it
    from the rewritten base."""
    for compactor in ("buckets", "full"):
        t = LakeTable(spark, str(tmp_path / f"nullop-{compactor}"), num_buckets=2)
        up(t, [(1, 1, None, "live-null-op"), (2, 2, "up", "live"),
               (3, 3, "delete", None)], 0)
        if compactor == "buckets":
            out = t.compact_buckets(
                small_file_bytes=32 << 20, min_input_files=1,
                tombstone_watermark=100,
            )
        else:
            out = t.compact(tombstone_watermark=100)
        assert not out.get("skipped")
        got = {r["id"]: r["val"] for r in t.to_df().collect()}
        assert got == {1: "live-null-op", 2: "live"}, (compactor, got)
        # the covered tombstone WAS purged
        assert 3 not in {r["id"] for r in t.to_df(drop_deletes=False).collect()}


def test_file_index_maintained(spark, tmp_path):
    """file_bytes / file_stats / key blooms stay consistent with the live
    file set, and pruned reads + lookups still work after compaction."""
    table = fragmented(spark, str(tmp_path / "lake"), key_index=True)
    out = table.compact_buckets(small_file_bytes=32 << 20, min_input_files=2)
    assert not out.get("skipped")
    m = table.current_manifest()
    live = {
        os.path.basename(f)
        for b, d in live_files(m).values()
        for f in b + d
    }
    assert set(m.get("file_bytes", {})) <= live
    assert set(m.get("file_stats", {})) <= live and m.get("file_stats")
    assert set(m.get("key_blooms", {})) <= live and m.get("key_blooms")
    # zone-map read still exact
    want = sorted(
        (r["id"], r["seq"]) for r in
        table.to_df().filter(F.col("seq") >= 5000).collect()
    )
    assert sorted((r["id"], r["seq"]) for r in table.read_since(5000).collect()) == want
    # bloom-pruned point lookup still resolves
    hit = table.lookup({"id": 5})
    assert [r["id"] for r in hit.collect()] == [5]


def test_stats_respects_min_input_files(spark, table):
    """stats(min_input_files=...) must answer for the thresholds the
    maintenance job actually uses."""
    hi = table.stats(small_file_bytes=32 << 20, min_input_files=100)
    lo = table.stats(small_file_bytes=32 << 20, min_input_files=1)
    assert hi["fragmented_buckets"] == 0
    assert lo["fragmented_buckets"] == 4


def test_rewrite_clusters_rows_by_order_column(spark, tmp_path):
    """Compaction output files are sorted by the ordering column within
    each (bucket, salt) group, so parquet row-group stats stay tight for
    pushed order filters. With one bucket and one salt slice the whole
    file must be seq-sorted."""
    import pyarrow.parquet as pq

    t = LakeTable(spark, str(tmp_path / "sorted"), num_buckets=1,
                  files_per_bucket=1)
    # interleaved seq across commits -> unsorted layout pre-compaction
    up(t, [(i, i, "up", f"a{i}") for i in range(0, 100, 2)], 0)
    up(t, [(i, 100 + i, "up", f"b{i}") for i in range(1, 100, 2)], 1, mode="mor")
    out = t.compact_buckets(buckets=[0])
    assert not out.get("skipped")
    m = t.current_manifest()
    files = [f for fl in m["files"].values() for f in fl]
    assert files
    for f in files:
        seqs = pq.read_table(f, columns=["seq"])["seq"].to_pylist()
        assert seqs == sorted(seqs), f
    # state unchanged by the clustered rewrite
    assert {r["id"] for r in t.to_df().collect()} == (
        set(range(0, 100, 2)) | {100 + i for i in range(1, 100, 2)}
    )


def test_stats_report_tracks_fragmentation(spark, table):
    """stats() is metadata-only and must agree with what compact_buckets
    actually selects; after the binpack the report shows the reclaim."""
    s0 = table.stats(small_file_bytes=32 << 20)
    assert s0["files"] > 4 and s0["delta_files_pending"] > 0
    assert s0["fragmented_buckets"] == 4  # fixture fragments every bucket
    assert s0["bytes"] > 0 and s0["max_delta_chain"] >= 1
    out = table.compact_buckets(small_file_bytes=32 << 20, min_input_files=4)
    assert not out.get("skipped")
    assert out["compacted_buckets"] == s0["fragmented_buckets"]
    s1 = table.stats(small_file_bytes=32 << 20)
    assert s1["version"] == s0["version"] + 1
    assert s1["files"] < s0["files"] and s1["delta_files_pending"] == 0
    assert table.stats() is not None  # defaults work
    empty = LakeTable(spark, table.path + "-nope", num_buckets=2)
    assert empty.stats() is None


def test_pipeline_auto_compact_small_files(spark, tmp_path):
    """A sink_mode='mor' pipeline table binpacked by an explicit
    compact_buckets call (the maintenance that replaces pipeline
    auto-compaction); state must match the LWW of the whole WAL."""
    from pyspark.sql import functions as SF
    from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal
    from tap_rest_api_msdk_spark.streaming.pipeline import (
        PipelineConfig,
        process_batch,
    )

    wal = synth_repo_wal(spark, 3000, n_repos=8, n_paths=30)
    conf = PipelineConfig(stream="s", sink_mode="mor", num_buckets=4)
    t = LakeTable(spark, str(tmp_path / "auto"), num_buckets=4)
    for i in range(4):
        b = wal.filter(
            (SF.col("seq") > i * 750) & (SF.col("seq") <= (i + 1) * 750)
        )
        assert not process_batch(t, conf, b, i).get("skipped")
    out = t.compact_buckets(min_input_files=2)
    assert not out.get("skipped") and out["compacted_buckets"] > 0, out
    assert not t.current_manifest().get("deltas")
    # state equals the straight LWW of the whole WAL
    from tap_rest_api_msdk_spark.operators.dedup import lww_dedup

    want = sorted(
        (r["repo"], r["path"], r["seq"])
        for r in lww_dedup(wal, ["repo", "path"], ["seq", "commit"]).collect()
    )
    got = sorted(
        (r["repo"], r["path"], r["seq"]) for r in t.to_df(drop_deletes=False).collect()
    )
    assert got == want


def test_racing_commit_to_compacted_bucket_recomputes(spark, table, tmp_path):
    """A racer's COW commit landing on a due bucket between read and
    publish invalidates the compaction (recompute); the final state must
    include the racer's rows exactly once."""
    racer = LakeTable(spark, table.path, num_buckets=4)
    real_publish = table._publish
    injected = {"done": False}

    def racing_publish(manifest):
        if not injected["done"]:
            injected["done"] = True
            up(racer, [(10_000, 42, "up", "raced")], 7)
        return real_publish(manifest)

    table._publish = racing_publish
    out = table.compact_buckets(small_file_bytes=32 << 20, min_input_files=2)
    table._publish = real_publish
    assert not out.get("skipped")
    got = {r["id"]: (r["seq"], r["val"]) for r in table.to_df().collect()}
    assert got[42] == (10_000, "raced")
    # and the compaction actually landed (post-racer version)
    assert table.current_manifest()["version"] == out["version"]


def test_racing_fold_forces_recompute_not_corruption(spark, table):
    """Maintenance x maintenance: a fold_due landing between the
    binpack's read and publish rewrites due buckets' bases — the binpack
    must recompute (or rebase safely), never drop the fold's result."""
    racer = LakeTable(spark, table.path, num_buckets=4)
    racer.fold_every = 1
    before = snap(table)
    real_publish = table._publish
    injected = {"done": False}

    def racing_publish(manifest):
        if not injected["done"]:
            injected["done"] = True
            racer.fold_due()  # consume pending delta chains
        return real_publish(manifest)

    table._publish = racing_publish
    out = table.compact_buckets(small_file_bytes=32 << 20, min_input_files=2)
    table._publish = real_publish
    assert not out.get("skipped"), out
    assert snap(table) == before
    assert not table.current_manifest().get("deltas")


def test_racing_rebucket_forces_recompute(spark, table):
    """A rebucket landing mid-binpack changes every bucket's file set
    AND the bucket count — the binpack must recompute under the new
    layout, and the final state must be exact."""
    racer = LakeTable(spark, table.path, num_buckets=4)
    before = snap(table)
    real_publish = table._publish
    injected = {"done": False}

    def racing_publish(manifest):
        if not injected["done"]:
            injected["done"] = True
            racer.rebucket(8)
        return real_publish(manifest)

    table._publish = racing_publish
    out = table.compact_buckets(small_file_bytes=32 << 20, min_input_files=1)
    table._publish = real_publish
    m = table.current_manifest()
    assert int(m["num_buckets"]) == 8
    assert snap(table) == before
    if not out.get("skipped"):
        # if the binpack landed, it must have landed in the NEW space
        assert out["version"] == m["version"]


def _deltas(m):
    return {f for fl in m.get("deltas", {}).values() for f in fl}


@pytest.mark.parametrize("compactor", [
    pytest.param(lambda t: t.compact_buckets(small_file_bytes=32 << 20, min_input_files=2),
                 id="compact_buckets"),
    pytest.param(lambda t: t.compact(), id="compact"),
])
def test_racing_delta_stays_pending(spark, table, compactor):
    """A racer's MOR delta appended to a due bucket mid-compaction is NOT
    consumed: the compaction rebases past it, the delta stays pending and
    LWW re-applies it at read. Full compaction follows the same rule."""
    racer = LakeTable(spark, table.path, num_buckets=4)
    real_publish = table._publish
    raced = set()

    def racing_publish(manifest):
        if not raced:
            before = _deltas(racer.current_manifest())
            up(racer, [(11_000, 99, "up", "delta-raced")], 7, mode="mor")
            raced.update(_deltas(racer.current_manifest()) - before)
        return real_publish(manifest)

    table._publish = racing_publish
    out = compactor(table)
    table._publish = real_publish
    assert not out.get("skipped")
    assert raced and raced <= _deltas(table.current_manifest())
    got = {r["id"]: (r["seq"], r["val"]) for r in table.to_df().collect()}
    assert got[99] == (11_000, "delta-raced")
