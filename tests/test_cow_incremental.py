"""Hierarchical granular COW (mode="cow_incremental",
DESIGN_hierarchical_bucketing.md): O(batch) delta append + staggered
(bucket, slice)-granular folds. State must equal the LWW fixpoint at every
point; delta chains stay bounded; compact() is a no-op on semantics."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.session import arrow_frame
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable


def _mk(spark, rows):
    return arrow_frame(
        spark, rows, T.StructType.fromDDL("id long, seq long, op string, text string")
    )


def _drive(spark, path, n_keys, n_batches, rng, fold_every=4, files_per_bucket=None):
    t = LakeTable(spark, path, num_buckets=8, files_per_bucket=files_per_bucket)
    t.fold_every = fold_every
    truth = {}
    rows = [(i, 0, "upsert", f"v0-{i}") for i in range(n_keys)]
    for i, s, o, x in rows:
        truth[i] = (s, o, x)
    t.merge_upsert(_mk(spark, rows), keys=["id"], order_by=["seq"], batch_id=0, op_col="op")
    for b in range(1, n_batches + 1):
        batch = [
            (i, b, "delete" if rng.random() < 0.1 else "upsert", f"v{b}-{i}")
            for i in rng.sample(range(int(n_keys * 1.2)), n_keys // 5)
        ]
        for i, s, o, x in batch:
            truth[i] = (s, o, x)
        out = t.merge_upsert(
            _mk(spark, batch), keys=["id"], order_by=["seq"], batch_id=b,
            op_col="op", mode="cow_incremental",
        )
        assert out.get("mode") == "cow_incremental" and "fold" in out
    return t, truth


def test_cow_incremental_reconverges_exactly(spark, tmp_path):
    rng = random.Random(11)
    t, truth = _drive(spark, str(tmp_path / "t"), 1000, 8, rng)
    got = {r["id"]: (r["seq"], r["op"], r["text"]) for r in t.to_df(drop_deletes=False).collect()}
    assert got == truth
    live = {i for i, (s, o, x) in truth.items() if o != "delete"}
    assert {r["id"] for r in t.to_df().collect()} == live


def test_delta_chains_stay_bounded(spark, tmp_path):
    """The stagger (k=2) plus the pressure valve must keep every bucket's
    pending delta chain under ~2k files no matter how many batches run."""
    rng = random.Random(5)
    t, truth = _drive(spark, str(tmp_path / "t"), 600, 12, rng, fold_every=2)
    m = t.current_manifest()
    chains = {b: len(v) for b, v in m.get("deltas", {}).items()}
    assert max(chains.values(), default=0) <= 4  # 2 * fold_every
    got = {r["id"]: (r["seq"], r["op"], r["text"]) for r in t.to_df(drop_deletes=False).collect()}
    assert got == truth


def test_folds_consume_and_compact_is_identity(spark, tmp_path):
    rng = random.Random(23)
    t, truth = _drive(spark, str(tmp_path / "t"), 800, 6, rng)
    before = {r["id"]: (r["seq"], r["op"], r["text"]) for r in t.to_df(drop_deletes=False).collect()}
    t.compact()
    after = {r["id"]: (r["seq"], r["op"], r["text"]) for r in t.to_df(drop_deletes=False).collect()}
    assert before == after == truth
    assert not t.current_manifest().get("deltas")


def test_slice_granular_folds_at_depth(spark, tmp_path):
    """With files_per_bucket=4 the granule space is (bucket, r@4): folds
    must rewrite slice-granular file sets, recorded in slice_meta with
    nested power-of-two residues."""
    rng = random.Random(31)
    t, truth = _drive(spark, str(tmp_path / "t"), 1200, 6, rng, files_per_bucket=4)
    m = t.current_manifest()
    meta = m.get("slice_meta", {})
    assert meta, "slice metadata must be recorded"
    for b, entries in meta.items():
        for fname, (S, residues) in entries.items():
            assert S in (1, 2, 4, 8, 16, 32, 64)
            assert all(0 <= r < S for r in residues)
    got = {r["id"]: (r["seq"], r["op"], r["text"]) for r in t.to_df(drop_deletes=False).collect()}
    assert got == truth


def test_crash_between_delta_and_fold_reconverges(spark, tmp_path):
    """Kill after the delta commit but before the fold: a fresh handle
    replaying the same batch id must skip (ledger) and the fold happens on
    a later round — state still exact."""
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, num_buckets=8)
    rows0 = [(i, 0, "upsert", f"v0-{i}") for i in range(500)]
    t.merge_upsert(_mk(spark, rows0), keys=["id"], order_by=["seq"], batch_id=0, op_col="op")

    # simulate the crash: delta committed, fold never ran
    rows1 = [(i, 1, "upsert", f"v1-{i}") for i in range(0, 500, 3)]
    out = t._merge_upsert_once(
        _mk(spark, rows1), ["id"], ["seq"], 1, "op", None, None, "mor", "default",
    )
    assert out is not None and not out.get("skipped")

    t2 = LakeTable(spark, path, num_buckets=8)  # restart
    replay = t2.merge_upsert(
        _mk(spark, rows1), keys=["id"], order_by=["seq"], batch_id=1,
        op_col="op", mode="cow_incremental",
    )
    assert replay.get("skipped")  # ledger: the delta commit already landed
    # next batch folds eventually; state is the LWW fixpoint
    rows2 = [(i, 2, "upsert", f"v2-{i}") for i in range(0, 500, 7)]
    t2.merge_upsert(_mk(spark, rows2), keys=["id"], order_by=["seq"], batch_id=2,
                    op_col="op", mode="cow_incremental")
    truth = {i: (0, "upsert", f"v0-{i}") for i in range(500)}
    truth.update({i: (1, "upsert", f"v1-{i}") for i in range(0, 500, 3)})
    truth.update({i: (2, "upsert", f"v2-{i}") for i in range(0, 500, 7)})
    got = {r["id"]: (r["seq"], r["op"], r["text"]) for r in t2.to_df(drop_deletes=False).collect()}
    assert got == truth


def test_changes_since_skips_fold_rewrites(spark, tmp_path):
    """Incremental readers must see CHANGE rows only: a fold commit that
    rewrites unchanged base rows into fresh files is a maintenance commit
    (ledger unchanged) and its file additions are skipped."""
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    t.fold_every = 2
    t.merge_upsert(_mk(spark, [(i, 0, "upsert", f"v0-{i}") for i in range(200)]),
                   keys=["id"], order_by=["seq"], batch_id=0, op_col="op")
    v0 = t.current_manifest()["version"]
    # two incremental batches; the second triggers folds (chains hit 2)
    rows1 = [(i, 1, "upsert", f"v1-{i}") for i in range(0, 200, 5)]
    rows2 = [(i, 2, "upsert", f"v2-{i}") for i in range(0, 200, 7)]
    t.merge_upsert(_mk(spark, rows1), keys=["id"], order_by=["seq"], batch_id=1,
                   op_col="op", mode="cow_incremental")
    t.merge_upsert(_mk(spark, rows2), keys=["id"], order_by=["seq"], batch_id=2,
                   op_col="op", mode="cow_incremental")
    assert t.current_manifest()["version"] > v0 + 2  # folds committed too
    ch = t.changes_since(v0)
    got = {(r["id"], r["seq"]) for r in ch.select("id", "seq").collect()}
    want = {(i, 1) for i in range(0, 200, 5)} | {(i, 2) for i in range(0, 200, 7)}
    assert got == want  # exactly the change rows — no fold-rewritten base rows


def test_changes_since_raises_on_vacuumed_window(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    t.fold_every = 1  # fold (consume deltas) every batch
    t.merge_upsert(_mk(spark, [(i, 0, "upsert", "x") for i in range(50)]),
                   keys=["id"], order_by=["seq"], batch_id=0, op_col="op")
    v0 = t.current_manifest()["version"]
    t.merge_upsert(_mk(spark, [(1, 1, "upsert", "y")]), keys=["id"], order_by=["seq"],
                   batch_id=1, op_col="op", mode="cow_incremental")
    t.vacuum(retain_last=1)  # reclaims the consumed delta file
    import pytest

    with pytest.raises(ValueError, match="retained snapshots"):
        t.changes_since(v0)


def test_unknown_sink_mode_refused(spark, tmp_path):
    import pytest

    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    with pytest.raises(ValueError, match="unknown sink mode"):
        t.merge_upsert(_mk(spark, [(1, 0, "upsert", "x")]), keys=["id"],
                       order_by=["seq"], batch_id=0, mode="cowz")


def test_cdc_diff_insert_update_delete(spark, tmp_path):
    """Row-level changelog between snapshots: inserts/updates/deletes
    classified exactly; tombstones count as absent; unchanged keys drop."""
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    t.merge_upsert(_mk(spark, [(1, 0, "upsert", "a"), (2, 0, "upsert", "b"),
                               (3, 0, "upsert", "c")]),
                   keys=["id"], order_by=["seq"], batch_id=0, op_col="op")
    v0 = t.current_manifest()["version"]
    # batch 1 (mor) + batch 2 (cow_incremental): update 1, delete 2, insert 4
    t.merge_upsert(_mk(spark, [(1, 1, "upsert", "a2"), (2, 1, "delete", "")]),
                   keys=["id"], order_by=["seq"], batch_id=1, op_col="op", mode="mor")
    t.merge_upsert(_mk(spark, [(4, 2, "upsert", "d")]),
                   keys=["id"], order_by=["seq"], batch_id=2, op_col="op",
                   mode="cow_incremental")
    diff = {r["id"]: (r["change"], r["before"], r["after"])
            for r in t.cdc_diff(v0).collect()}
    assert set(diff) == {1, 2, 4}  # key 3 unchanged -> absent
    assert diff[1][0] == "update" and diff[1][1]["text"] == "a" and diff[1][2]["text"] == "a2"
    assert diff[2][0] == "delete" and diff[2][2] is None
    assert diff[4][0] == "insert" and diff[4][1] is None and diff[4][2]["text"] == "d"


def test_cdc_diff_from_empty_is_all_inserts(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    t.merge_upsert(_mk(spark, [(1, 0, "upsert", "a")]), keys=["id"],
                   order_by=["seq"], batch_id=0, op_col="op")
    v0 = t.current_manifest()["version"]
    t.merge_upsert(_mk(spark, [(2, 1, "upsert", "b")]), keys=["id"],
                   order_by=["seq"], batch_id=1, op_col="op")
    d = t.cdc_diff(v0)
    assert {r["id"]: r["change"] for r in d.collect()} == {2: "insert"}


def test_shared_delta_files_cap_converges_identically(spark, tmp_path):
    """Every delta append caps its fan-out at DELTA_FILE_ROWS_AUTO rows
    per file, so a small batch writes delta files SHARED across buckets
    (several (bucket, salt) cells per file). Claims, folds, and reads must
    converge to the identical LWW state as direct COW merges, which write
    no delta files."""
    from tap_rest_api_msdk_spark.streaming.pipeline import (
        PipelineConfig,
        process_batch,
    )

    from tap_rest_api_msdk_spark.session import arrow_frame

    # an Arrow-built WAL: a createDataFrame(list) one would run a pickled
    # Python-RDD stage in every job that scans it
    wal = arrow_frame(
        spark,
        [(i % 300, i, "upsert" if i % 40 else "delete", f"v{i}")
         for i in range(3000)],
        T.StructType([
            T.StructField("id", T.LongType()), T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()), T.StructField("text", T.StringType()),
        ]),
    )
    conf = PipelineConfig(
        stream="s", keys=("id",), replication_key="seq",
        order_by=("seq",), op_col="op", payload_col=None, ts_col=None,
        num_buckets=16, sink_mode="cow_incremental",
    )
    states = {}
    for label in ("capped", "cow"):
        t = LakeTable(spark, str(tmp_path / label), num_buckets=16)
        t.fold_every = 3
        for b in range(6):
            sl = wal.filter(
                (F.col("seq") >= b * 500) & (F.col("seq") < (b + 1) * 500)
            )
            if label == "capped":
                process_batch(t, conf, sl, b)
            else:
                t.merge_upsert(sl, keys=["id"], order_by=["seq"], batch_id=b,
                               op_col="op", mode="cow", writer_id="s")
        states[label] = {
            r["id"]: (r["seq"], r["text"]) for r in t.to_df().collect()
        }
        if label == "capped":
            # the cap actually engaged: one file per 500-row delta commit
            # instead of 16+ (one per bucket)
            m = t.current_manifest()
            sizes = [len(v) for v in m.get("deltas", {}).values()]
            assert sum(sizes) < 16 * 2, m.get("deltas")
    assert states["capped"] == states["cow"]
    assert len(states["capped"]) > 0


def test_cdc_diff_empty_window_column_order_matches_populated(spark, tmp_path):
    """r4 ADVICE: when merge-key order differs from the schema's field
    order, the empty-window early return must still lead with the keys in
    KEYS-LIST order (same as the populated path's select) — a positional
    consumer unioning consecutive windows would otherwise mix frames."""
    rows = arrow_frame(
        spark, [(10, "k1", 0, "a"), (20, "k2", 0, "b")],
        T.StructType.fromDDL("a long, b string, seq long, text string"),
    )
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    # keys REVERSED vs schema order: (b, a) while schema leads (a, b)
    t.merge_upsert(rows, keys=["b", "a"], order_by=["seq"], batch_id=0,
                   op_col=None)
    v0 = t.current_manifest()["version"]
    empty = t.cdc_diff(v0)  # HEAD -> HEAD: zero touched granules
    assert empty.count() == 0
    t.merge_upsert(
        arrow_frame(spark, [(30, "k3", 1, "c")],
                    T.StructType.fromDDL("a long, b string, seq long, text string")),
        keys=["b", "a"], order_by=["seq"], batch_id=1, op_col=None)
    populated = t.cdc_diff(v0)
    assert populated.count() == 1
    assert empty.columns == populated.columns == [
        "b", "a", "change", "before", "after"
    ]
    assert empty.schema == populated.schema


def test_time_travel_across_fold_commits(spark, tmp_path):
    """Snapshot isolation: reading at a version BEFORE later folds must
    return the state as of that version (fold commits rewrite files but
    historical manifests keep referencing the originals until vacuum)."""
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    t.fold_every = 2
    t.merge_upsert(_mk(spark, [(i, 0, "upsert", f"v0-{i}") for i in range(100)]),
                   keys=["id"], order_by=["seq"], batch_id=0, op_col="op")
    snap_v = t.current_manifest()["version"]
    snap_state = {r["id"]: r["text"] for r in t.to_df().collect()}

    for b in (1, 2, 3):  # folds fire from batch 2 on
        t.merge_upsert(_mk(spark, [(i, b, "upsert", f"v{b}-{i}") for i in range(0, 100, 3)]),
                       keys=["id"], order_by=["seq"], batch_id=b,
                       op_col="op", mode="cow_incremental")
    assert t.current_manifest()["version"] >= snap_v + 4

    # the historical snapshot is unchanged
    back = {r["id"]: r["text"] for r in t.to_df(version=snap_v).collect()}
    assert back == snap_state
    # and the current state reflects the later writes
    now = {r["id"]: r["text"] for r in t.to_df().collect()}
    assert now[0] == "v3-0" and now[1] == "v0-1"


def _delta_files(t):
    return {f for fl in (t.current_manifest() or {}).get("deltas", {}).values() for f in fl}


def test_every_delta_writer_sizes_by_one_rule(spark, tmp_path):
    """Direct delta merges, mor DML and the SCD2 history table record
    their fan-out in the snapshot (``delta_fanout[writer_id]``) and cap
    their delta files at DELTA_FILE_ROWS_AUTO rows: each small batch into
    a 16-bucket table writes ONE delta file, shared across buckets, and
    the state is the LWW oracle's."""
    from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal
    from tap_rest_api_msdk_spark.streaming.laketable import DELTA_FILE_ROWS_AUTO
    from tap_rest_api_msdk_spark.streaming.pipeline import PipelineConfig
    from tap_rest_api_msdk_spark.streaming.scd2 import scd2_process_batch

    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=16)
    truth = {i: (0, "upsert", f"v0-{i}") for i in range(1000)}
    t.merge_upsert(_mk(spark, [(i, *truth[i]) for i in range(1000)]), keys=["id"],
                   order_by=["seq"], batch_id=0, op_col="op")
    assert "delta_fanout" not in t.current_manifest()  # COW records none
    for b in (1, 2):  # no recorded fan-out yet, then the recorded one
        batch = [(i, b, "upsert", f"v{b}-{i}") for i in range(b, 1000, 3)]
        before = _delta_files(t)
        t.merge_upsert(_mk(spark, batch), keys=["id"], order_by=["seq"],
                       batch_id=b, op_col="op", mode="mor")
        assert len(_delta_files(t) - before) == 1
        truth.update({i: (s, o, x) for i, s, o, x in batch})
        fan = t.current_manifest()["delta_fanout"]["default"]
        assert fan[0] > 1 and fan[1] == len(batch) <= DELTA_FILE_ROWS_AUTO
    before = _delta_files(t)
    assert t.delete_keys([{"id": 5}, {"id": 6}], batch_id=3, mode="mor")["n_deleted"] == 2
    assert len(_delta_files(t) - before) == 1
    assert t.current_manifest()["delta_fanout"]["default"][1] == 2
    truth[5], truth[6] = (1, "delete", None), (1, "delete", None)
    got = {r["id"]: (r["seq"], r["op"], r["text"]) for r in t.to_df(drop_deletes=False).collect()}
    assert {i: v for i, v in got.items() if v[1] == "upsert"} == {
        i: v for i, v in truth.items() if v[1] == "upsert"
    }
    assert {i for i, v in got.items() if v[1] == "delete"} == {5, 6}

    wal = synth_repo_wal(spark, 600, n_repos=5, n_paths=40, partitions=2, shredded=True)
    state = LakeTable(spark, str(tmp_path / "state"), num_buckets=16)
    hist = LakeTable(spark, str(tmp_path / "hist"), num_buckets=16)
    conf = PipelineConfig(stream="s", num_buckets=16)
    for b in range(3):
        before = _delta_files(hist)
        sl = wal.filter((F.col("seq") >= 200 * b) & (F.col("seq") < 200 * (b + 1)))
        assert not scd2_process_batch(state, hist, conf, sl, b)["history"]["skipped"]
        assert len(_delta_files(hist) - before) == 1
        assert hist.current_manifest()["delta_fanout"]["s"][1] > 0
