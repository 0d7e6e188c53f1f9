"""Z-order (multi-dimensional) clustered rewrite layout: with
``cluster_by = [c1, c2, ...]`` and ``era_split > 1``, compaction/binpack
split each (bucket, slice) granule's output by a Morton CELL over the
clustered columns and sort rows by the full Morton key within each file —
so range reads on EVERY clustered column keep pruning after maintenance
merges history (the 1-D era split keeps only the ordering column
prunable). Claims stay (bucket, slice64); bounds are metadata-only
(manifest zone maps), and the layout quietly falls back to the 1-D era
split when any clustered column lacks bounds."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.session import arrow_frame
from tap_rest_api_msdk_spark.streaming.laketable import (
    LakeTable,
    zorder_cell_and_key,
)


def _morton_ref(qs, bits=8):
    z = 0
    n = len(qs)
    for j in range(bits):
        for i, q in enumerate(qs):
            src = bits - 1 - j
            dst = bits * n - 1 - (j * n + i)
            z |= ((q >> src) & 1) << dst
    return z


def test_zorder_key_matches_python_reference(spark):
    """The column-expression Morton interleave must equal the bit-exact
    Python reference (cell = top log2(n_cells) bits, clamped)."""
    bounds = {"a": (0, 256), "b": (0, 256)}
    rows = [(a, b) for a in (0, 1, 100, 200, 255, 256, 300) for b in (0, 37, 255, 256)]
    df = arrow_frame(spark, rows, T.StructType.fromDDL("a long, b long"))
    cell, z = zorder_cell_and_key(bounds, 16)
    got = df.select("a", "b", cell.alias("cell"), z.alias("z")).collect()
    for r in got:
        qa = min(255, max(0, math.floor((r["a"] - 0) * 256 / 256)))
        qb = min(255, max(0, math.floor((r["b"] - 0) * 256 / 256)))
        want_z = _morton_ref([qa, qb])
        assert r["z"] == want_z, (r["a"], r["b"])
        assert r["cell"] == min(15, want_z >> 12), (r["a"], r["b"])


def _val(i: int) -> int:
    # value column decorrelated from seq: a seq-range query and a
    # val-range query select DIFFERENT row subsets
    return (i * 2654435761) % 4096


@pytest.fixture()
def history(spark, tmp_path):
    """A MOR table whose every commit spans the full seq AND val ranges
    is the worst case for 1-D era clustering: after compaction the val
    column is uniformly smeared across every file."""
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=4,
                  stats_columns=["val"])
    for i, (lo, hi) in enumerate([(0, 1000), (1000, 2000), (2000, 3000), (3000, 4000)]):
        df = arrow_frame(
            spark, [(int(j), int(j), int(_val(j))) for j in range(lo, hi)],
            T.StructType.fromDDL("id long, seq long, val long"),
        )
        t.merge_upsert(df, keys=["id"], order_by=["seq"], batch_id=i,
                       mode="mor" if i else "cow")
    return t


def _snap(t):
    return {r["id"]: (r["seq"], r["val"]) for r in t.to_df().collect()}


def _scan_fraction(t, **kw):
    t.read_range(**kw).count()
    p = t.last_read_plan
    return p["files_scanned"] / max(1, p["files_total"]), p


def test_zorder_compact_prunes_both_dimensions(spark, history):
    t = history
    before = _snap(t)
    t.era_split = 16
    t.cluster_by = ["seq", "val"]
    out = t.compact()
    assert not out.get("skipped")
    assert _snap(t) == before  # state byte-identical to pre-compaction
    m = t.current_manifest()
    assert not m.get("deltas")

    # a quarter-range read on EACH clustered dimension skips most files
    f_seq, plan_seq = _scan_fraction(t, min_order=3000, max_order=4000)
    f_val, plan_val = _scan_fraction(t, min_order=0, max_order=1023, col="val")
    assert f_seq < 0.6, plan_seq
    assert f_val < 0.6, plan_val
    # and the results are exact despite the pruning
    got = {r["id"] for r in t.read_range(0, 1023, col="val").collect()}
    assert got == {i for i in range(4000) if _val(i) <= 1023}


def test_zorder_vs_era_val_pruning(spark, history, tmp_path):
    """The 1-D era layout cannot prune the val dimension (every file
    spans the full val range); the z layout can — that's its reason to
    exist. Same data, same cell count, only the layout differs."""
    t = history
    t.era_split = 16
    t.cluster_by = None
    assert not t.compact().get("skipped")
    f_era, _ = _scan_fraction(t, min_order=0, max_order=1023, col="val")

    t2 = LakeTable(t.spark, t.path, num_buckets=4)
    t2.era_split = 16
    t2.cluster_by = ["seq", "val"]
    assert not t2.compact().get("skipped")
    f_z, plan = _scan_fraction(t2, min_order=0, max_order=1023, col="val")
    assert f_era > 0.9  # 1-D layout: val zone maps are useless
    assert f_z < 0.6, plan  # z layout: most files skipped


def test_zorder_quiet_fallback_without_bounds(spark, tmp_path):
    """cluster_by names a column with no harvested bounds -> the z layout
    quietly falls back to the 1-D era split (correctness never gated on
    layout hints)."""
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)  # no stats_columns
    df = arrow_frame(
        spark, [(int(j), int(j), int(_val(j))) for j in range(1000)],
        T.StructType.fromDDL("id long, seq long, val long"),
    )
    t.merge_upsert(df, keys=["id"], order_by=["seq"], batch_id=0, mode="cow")
    before = _snap(t)
    t.era_split = 4
    t.cluster_by = ["seq", "val"]  # val has no zone maps
    assert t._cluster_bounds(t.current_manifest(), set(
        __import__("os").path.basename(f)
        for fl in t.current_manifest()["files"].values() for f in fl
    )) is None
    assert not t.compact().get("skipped")
    assert _snap(t) == before
    # the 1-D era fallback still clusters the ordering column
    f_seq, plan = _scan_fraction(t, min_order=900, max_order=1000)
    assert f_seq < 1.0, plan


def test_zorder_binpack_path(spark, history):
    """compact_buckets (the 100 TB maintenance path) applies the same z
    layout to the buckets it rewrites."""
    t = history
    before = _snap(t)
    t.era_split = 16
    t.cluster_by = ["seq", "val"]
    out = t.compact_buckets(buckets=list(range(4)))
    assert not out.get("skipped")
    assert _snap(t) == before
    f_val, plan = _scan_fraction(t, min_order=0, max_order=1023, col="val")
    assert f_val < 0.6, plan


def _drive_cowinc_z(spark, path, cluster_by, n_batches=8, per_batch=500):
    """Steady-state CDC with folds kept hot (fold_every=2); every batch
    appends new ids so live winners span both the seq and val ranges."""
    t = LakeTable(spark, path, num_buckets=4, stats_columns=["val"])
    t.fold_every = 2
    t.era_split = 16
    t.cluster_by = cluster_by
    for b in range(n_batches):
        lo, hi = b * per_batch, (b + 1) * per_batch
        df = arrow_frame(
            spark, [(int(j), int(j), int(_val(j))) for j in range(lo, hi)],
            T.StructType.fromDDL("id long, seq long, val long"),
        )
        t.merge_upsert(df, keys=["id"], order_by=["seq"], batch_id=b,
                       mode="cow_incremental" if b else "cow")
    return t, n_batches * per_batch


def test_zorder_fold_path_prunes_and_matches(spark, tmp_path):
    """Fold outputs under cluster_by stay prunable on BOTH clustered
    columns; state is identical to the plain-fold control."""
    plain, hi = _drive_cowinc_z(spark, str(tmp_path / "plain"), None)
    zt, _ = _drive_cowinc_z(spark, str(tmp_path / "z"), ["seq", "val"])
    # drain pending delta chains (fold_every=1 folds any granule with >= 1
    # pending file): non-ordering-column FILE pruning only engages on
    # delta-free snapshots (to_df's LWW-resurrection guard), and the
    # point here is the fold OUTPUT's layout
    for t in (zt, plain):
        t.fold_every = 1
        t.fold_due()
    assert _snap(zt) == _snap(plain)
    assert len(_snap(zt)) == hi

    f_seq, plan_seq = _scan_fraction(zt, min_order=int(hi * 0.9), max_order=hi)
    assert f_seq < 1.0, plan_seq
    got = {r["id"] for r in zt.read_range(0, 511, col="val").collect()}
    assert got == {i for i in range(hi) if _val(i) <= 511}
    f_val, plan_val = _scan_fraction(zt, min_order=0, max_order=511, col="val")
    assert f_val < 1.0, plan_val


def test_zorder_fold_lww_across_cells(spark, tmp_path):
    """A key whose versions land in different Morton cells must still
    resolve ONE winner — the LWW window stays (bucket, salt); the cell
    only shapes the output files (same invariant as the era split)."""
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=2,
                  stats_columns=["val"])
    t.fold_every = 1
    t.era_split = 16
    t.cluster_by = ["seq", "val"]
    df = arrow_frame(
        spark, [(int(j), int(j), int(_val(j))) for j in range(400)],
        T.StructType.fromDDL("id long, seq long, val long"),
    )
    t.merge_upsert(df, keys=["id"], order_by=["seq"], batch_id=0)
    upd = arrow_frame(
        spark, [(i, 10_000 + i, int(_val(i + 7))) for i in range(100)],
        T.StructType.fromDDL("id long, seq long, val long"),
    )
    out = t.merge_upsert(upd, keys=["id"], order_by=["seq"], batch_id=1,
                         mode="cow_incremental")
    assert out["fold"]["skipped"] is False
    got = _snap(t)
    want = {
        i: ((10_000 + i, _val(i + 7)) if i < 100 else (i, _val(i)))
        for i in range(400)
    }
    assert got == want
    d = t.to_df()
    assert d.count() == d.select("id").distinct().count() == 400
