"""Merge-on-read sink mode: delta appends, read-side resolution, compaction
folding, equality with copy-on-write, exactly-once, mixed-mode."""

import duckdb
import pytest
from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable
from tap_rest_api_msdk_spark.streaming.pipeline import PipelineConfig, run_batch_replay

N = 6000
SLICES = [(-1, 2000), (2000, 4000), (4000, N)]


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("morwal"))
    synth_repo_wal(spark, N, n_repos=8, n_paths=40).write.parquet(d + "/full")
    payload_schema = None
    return spark.read.parquet(d + "/full"), d


def state(table):
    return {
        (r.repo, r.path): (r.seq, r.commit)
        for r in table.to_df().select("repo", "path", "seq", "commit").collect()
    }


def conf(**kw):
    return PipelineConfig(stream="mor", payload_col="payload", **kw)


def test_mor_equals_cow_and_oracle(spark, wal, tmp_path):
    wal_df, d = wal
    cow = run_batch_replay(spark, wal_df, str(tmp_path / "cow"), conf(), slices=SLICES)
    mor = run_batch_replay(
        spark, wal_df, str(tmp_path / "mor"), conf(sink_mode="mor"), slices=SLICES
    )
    assert state(cow) == state(mor)
    # MOR wrote no base rewrites: base files empty, 3 delta epochs
    m = mor.current_manifest()
    assert m["files"] == {} and len(m["deltas"]) > 0
    # DuckDB oracle agreement
    con = duckdb.connect()
    con.sql(f"create view wal as select * from read_parquet('{d}/full/*.parquet')")
    want = {
        (r[0], r[1]): (r[2], r[3])
        for r in con.sql(
            """
            with ranked as (select *, row_number() over (
                partition by repo, path order by seq desc, commit desc) rn from wal)
            select repo, path, seq, commit from ranked
            where rn = 1 and op <> 'delete'
            """
        ).fetchall()
    }
    assert state(mor) == want


def test_mor_compaction_folds_deltas(spark, wal, tmp_path):
    wal_df, _ = wal
    mor = run_batch_replay(
        spark, wal_df, str(tmp_path / "m2"), conf(sink_mode="mor"), slices=SLICES
    )
    before = state(mor)
    stats = mor.compact()
    m = mor.current_manifest()
    assert m["deltas"] == {}
    assert any(m["files"].values())
    assert state(mor) == before
    removed = mor.vacuum()
    assert removed > 0
    assert state(mor) == before


def test_mor_exactly_once_and_mixed_mode(spark, wal, tmp_path):
    wal_df, _ = wal
    t = LakeTable(spark, str(tmp_path / "m3"), num_buckets=8)
    c = conf(sink_mode="mor")
    from tap_rest_api_msdk_spark.streaming.pipeline import process_batch

    s0 = process_batch(t, c, wal_df.filter(F.col("seq") < 3000), 0)
    assert s0.get("mode") == "mor"
    before = state(t)
    # replaying the committed batch id is a no-op
    s_replay = process_batch(t, c, wal_df.filter(F.col("seq") < 3000), 0)
    assert s_replay["skipped"] and state(t) == before
    # switch to COW for the next batch: folds deltas for affected buckets
    c2 = conf(sink_mode="cow")  # the discovered schema is the table's
    process_batch(t, c2, wal_df.filter(F.col("seq") >= 3000), 1)
    full_cow = run_batch_replay(spark, wal_df, str(tmp_path / "ref"), conf())
    assert state(t) == state(full_cow)


def test_mor_auto_compaction(spark, wal, tmp_path):
    """mor has no pipeline auto-compaction: an explicit compact() between
    batches folds the deltas so far into the base."""
    wal_df, _ = wal
    path, c = str(tmp_path / "m4"), conf(sink_mode="mor")
    mor = run_batch_replay(spark, wal_df, path, c, slices=SLICES[:2])
    assert not mor.compact().get("skipped")
    mor = run_batch_replay(spark, wal_df, path, c, slices=SLICES[2:], start_batch_id=2)
    m = mor.current_manifest()
    # batches 0,1 -> compacted; batch 2's delta remains
    assert len([f for fl in m["deltas"].values() for f in fl]) > 0
    assert any(m["files"].values())
    full_cow = run_batch_replay(spark, wal_df, str(tmp_path / "ref2"), conf(), slices=SLICES)
    assert state(mor) == state(full_cow)


def test_time_travel_and_changes_since(spark, wal, tmp_path):
    """Versioned manifests give snapshot time travel; changes_since(v)
    under MOR returns exactly the delta rows committed after v."""
    wal_df, _ = wal
    mor = run_batch_replay(
        spark, wal_df, str(tmp_path / "tt"), conf(sink_mode="mor"), slices=SLICES
    )
    # state at version 0 == replaying only the first slice
    ref0 = run_batch_replay(
        spark, wal_df, str(tmp_path / "ref0"), conf(), slices=SLICES[:1]
    )
    assert {
        (r.repo, r.path, r.seq) for r in mor.to_df(version=0).select("repo", "path", "seq").collect()
    } == {
        (r.repo, r.path, r.seq) for r in ref0.to_df().select("repo", "path", "seq").collect()
    }
    # incremental read: changes after version 0 = LWW winners of slices 2+3
    changes = mor.changes_since(0)
    lo = SLICES[0][1]
    assert changes.agg(F.min("seq")).collect()[0][0] > lo
    # the change LOG holds each batch's per-key winners: a key updated in
    # both later batches appears once per batch
    from tap_rest_api_msdk_spark.operators.dedup import lww_dedup

    want = sum(
        lww_dedup(
            wal_df.filter((F.col("seq") > s) & (F.col("seq") <= e)),
            ["repo", "path"],
            ["seq", "commit"],
        ).count()
        for s, e in SLICES[1:]
    )
    assert changes.count() == want
