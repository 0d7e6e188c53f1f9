"""Chaos replay: randomized batch splits, per-batch sink-mode switches,
duplicate batch deliveries, mid-run restarts (fresh table handles), and a
final compaction — the table must always reconverge to the DuckDB oracle
(north_rule: replay from any checkpoint reconverges)."""

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable
from tap_rest_api_msdk_spark.streaming.pipeline import (
    PipelineConfig,
    committed_payload_schema,
    prepare_batch,
    process_batch,
)

N = 5000


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("chaos")) + "/wal"
    synth_repo_wal(spark, N, n_repos=6, n_paths=25, skew=4.0, delete_mod=20).write.parquet(d)
    return spark.read.parquet(d), d


def oracle(d):
    con = duckdb.connect()
    con.sql(f"create view wal as select * from read_parquet('{d}/*.parquet')")
    return {
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


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_chaos_replay_reconverges(spark, wal, tmp_path, seed):
    wal_df, d = wal
    rng = random.Random(seed)
    want = oracle(d)

    # random contiguous batch boundaries
    cuts = sorted(rng.sample(range(1, N), rng.randint(2, 6)))
    bounds = [-1] + cuts + [N]
    slices = list(zip(bounds[:-1], bounds[1:]))

    path = str(tmp_path / f"t{seed}")
    table = LakeTable(spark, path, num_buckets=8)
    for i, (s, e) in enumerate(slices):
        conf = PipelineConfig(
            stream="chaos",
            payload_col="payload",
            payload_schema=None,
            num_buckets=8,
            sink_mode=rng.choice(["cow", "mor", "cow_incremental"]),
        )
        batch = wal_df.filter((F.col("seq") > s) & (F.col("seq") <= e))
        process_batch(table, conf, batch, i)
        ps = committed_payload_schema(table.current_manifest(), "chaos")
        if rng.random() < 0.5:
            # duplicate delivery of the SAME batch id (replay after crash)
            process_batch(table, conf, batch, i)
        if ps is not None and rng.random() < 0.4:
            # granular-COW audit writer: re-applies a random earlier slice
            # DIRECTLY through merge_upsert (no footprint, so the
            # (bucket, slice)-granular COW path plans/consumes files);
            # replaying already-applied events is LWW-idempotent, so the
            # oracle stays unchanged while the granular bookkeeping mixes
            # with every other mode's commits
            s2, e2 = slices[rng.randrange(0, i + 1)]
            dup = wal_df.filter((F.col("seq") > s2) & (F.col("seq") <= e2))
            conf2 = PipelineConfig(stream="audit", payload_col="payload", num_buckets=8)
            table.merge_upsert(
                prepare_batch(dup, conf2, ps),
                keys=conf2.keys, order_by=conf2.order_by, op_col=conf2.op_col,
                batch_id=1000 + i, mode="cow", writer_id="audit",
            )
        if rng.random() < 0.4:
            # restart: a fresh handle must resume from the manifest alone
            table = LakeTable(spark, path, num_buckets=8)
        if rng.random() < 0.3:
            table.compact()
            table.vacuum()
        if rng.random() < 0.3:
            # incremental binpack mid-chaos: CDC-invisible maintenance
            # whose bucket-level claims must coexist with every sink
            # mode's commits and the duplicate deliveries above
            table.compact_buckets(small_file_bytes=32 << 20, min_input_files=2)
        if rng.random() < 0.15:
            # layout evolution mid-chaos (also oracle-invariant)
            table.rebucket(rng.choice([4, 8, 16]))

    got = {
        (r.repo, r.path): (r.seq, r.commit)
        for r in table.to_df().select("repo", "path", "seq", "commit").collect()
    }
    assert got == want
    assert table.bookmarks()["chaos"] == N - 1


@pytest.mark.parametrize("seed", [31])
def test_chaos_replay_shredded_wal(spark, tmp_path, seed):
    """Same chaos protocol over the PRE-SHREDDED WAL (struct payload, no
    JSON parse anywhere): must reconverge to the same DuckDB oracle."""
    d = str(tmp_path / "wal")
    synth_repo_wal(
        spark, N, n_repos=6, n_paths=25, skew=4.0, delete_mod=20, shredded=True
    ).write.parquet(d)
    wal_df = spark.read.parquet(d)
    want = oracle(d)
    rng = random.Random(seed)

    cuts = sorted(rng.sample(range(1, N), rng.randint(2, 6)))
    bounds = [-1] + cuts + [N]
    slices = list(zip(bounds[:-1], bounds[1:]))

    path = str(tmp_path / "t")
    table = LakeTable(spark, path, num_buckets=8)
    for i, (s, e) in enumerate(slices):
        conf = PipelineConfig(
            stream="chaos", payload_col="payload", num_buckets=8,
            sink_mode=rng.choice(["cow", "mor", "cow_incremental"]),
        )
        batch = wal_df.filter((F.col("seq") > s) & (F.col("seq") <= e))
        process_batch(table, conf, batch, i)
        if rng.random() < 0.5:
            process_batch(table, conf, batch, i)
        if rng.random() < 0.4:
            table = LakeTable(spark, path, num_buckets=8)
        if rng.random() < 0.3:
            table.compact()
            table.vacuum()

    got = {
        (r.repo, r.path): (r.seq, r.commit)
        for r in table.to_df().select("repo", "path", "seq", "commit").collect()
    }
    assert got == want
    assert table.bookmarks()["chaos"] == N - 1
