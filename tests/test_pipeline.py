"""End-to-end pipeline: batch replay == streaming == DuckDB oracle;
checkpoint resumption; exactly-once under replay (SURVEY §5.2-5.5, north_rule
sha256 invariant).

The full stage chain runs in every test: WAL scan -> bookmark filter ->
native flatten of the JSON payload -> LWW merge into the lake table.
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal, write_wal_slices
from tap_rest_api_msdk_spark.streaming.metrics import read_metrics
from tap_rest_api_msdk_spark.streaming.pipeline import (
    PipelineConfig,
    process_batch,
    run_batch_replay,
    run_streaming,
)

N_EVENTS = 5000


@pytest.fixture(scope="module")
def wal(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wal"))
    synth_repo_wal(spark, N_EVENTS, n_repos=10, n_paths=40, partitions=4).write.mode(
        "overwrite"
    ).parquet(d + "/full")
    wal_df = spark.read.parquet(d + "/full")
    payload_schema = spark.read.json(
        wal_df.limit(100).select("payload").rdd.map(lambda r: r[0])
    ).schema
    return wal_df, d, payload_schema


def conf(payload_schema, **kw):
    return PipelineConfig(
        stream="repo_wal", payload_col="payload", payload_schema=payload_schema, **kw
    )


# final state per (repo,path): latest non-deleted by (seq, commit);
# the north_rule invariant is sha256 of the content field
ORACLE_FINAL_STATE = """
    with ranked as (
        select *, row_number() over (
            partition by repo, path order by seq desc, commit desc
        ) as rn
        from wal
    )
    select repo, path, seq, commit,
           sha256(json_extract_string(payload, '$.content')) as content_sha
    from ranked where rn = 1 and op <> 'delete'
"""


def oracle_state(wal_path):
    con = duckdb.connect()
    con.sql(
        f"create view wal as select * from read_parquet('{wal_path}/full/*.parquet')"
    )
    rows = con.sql(ORACLE_FINAL_STATE).fetchall()
    return {(r[0], r[1]): (r[2], r[3], r[4]) for r in rows}


def spark_state(table):
    df = table.to_df().select(
        "repo", "path", "seq", "commit", F.sha2(F.col("content"), 256).alias("content_sha")
    )
    return {(r.repo, r.path): (r.seq, r.commit, r.content_sha) for r in df.collect()}


def test_one_shot_replay_matches_oracle(spark, wal, tmp_path):
    wal_df, wal_path, ps = wal
    table = run_batch_replay(spark, wal_df, str(tmp_path / "t"), conf(ps))
    assert spark_state(table) == oracle_state(wal_path)


def test_sliced_replay_matches_oracle_bookmarks_metrics(spark, wal, tmp_path):
    wal_df, wal_path, ps = wal
    slices = [(-1, 1000), (1000, 2500), (2500, N_EVENTS)]
    table = run_batch_replay(spark, wal_df, str(tmp_path / "t"), conf(ps), slices=slices)
    assert spark_state(table) == oracle_state(wal_path)
    assert table.bookmarks()["repo_wal"] == N_EVENTS - 1
    m = read_metrics(spark, table.path)
    assert m.agg(F.sum("event_count")).collect()[0][0] == N_EVENTS
    assert m.select("batch_id").distinct().count() == 3
    assert m.filter(F.col("payload_bytes") <= 0).count() == 0


def test_bulk_first_batch_overlapped_metrics_exact(spark, wal, tmp_path):
    """r5: the empty-table bulk path overlaps the lineage job with the
    merge write and resolves bookmarks/records_committed lazily at commit
    time — every commit payload must still be EXACT (bookmark = max seq,
    records_committed = event count, per-bucket metrics rows present)."""
    wal_df, wal_path, ps = wal
    table = run_batch_replay(spark, wal_df, str(tmp_path / "t"), conf(ps))
    m = table.current_manifest()
    assert table.bookmarks()["repo_wal"] == N_EVENTS - 1
    assert m["records_committed"] == N_EVENTS
    assert m["records_committed_by"] == {"repo_wal": N_EVENTS}
    mt = read_metrics(spark, table.path)
    assert mt.agg(F.sum("event_count")).collect()[0][0] == N_EVENTS
    assert mt.filter(F.col("payload_bytes") <= 0).count() == 0
    assert spark_state(table) == oracle_state(wal_path)


def test_bulk_empty_first_batch_commits_nothing(spark, wal, tmp_path):
    """An empty FIRST batch must not commit a manifest or burn the
    writer's ledger slot (the bulk path aborts between write and commit
    via _EmptyBatch); the same batch_id must still be usable by the
    real first batch afterwards."""
    from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

    wal_df, wal_path, ps = wal
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=8)
    empty = wal_df.filter(F.col("seq") < 0)
    stats = process_batch(table, conf(ps), empty, batch_id=0)
    assert stats["skipped"] and stats.get("empty")
    assert table.current_manifest() is None
    # ADVICE r5: the aborted write must not leave an orphaned epoch dir of
    # empty part files (vacuum() can't reclaim it pre-first-commit)
    data_root = os.path.join(str(tmp_path / "t"), "data")
    orphans = os.listdir(data_root) if os.path.isdir(data_root) else []
    assert orphans == []
    # batch_id 0 still usable: the real bulk load lands normally
    stats = process_batch(table, conf(ps), wal_df, batch_id=0)
    assert not stats.get("skipped")
    assert spark_state(table) == oracle_state(wal_path)


def test_replayed_slice_is_exactly_once(spark, wal, tmp_path):
    wal_df, wal_path, ps = wal
    slices = [(-1, 2500), (2500, N_EVENTS)]
    table = run_batch_replay(spark, wal_df, str(tmp_path / "t"), conf(ps), slices=slices)
    before = spark_state(table)
    v = table.current_manifest()["version"]
    stats = process_batch(table, conf(ps), wal_df.filter(F.col("seq") <= 2500), batch_id=0)
    assert stats["skipped"]
    assert table.current_manifest()["version"] == v
    assert spark_state(table) == before


def test_streaming_matches_oracle_and_resumes(spark, wal, tmp_path):
    wal_df, wal_path, ps = wal
    stream_dir = str(tmp_path / "walstream")
    os.makedirs(stream_dir)
    all_slices = write_wal_slices(wal_df, str(tmp_path / "slices"), 6)
    schema = wal_df.schema
    ckpt = str(tmp_path / "ckpt")
    tpath = str(tmp_path / "t")

    # phase 1: only the first 3 slices exist; drain, "crash"
    for s in all_slices[:3]:
        os.rename(s, os.path.join(stream_dir, os.path.basename(s)))
    table, _ = run_streaming(
        spark, stream_dir, schema, tpath, conf(ps), checkpoint_dir=ckpt, max_files_per_trigger=1
    )
    assert table.to_df().count() > 0

    # phase 2 (restart): remaining slices arrive, same checkpoint
    for s in all_slices[3:]:
        os.rename(s, os.path.join(stream_dir, os.path.basename(s)))
    table, _ = run_streaming(
        spark, stream_dir, schema, tpath, conf(ps), checkpoint_dir=ckpt, max_files_per_trigger=1
    )
    assert spark_state(table) == oracle_state(wal_path)

    # phase 3: FRESH checkpoint replays everything against the same table;
    # LWW + batch-id ledger must reconverge, not duplicate or corrupt
    table, _ = run_streaming(
        spark, stream_dir, schema, tpath, conf(ps),
        checkpoint_dir=str(tmp_path / "ckpt2"), max_files_per_trigger=2,
    )
    assert spark_state(table) == oracle_state(wal_path)


def test_flattened_columns_land_in_table(spark, wal, tmp_path):
    wal_df, _, ps = wal
    table = run_batch_replay(spark, wal_df.limit(500), str(tmp_path / "t"), conf(ps))
    cols = set(table.to_df().columns)
    assert {"content", "metadata_author_name", "metadata_lang", "metadata_size", "tags"} <= cols


def test_streaming_cow_incremental_matches_oracle(spark, wal, tmp_path):
    """Structured-streaming drain with the hierarchical incremental COW
    sink: per-batch delta append + chain-triggered granular folds must
    reach the same final state as the DuckDB replay oracle."""
    wal_df, wal_path, ps = wal
    stream_dir = str(tmp_path / "walstream")
    os.makedirs(stream_dir)
    for s in write_wal_slices(wal_df, str(tmp_path / "slices"), 5):
        os.rename(s, os.path.join(stream_dir, os.path.basename(s)))
    table, _ = run_streaming(
        spark, stream_dir, wal_df.schema, str(tmp_path / "t"),
        conf(ps, sink_mode="cow_incremental", fold_every=2),
        checkpoint_dir=str(tmp_path / "ckpt"), max_files_per_trigger=1,
    )
    assert spark_state(table) == oracle_state(wal_path)


def test_steady_commit_matches_reopened_run_and_aborts_empty(spark, wal, tmp_path):
    """From the second delta batch on, the lineage aggregate runs
    concurrently with the delta write, whose fan-out is sized from the
    previous batch's counts kept in the snapshot. A run that reopens the
    table and config before every batch must be indistinguishable in
    every durable artifact: final state, file layout, claims, ledger. An
    empty batch mid-stream aborts between write and commit (no manifest,
    no ledger slot, no orphan epoch dir)."""
    wal_df, wal_path, ps = wal
    from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

    slices = [(-1, 1500), (1500, 2700), (2700, 3900), (3900, N_EVENTS)]

    def run(tdir, reopen):
        table, c = LakeTable(spark, tdir, num_buckets=8), conf(ps, sink_mode="cow_incremental")
        for i, (s, e) in enumerate(slices):
            if reopen:
                table = LakeTable(spark, tdir, num_buckets=8)
                c = conf(ps, sink_mode="cow_incremental")
            b = wal_df.filter((F.col("seq") > s) & (F.col("seq") <= e))
            st = process_batch(table, c, b, batch_id=i)
            assert not st.get("skipped")
        return table, c

    t_once, c_once = run(str(tmp_path / "once"), False)
    t_reopen, _ = run(str(tmp_path / "reopen"), True)
    assert spark_state(t_once) == spark_state(t_reopen) == oracle_state(wal_path)
    # bookmarks / ledger / record counters / fan-out estimate identical
    mo, mr = t_once.current_manifest(), t_reopen.current_manifest()
    for k in ("bookmarks", "batch_ids", "records_committed", "records_committed_by",
              "num_buckets", "delta_fanout"):
        assert mo[k] == mr[k], k
    assert mo["delta_fanout"]["repo_wal"][1] == N_EVENTS - 1 - slices[-1][0]

    def layout(m):
        return {
            sec: {b: len(v) for b, v in m[sec].items()} for sec in ("files", "deltas")
        }

    assert layout(mo) == layout(mr)

    # empty batch mid-stream on the concurrent path: write happens, resolve
    # aborts, epoch dir reclaimed, ledger slot free
    opath = str(tmp_path / "once")
    v = mo["version"]
    n_dirs = len(os.listdir(os.path.join(opath, "data")))
    st = process_batch(
        t_once, c_once, wal_df.filter(F.col("seq") < 0), batch_id=len(slices)
    )
    assert st["skipped"] and st.get("empty")
    assert t_once.current_manifest()["version"] == v
    assert t_once.last_batch_id_for("repo_wal") == len(slices) - 1
    assert len(os.listdir(os.path.join(opath, "data"))) == n_dirs
    # the same batch_id still lands afterwards (slot not burned)
    late = wal_df.filter(F.col("seq") > N_EVENTS - 10).withColumn(
        "seq", F.col("seq") + N_EVENTS
    )
    st = process_batch(t_once, c_once, late, batch_id=len(slices))
    assert not st.get("skipped")
    assert t_once.last_batch_id_for("repo_wal") == len(slices)


def _evolving_wal(d, shredded):
    """An evolving WAL whose result a lost schema would change. Batch 1:
    100 events whose payloads all carry {a, x}. Batch 2: 200 events on new
    keys; x from event 60 on, y from event 120 on (past the 51-payload
    sample horizon). Returns the batch paths (one parquet file each) and
    the full-row DuckDB oracle."""
    import datetime as dt
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    def payload(i):
        p = {"a": i}
        if i < 100 or i >= 160:
            p["x"] = f"x{i}"
        if i >= 220:
            p["y"] = 2 * i
        return p

    t0 = dt.datetime(2024, 1, 1)
    paths = []
    for lo, hi, fields in ((0, 100, ("a", "x")), (100, 300, ("a", "x", "y"))):
        ids = range(lo, hi)
        if shredded:  # the batch's parquet struct carries its own fields only
            col = pa.array(
                [{f: payload(i).get(f) for f in fields} for i in ids],
                pa.struct([(f, pa.string() if f == "x" else pa.int64()) for f in fields]),
            )
        else:
            col = pa.array([json.dumps(payload(i)) for i in ids])
        tbl = pa.table({
            "seq": pa.array(list(ids), pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(seconds=i) for i in ids], pa.timestamp("us")),
            "repo": [f"r{i % 7}" for i in ids],
            "path": [f"p{i}" for i in ids],
            "commit": [f"c{i}" for i in ids],
            "op": ["upsert"] * len(ids),
            "payload": col,
        })
        os.makedirs(f"{d}/b{lo}")
        pq.write_table(tbl, f"{d}/b{lo}/part-0.parquet")
        paths.append(f"{d}/b{lo}")
    con = duckdb.connect()
    # each batch's struct as JSON text: a struct lacking a field reads null
    payload_sql = "* replace (to_json(payload)::varchar as payload)" if shredded else "*"
    con.sql("create view wal as " + " union all ".join(
        f"select {payload_sql} from read_parquet('{p}/*.parquet')" for p in paths
    ))

    def field(f):
        return f"json_extract_string(payload, '$.{f}')"

    want = {
        (r[0], r[1]): r[2:]
        for r in con.sql(
            f"""
            with ranked as (select *, row_number() over (
                partition by repo, path order by seq desc, commit desc) rn from wal)
            select repo, path, seq, commit, cast({field('a')} as bigint),
                   cast({field('x')} as varchar), cast({field('y')} as bigint)
            from ranked where rn = 1 and op <> 'delete'
            """
        ).fetchall()
    }
    return paths, want


@pytest.mark.parametrize(
    "wal_kind,evolution",
    [("json", "fixed"), ("json", "sample"), ("json", "full"), ("shredded", "sample")],
)
def test_restart_before_every_batch_matches_uninterrupted_run(
    spark, tmp_path, wal_kind, evolution
):
    """The payload schema a stream discovers is committed per stream in
    the manifest, so a run that reopens the table and builds a fresh
    config before every batch (a process restart) equals the
    uninterrupted run on every column and on the committed schema."""
    from tap_rest_api_msdk_spark.streaming.laketable import LakeTable
    from tap_rest_api_msdk_spark.streaming.pipeline import committed_payload_schema

    paths, want = _evolving_wal(str(tmp_path / "wal"), wal_kind == "shredded")

    def fresh(tdir):
        return LakeTable(spark, tdir, num_buckets=4), PipelineConfig(
            stream="evo", payload_col="payload", num_buckets=4,
            sink_mode="cow_incremental", schema_evolution=evolution,
        )

    def run(tdir, reopen):
        table, c = fresh(tdir)
        for i, p in enumerate(paths):
            if reopen:
                table, c = fresh(tdir)
            assert not process_batch(table, c, spark.read.parquet(p), batch_id=i).get("skipped")
        df = table.to_df()
        rows = sorted(df.select(*sorted(df.columns)).collect())
        return df, rows, committed_payload_schema(table.current_manifest(), "evo")

    df, rows, schema = run(str(tmp_path / "once"), False)
    _, rows_reopened, schema_reopened = run(str(tmp_path / "reopen"), True)
    assert rows_reopened == rows
    assert schema_reopened == schema
    # x, known since batch 1, is kept on all 140 batch-2
    # rows that carry it, whether or not batch 2's sample saw it
    assert df.filter((F.col("seq") >= 100) & F.col("x").isNotNull()).count() == 140
    assert ("y" in schema.names) == (evolution == "full" or wal_kind == "shredded")
    if "y" in schema.names:  # nothing dropped: the full-row oracle holds
        got = df.select("repo", "path", "seq", "commit", "a", "x", "y").collect()
        assert {(r[0], r[1]): tuple(r[2:]) for r in got} == want


def test_committed_schema_survives_maintenance(spark, tmp_path):
    """A fold, compact() and rebucket() carry the stream's committed
    payload schema forward unchanged."""
    from tap_rest_api_msdk_spark.streaming.laketable import LakeTable
    from tap_rest_api_msdk_spark.streaming.pipeline import committed_payload_schema

    paths, _ = _evolving_wal(str(tmp_path / "wal"), False)
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=4)
    c = PipelineConfig(stream="evo", payload_col="payload", num_buckets=4,
                       sink_mode="cow_incremental")
    for i, p in enumerate(paths):
        process_batch(table, c, spark.read.parquet(p), batch_id=i)
    schema = committed_payload_schema(table.current_manifest(), "evo")
    assert schema is not None and "x" in schema.names
    table.fold_every = 1
    for op in (table.fold_due, table.compact, lambda: table.rebucket(8)):
        v = table.current_manifest()["version"]
        op()
        m = table.current_manifest()
        assert m["version"] > v
        assert committed_payload_schema(m, "evo") == schema
