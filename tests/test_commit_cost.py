"""Fixed cost of one steady micro-batch commit, as deterministic counters.

After a bootstrap commit and one warm-up delta batch (which records the
stream's fan-out estimate in the snapshot), a shredded ``cow_incremental``
micro-batch that does not fold must:

* run at most 2 Spark jobs (the write and the concurrent lineage
  aggregate), counted through its job group;
* read HEAD exactly once (``LakeTable._current_core``);
* build its plans with a number of py4j round trips that does not grow
  with the payload's width (60 fields within 10% of 15 fields).

Every other operation plans on one snapshot too: opening a table reads no
manifest, each DML verb reads HEAD once, and an SCD2 micro-batch reads
each table's HEAD once per half (state twice, history once).

No engine path hands Python rows to Spark as a pickled Python RDD: payload
inference, the ownership and granule lookups, point probes and empty
reads all ship Arrow, so ``SparkContext.parallelize`` is never called.
"""

import gc
from contextlib import contextmanager

from pyspark import SparkContext

from py4j import protocol as proto
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.session import arrow_frame
from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable
from tap_rest_api_msdk_spark.streaming.pipeline import (
    PipelineConfig,
    process_batch,
    run_batch_replay,
)
from tap_rest_api_msdk_spark.streaming.scd2 import scd2_process_batch

BOOT, BATCH = 2000, 500
RELEASE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME


def steady_commit_cost(spark, root: str, n_fields: int) -> dict:
    wal = synth_repo_wal(
        spark, BOOT + 2 * BATCH, n_repos=10, n_paths=40, partitions=2, shredded=True
    )
    base_fields = len(wal.schema["payload"].dataType.fields)
    extra = ", ".join(f"seq + {i} AS x{i}" for i in range(n_fields - base_fields))
    wal.withColumn("payload", F.expr(f"struct(payload.*, {extra})")).write.parquet(root + "/wal")
    wal = spark.read.parquet(root + "/wal")
    assert len(wal.schema["payload"].dataType.fields) == n_fields

    def batch(i):
        lo = BOOT + i * BATCH
        return wal.filter((F.col("seq") >= lo) & (F.col("seq") < lo + BATCH))

    table = LakeTable(spark, root + "/t", num_buckets=8)
    boot = PipelineConfig(stream="bootstrap", num_buckets=8, sink_mode="cow")
    assert not process_batch(table, boot, wal.filter(F.col("seq") < BOOT), 0).get("skipped")
    conf = PipelineConfig(stream="steady", num_buckets=8, sink_mode="cow_incremental")
    assert not process_batch(table, conf, batch(0), 0).get("skipped")

    df = batch(1)
    heads = [0]
    calls = [0]
    core, send = LakeTable._current_core, ClientServerConnection.send_command

    def counting_core(self):
        heads[0] += 1
        return core(self)

    def counting_send(self, command):
        # not counted: py4j's messages releasing JVM references, sent when
        # Python frees a proxy, i.e. at times set by its collector
        if not command.startswith(RELEASE):
            calls[0] += 1
        return send(self, command)

    sc = spark.sparkContext
    group = f"commit-cost-{n_fields}"
    sc.setJobGroup(group, "one steady commit")
    gc.collect()
    gc.disable()
    LakeTable._current_core = counting_core
    ClientServerConnection.send_command = counting_send
    try:
        out = process_batch(table, conf, df, 1)
    finally:
        ClientServerConnection.send_command = send
        LakeTable._current_core = core
        gc.enable()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not out.get("skipped")
    assert out["fold"]["skipped"]  # a plain delta commit, no fold
    return {
        "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        "heads": heads[0],
        "py4j": calls[0],
    }


def test_steady_commit_fixed_cost(spark, tmp_path):
    narrow = steady_commit_cost(spark, str(tmp_path / "f15"), 15)
    wide = steady_commit_cost(spark, str(tmp_path / "f60"), 60)
    for cost in (narrow, wide):
        assert 1 <= cost["jobs"] <= 2, cost
        assert cost["heads"] == 1, cost
    assert wide["py4j"] <= 1.10 * narrow["py4j"], (narrow, wide)


def test_cow_into_empty_table_runs_lineage_and_write_only(spark, tmp_path):
    """A shredded COW micro-batch into an empty 8-bucket table plans its
    write width from the bucket count and takes its footprint from the
    concurrent lineage aggregate after the write: its job group holds the
    lineage and the write jobs only (2 each under AQE), no footprint scan
    of its own."""
    wal = synth_repo_wal(spark, BOOT, n_repos=10, n_paths=40, partitions=2, shredded=True)
    wal.write.parquet(str(tmp_path / "wal"))
    wal = spark.read.parquet(str(tmp_path / "wal"))
    n_keys = wal.select("repo", "path").distinct().count()
    table = LakeTable(spark, str(tmp_path / "t"), num_buckets=8)
    conf = PipelineConfig(stream="boot", num_buckets=8, sink_mode="cow")
    sc = spark.sparkContext
    group = "commit-cost-empty-cow"
    sc.setJobGroup(group, "one COW commit into an empty table")
    try:
        out = process_batch(table, conf, wal, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not out.get("skipped")
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 4, jobs
    assert table.to_df(drop_deletes=False).count() == n_keys


@contextmanager
def _parallelize_calls(counts: dict, name: str):
    """Count ``SparkContext.parallelize`` calls inside the block: every
    ``createDataFrame(list)``, and PySpark's silent non-Arrow fallback,
    goes through it."""
    calls = [0]
    orig = SparkContext.parallelize

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return orig(self, *args, **kwargs)

    SparkContext.parallelize = counting
    try:
        yield
    finally:
        SparkContext.parallelize = orig
        counts[name] = calls[0]


def test_engine_paths_never_parallelize(spark, tmp_path):
    counts: dict = {}
    # JSON WAL; the payload gains metadata.stars from seq 450 on, the first
    # event of slice 2, so slice 2's inference sample sees the evolution
    wal = synth_repo_wal(spark, 904, n_repos=10, n_paths=40, evolve_at=450, partitions=2)
    conf = PipelineConfig(stream="json", num_buckets=4)
    with _parallelize_calls(counts, "replay: 2 slices, inference, granular COW"):
        t = run_batch_replay(spark, wal, str(tmp_path / "j"), conf, [(-1, 449), (449, 899)])
    assert any("stars" in c for c in t.to_df().columns)
    v = t.current_manifest()["version"]
    with _parallelize_calls(counts, "granular COW slice"):
        out = process_batch(t, conf, wal.filter(F.col("seq") > 899), 2)
    assert not out.get("skipped")
    head = t.current_manifest()["version"]
    key = t.to_df().select("repo", "path").first().asDict()
    with _parallelize_calls(counts, "reads"):
        assert t.to_df().count() > 0
        assert t.read_since(450).count() > 0
        assert t.read_since(10**9).count() == 0
        assert t.cdc_diff(v).count() > 0
        assert t.cdc_diff(head).count() == 0
        assert t.changes_since(head).count() == 0
        assert t.lookup(key).count() == 1
    with _parallelize_calls(counts, "point update/delete"):
        assert t.update_keys([key], {"content": F.lit("x")}, batch_id=10)["n_updated"] == 1
        assert t.delete_keys([key], batch_id=11)["n_deleted"] == 1

    # cow_incremental: delta commits, then a fold of the granules due
    swal = synth_repo_wal(spark, 1600, n_repos=10, n_paths=40, partitions=2, shredded=True)
    s = LakeTable(spark, str(tmp_path / "s"), num_buckets=4)
    s.fold_every = 2
    boot = PipelineConfig(stream="boot", num_buckets=4)
    process_batch(s, boot, swal.filter(F.col("seq") < 1000), 0)
    inc = PipelineConfig(stream="inc", num_buckets=4, sink_mode="cow_incremental")
    folds = []
    with _parallelize_calls(counts, "delta commits and folds"):
        for i in range(3):
            lo = 1000 + 200 * i
            batch = swal.filter((F.col("seq") >= lo) & (F.col("seq") < lo + 200))
            folds.append(process_batch(s, inc, batch, i)["fold"])
        assert s.to_df().count() > 0
    assert any(not f.get("skipped") for f in folds), folds
    assert all(n == 0 for n in counts.values()), counts


@contextmanager
def _head_reads(counts: dict, name: str):
    """Count HEAD reads (``LakeTable._current_core`` calls, which every
    ``current_manifest`` makes) inside the block."""
    calls = [0]
    core = LakeTable._current_core

    def counting(self):
        calls[0] += 1
        return core(self)

    LakeTable._current_core = counting
    try:
        yield
    finally:
        LakeTable._current_core = core
        counts[name] = calls[0]


def test_each_operation_plans_on_one_snapshot(spark, tmp_path):
    schema = T.StructType([
        T.StructField("id", T.LongType()), T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()), T.StructField("text", T.StringType()),
    ])
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, num_buckets=4)
    rows = arrow_frame(spark, [(i, i, "upsert", f"v{i}") for i in range(40)], schema)
    t.merge_upsert(rows, keys=["id"], order_by=["seq"], batch_id=0, op_col="op")

    wal = synth_repo_wal(spark, 400, n_repos=5, n_paths=20, partitions=2, shredded=True)
    state = LakeTable(spark, str(tmp_path / "state"), num_buckets=4)
    hist = LakeTable(spark, str(tmp_path / "hist"), num_buckets=4)
    conf = PipelineConfig(stream="s", num_buckets=4)
    scd2_process_batch(state, hist, conf, wal.filter(F.col("seq") < 200), 0)

    counts: dict = {}
    with _head_reads(counts, "LakeTable()"):
        LakeTable(spark, path, num_buckets=16)
    with _head_reads(counts, "delete_where"):
        assert t.delete_where("id = 1", batch_id=1)["n_deleted"] == 1
    with _head_reads(counts, "update_where"):
        assert t.update_where("id = 2", {"text": "'x'"}, batch_id=2)["n_updated"] == 1
    with _head_reads(counts, "delete_keys"):
        assert t.delete_keys([{"id": 3}], batch_id=3)["n_deleted"] == 1
    with _head_reads(counts, "update_keys"):
        assert t.update_keys([{"id": 4}], {"text": F.lit("y")}, batch_id=4)["n_updated"] == 1
    with _head_reads(counts, "scd2_process_batch"):
        out = scd2_process_batch(state, hist, conf, wal.filter(F.col("seq") >= 200), 1)
    assert not out["history"]["skipped"] and not out["state"]["skipped"]
    assert counts == {
        "LakeTable()": 0,
        "delete_where": 1,
        "update_where": 1,
        "delete_keys": 1,
        "update_keys": 1,
        "scd2_process_batch": 3,
    }, counts
    live = {r["id"]: r["text"] for r in t.to_df().collect()}
    assert 1 not in live and 3 not in live and live[2] == "x" and live[4] == "y"
