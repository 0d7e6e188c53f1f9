"""Fixed cost of one steady micro-batch commit, as deterministic counters.

After a bootstrap commit and one warm-up delta batch (which records the
stream's fan-out estimate in the snapshot), a shredded ``cow_incremental``
micro-batch that does not fold must:

* run at most 2 Spark jobs (the write and the concurrent lineage
  aggregate), counted through its job group;
* read HEAD exactly once (``LakeTable._current_core``);
* build its plans with a number of py4j round trips that does not grow
  with the payload's width (60 fields within 10% of 15 fields).
"""

import gc

from py4j import protocol as proto
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable
from tap_rest_api_msdk_spark.streaming.pipeline import PipelineConfig, process_batch

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
