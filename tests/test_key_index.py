"""``key_index`` is a table property: a table created with
``LakeTable(..., key_index=True)`` keeps a key bloom on every live file
whichever write produced it — a pipeline batch and its fold, point DML,
full and bucket compaction, rebucket and the maintenance CLI — so an
absent key's lookup reads no file."""

import importlib.util
import os

from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable
from tap_rest_api_msdk_spark.streaming.pipeline import PipelineConfig, process_batch

_SCRIPT = os.path.join(os.path.dirname(__file__), os.pardir, "scripts", "run_pipeline.py")


def _cli():
    spec = importlib.util.spec_from_file_location("run_pipeline", _SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_key_index_blooms_survive_every_write(spark, tmp_path):
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, num_buckets=4, key_index=True)
    versions = []

    def every_file_has_a_bloom(step):
        m = t.current_manifest()
        assert not versions or m["version"] > versions[-1], step
        versions.append(m["version"])
        assert m.get("key_index") is True, step
        assert set(m.get("key_blooms", {})) == set(m["file_owners"]), step
        assert t.lookup({"repo": "absent", "path": "absent"}).count() == 0, step
        assert t.last_lookup_stats["candidate_files"] == 0, (step, t.last_lookup_stats)

    wal = synth_repo_wal(spark, 1600, n_repos=10, n_paths=40, partitions=2, shredded=True)
    process_batch(t, PipelineConfig(stream="boot", num_buckets=4),
                  wal.filter(F.col("seq") < 1000), 0)
    t.fold_every = 1
    inc = PipelineConfig(stream="inc", num_buckets=4, sink_mode="cow_incremental")
    out = process_batch(t, inc, wal.filter(F.col("seq") >= 1000), 0)
    assert out["fold"]["skipped"] is False, out
    every_file_has_a_bloom("process_batch fold")

    live = t.to_df().select("repo", "path").first()
    out = t.delete_keys([{"repo": live["repo"], "path": live["path"]}], batch_id=1)
    assert out["n_deleted"] == 1
    every_file_has_a_bloom("delete_keys")

    assert not t.compact().get("skipped")
    every_file_has_a_bloom("compact")
    assert not t.compact_buckets(buckets=[0, 1]).get("skipped")
    every_file_has_a_bloom("compact_buckets")
    assert not t.rebucket(8).get("skipped")
    every_file_has_a_bloom("rebucket")

    rc = _cli().main(["--mode", "maintenance", "--table", path, "--maintenance", "compact-full"])
    assert rc == 0
    every_file_has_a_bloom("run_pipeline compact-full")
