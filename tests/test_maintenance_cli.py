"""The operator maintenance surface: ``scripts/run_pipeline.py --mode
maintenance`` compacts a ``mor`` table in place (compact-small binpacks
fragmented buckets, compact-full rewrites every bucket); live state is
unchanged and the pending deltas are consumed."""

import importlib.util
import json
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


def _state(t):
    return sorted((r["repo"], r["path"], r["seq"]) for r in t.to_df().collect())


def test_maintenance_cli_compacts_mor_table(spark, tmp_path, capsys):
    cli = _cli()
    wal = synth_repo_wal(spark, 2400, n_repos=6, n_paths=20)
    path = str(tmp_path / "t")
    t = LakeTable(spark, path, num_buckets=4)
    conf = PipelineConfig(stream="s", sink_mode="mor", num_buckets=4)

    def ingest(lo, hi):
        for i in range(lo, hi):
            b = wal.filter((F.col("seq") > i * 400) & (F.col("seq") <= (i + 1) * 400))
            assert not process_batch(t, conf, b, i).get("skipped")

    for op, batches in (("compact-small", (0, 4)), ("compact-full", (4, 6))):
        ingest(*batches)
        before = _state(t)
        assert t.current_manifest().get("deltas")
        capsys.readouterr()
        rc = cli.main(["--mode", "maintenance", "--table", path, "--maintenance", op,
                       "--min-input-files", "2"])
        assert rc == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["op"] == op and not out["result"]["skipped"], out
        assert not t.current_manifest().get("deltas"), op
        assert _state(t) == before, op
