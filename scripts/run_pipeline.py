#!/usr/bin/env python
"""spark-submit entrypoint: replay/tail a change-event WAL into a lake table.

Cluster usage (north_rule run mode):

    zip -r engine.zip tap_rest_api_msdk_spark/
    spark-submit --py-files engine.zip scripts/run_pipeline.py \
        --wal-dir  s3://bucket/wal/repos \
        --table    s3://bucket/lake/repos \
        --keys repo,path --replication-key seq --order-by seq,commit \
        --op-col op --payload-col payload \
        --mode stream --max-files-per-trigger 8

Local smoke:

    python scripts/run_pipeline.py --demo

The same binary runs at N and 4N executors unchanged — parallelism comes
entirely from cluster resources (see SCALE.md).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys

# local runs: make the repo root importable (spark-submit ships the package
# via --py-files instead)
_repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_repo_root, "tap_rest_api_msdk_spark")):
    sys.path.insert(0, _repo_root)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--wal-dir", help="WAL directory (parquet slices)")
    p.add_argument("--table", help="lake table path")
    p.add_argument("--keys", default="repo,path")
    p.add_argument("--replication-key", default="seq")
    p.add_argument("--order-by", default="seq,commit")
    p.add_argument("--op-col", default="op")
    p.add_argument("--payload-col", default="payload")
    p.add_argument("--num-buckets", type=int, default=64)
    p.add_argument("--mode",
                   choices=["batch", "stream", "net-changes", "maintenance"],
                   default="batch")
    p.add_argument("--maintenance",
                   choices=["stats", "compact-small", "compact-full",
                            "vacuum", "expire"],
                   default="stats",
                   help="maintenance mode op: stats (health report), "
                        "compact-small (binpack fragmented buckets), "
                        "compact-full (whole-table rewrite), vacuum "
                        "(reclaim unreferenced files), expire (drop old "
                        "manifests) — the spark-submit surface a cron "
                        "maintenance job calls")
    p.add_argument("--era-split", type=int, default=1,
                   help="clustered rewrite layout for compact-small/"
                        "compact-full: cells per granule (1 = off)")
    p.add_argument("--cluster-by", default=None,
                   help="comma-separated columns for a z-order (Morton) "
                        "layout instead of the 1-D ordering-range split; "
                        "each needs manifest zone-map bounds "
                        "(the ordering column or stats_columns)")
    p.add_argument("--small-file-bytes", type=int, default=32 << 20)
    p.add_argument("--min-input-files", type=int, default=4,
                   help="stats / compact-small: small files per bucket "
                        "before a binpack is due")
    p.add_argument("--retain-last", type=int, default=3,
                   help="vacuum/expire: snapshots to keep")
    p.add_argument("--from-version", type=int, default=None,
                   help="net-changes mode: baseline version (-1 = all "
                        "history; default = table head at first run)")
    p.add_argument("--sink-dir", default=None,
                   help="net-changes mode: parquet output root (one "
                        "window_<from>_<to>/ dir per micro-batch window)")
    p.add_argument("--max-files-per-trigger", type=int, default=4)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--continuous", action="store_true",
                   help="stream mode: keep tailing instead of drain-and-stop")
    p.add_argument("--tap-config", default=None,
                   help="path to a tap-style JSON config (overrides flags)")
    p.add_argument("--tag", default=None,
                   help="after a successful batch/stream run, pin the "
                        "resulting snapshot under this name (survives "
                        "expire/vacuum; read back via "
                        "to_df(version=<tag>))")
    p.add_argument("--demo", action="store_true",
                   help="synthesize a WAL in a temp dir and replay it")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    from tap_rest_api_msdk_spark.streaming.pipeline import (
        PipelineConfig,
        run_batch_replay,
        run_streaming,
    )

    # on a cluster, master/memory come from spark-submit; locally fall back
    spark = SparkSession.builder.appName("cdc-ingest").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.demo:
        import tempfile

        from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal

        base = tempfile.mkdtemp(prefix="cdc-demo-")
        synth_repo_wal(spark, 100_000, n_repos=50, n_paths=200).write.mode(
            "overwrite"
        ).parquet(base + "/wal")
        args.wal_dir, args.table = base + "/wal", base + "/table"
        args.mode = "batch"
        print(f"demo WAL + table under {base}")

    if args.mode == "net-changes":
        # CDC *consumer*: drain the table's row-level changelog (the
        # delta-walk diff per checkpointed window) to parquet — the lake
        # table as a CDC source, same spark-submit surface as the sink
        if not args.table or not args.sink_dir:
            print("--table and --sink-dir are required for net-changes",
                  file=sys.stderr)
            return 2
        from pyspark.sql import functions as F

        from tap_rest_api_msdk_spark.streaming.laketable import LakeTable
        from tap_rest_api_msdk_spark.streaming.net_changes import (
            stream_net_changes,
        )

        table = LakeTable(spark, args.table, num_buckets=args.num_buckets)
        ckpt = args.checkpoint_dir or os.path.join(args.sink_dir, "_checkpoint")
        applied = []

        def sink(df, batch_id, window):
            # overwrite per-window dir = idempotent under crash replay
            out = os.path.join(args.sink_dir, f"window_{window[0]}_{window[1]}")
            df.withColumn("__window_end", F.lit(window[1])).write.mode(
                "overwrite"
            ).parquet(out)
            applied.append({"batch": batch_id, "from": window[0],
                            "to": window[1]})

        stream_net_changes(table, sink, ckpt,
                           starting_version=args.from_version)
        summary = {"table": args.table, "sink": args.sink_dir,
                   "windows": applied}
        if args.tag:
            # pin the version the consumer drained TO (falls back to the
            # current head when this drain saw no data commits)
            from tap_rest_api_msdk_spark.streaming.laketable import (
                head_version,
            )

            v = applied[-1]["to"] if applied else head_version(args.table)
            if v is None:
                print("--tag: nothing to pin (no committed snapshot)",
                      file=sys.stderr)
                return 2
            summary["tag"] = args.tag
            summary["tagged_version"] = table.tag(args.tag, version=v,
                                                  overwrite=True)
        print(json.dumps(summary))
        return 0

    if args.mode == "maintenance":
        if not args.table:
            print("--table is required for maintenance", file=sys.stderr)
            return 2
        from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

        table = LakeTable(spark, args.table, num_buckets=args.num_buckets)
        if args.era_split and args.era_split > 1:
            table.era_split = args.era_split
            if args.cluster_by:
                table.cluster_by = [c.strip() for c in
                                    args.cluster_by.split(",") if c.strip()]
        if args.maintenance == "stats":
            out = table.stats(small_file_bytes=args.small_file_bytes,
                              min_input_files=args.min_input_files)
        elif args.maintenance == "compact-small":
            out = table.compact_buckets(small_file_bytes=args.small_file_bytes,
                                        min_input_files=args.min_input_files)
        elif args.maintenance == "compact-full":
            out = table.compact()
        elif args.maintenance == "vacuum":
            out = {"files_reclaimed": table.vacuum(retain_last=args.retain_last)}
        else:  # expire
            out = {"manifests_expired": table.expire_manifests(
                retain_last=args.retain_last)}
        print(json.dumps({"table": args.table, "op": args.maintenance,
                          "result": out}))
        return 0

    if not args.wal_dir or not args.table:
        print("--wal-dir and --table are required (or --demo)", file=sys.stderr)
        return 2

    if args.tap_config:
        from tap_rest_api_msdk_spark.bridge import build_pipelines

        with open(args.tap_config) as fh:
            stream, conf, _planner = build_pipelines(json.load(fh))[0]
        conf = dataclasses.replace(conf, num_buckets=args.num_buckets)
    else:
        conf = PipelineConfig(
            stream="cdc",
            keys=args.keys.split(","),
            replication_key=args.replication_key,
            order_by=args.order_by.split(","),
            op_col=args.op_col or None,
            payload_col=args.payload_col or None,
            payload_schema=None,  # discovered from the first batch (F4)
            num_buckets=args.num_buckets,
        )

    if args.mode == "batch":
        wal = spark.read.parquet(args.wal_dir)
        table = run_batch_replay(spark, wal, args.table, conf)
    else:
        schema = spark.read.parquet(args.wal_dir).schema
        table, _q = run_streaming(
            spark,
            args.wal_dir,
            schema,
            args.table,
            conf,
            checkpoint_dir=args.checkpoint_dir,
            max_files_per_trigger=args.max_files_per_trigger,
            available_now=not args.continuous,
        )
        if args.continuous:
            _q.awaitTermination()

    m = table.current_manifest()
    summary = {
        "table": args.table,
        "version": m["version"] if m else None,
        "batch_id": m["batch_id"] if m else None,
        "bookmarks": m.get("bookmarks", {}) if m else {},
        "live_rows": table.to_df().count() if m else 0,
    }
    if args.tag and m:
        summary["tag"] = args.tag
        summary["tagged_version"] = table.tag(args.tag, overwrite=True)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
