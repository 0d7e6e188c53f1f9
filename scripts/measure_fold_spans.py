"""r5 verdict item #4: measure fold-output zone-map WIDTH before deciding
whether era-split belongs on the cow_incremental fold path.

The question: after staggered (bucket, slice) folds, how wide is each
fold-output base file's ordering-column span relative to the table span?
Wide spans (ratio -> 1.0) mean read_since / read_range cannot prune folded
bases and era-split-on-fold would pay; narrow spans mean the staggered
fold already keeps outputs time-local and the extra file fan-out
(x era_split per granule) buys nothing.

Two workload shapes, both at the chaos-soak scale (8 buckets, ~20 batches):
  append   — CDC append-mostly: 90% brand-new keys per batch (monotone seq)
  update   — update-heavy: every batch rewrites a sample of OLD keys

Usage: python scripts/measure_fold_spans.py [--keys 4000] [--batches 20]
Prints one JSON line with per-shape {mean,max} span ratios and the
read_since file-pruning ratio at a recent bound.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def drive(spark, path: str, shape: str, n_keys: int, n_batches: int,
          era_split: int = 1):
    from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

    rng = random.Random(7)
    t = LakeTable(spark, path, num_buckets=8)
    t.fold_every = 4
    t.era_split = era_split
    seq = 0

    def mk(rows):
        return spark.createDataFrame(rows, "id long, seq long, op string, text string")

    rows = [(i, i, "upsert", f"v0-{i}") for i in range(n_keys)]
    seq = n_keys
    t.merge_upsert(mk(rows), keys=["id"], order_by=["seq"], batch_id=0, op_col="op")
    next_id = n_keys
    per_batch = max(200, n_keys // 10)
    for b in range(1, n_batches + 1):
        batch = []
        for _ in range(per_batch):
            if shape == "append" and rng.random() < 0.9:
                k = next_id
                next_id += 1
            else:
                k = rng.randrange(next_id)
            batch.append((k, seq, "upsert", f"v{b}-{k}"))
            seq += 1
        t.merge_upsert(
            mk(batch), keys=["id"], order_by=["seq"], batch_id=b,
            op_col="op", mode="cow_incremental",
        )
    return t, seq


def span_report(t, hi_seq: int) -> dict:
    m = t.current_manifest()
    stats = m.get("file_stats", {})
    lo_all, hi_all, ratios, fold_files = None, None, [], 0
    from tap_rest_api_msdk_spark.streaming.laketable import _stat_bounds

    order0 = (m.get("order_by") or ["seq"])[0]
    # base files only (epoch > 0 = written by a fold/merge, not batch 0's
    # bulk shape): measure what read_since must scan once chains fold
    for b, flist in m.get("files", {}).items():
        for f in flist:
            st = _stat_bounds(stats.get(os.path.basename(f)), order0)
            if st is None:
                continue
            lo, hi = st
            lo_all = lo if lo_all is None else min(lo_all, lo)
            hi_all = hi if hi_all is None else max(hi_all, hi)
    table_span = (hi_all - lo_all) or 1
    for b, flist in m.get("files", {}).items():
        for f in flist:
            # fold outputs live in epoch dirs > the bulk batch's epoch 0
            if "/epoch=0000000000-" in f:
                continue
            st = _stat_bounds(stats.get(os.path.basename(f)), order0)
            if st is None:
                continue
            fold_files += 1
            ratios.append((st[1] - st[0]) / table_span)
    # pruning check: a "recent 10%" incremental read
    bound = int(hi_seq * 0.9)
    t.read_since(bound)
    plan = dict(t.last_read_plan)
    return {
        "fold_base_files": fold_files,
        "span_ratio_mean": round(sum(ratios) / len(ratios), 3) if ratios else None,
        "span_ratio_max": round(max(ratios), 3) if ratios else None,
        "read_since_p90": {
            "files_scanned": plan["files_scanned"],
            "files_total": plan["files_total"],
        },
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", type=int, default=4000)
    ap.add_argument("--batches", type=int, default=20)
    args = ap.parse_args()

    from tap_rest_api_msdk_spark.session import get_spark

    spark = get_spark("fold-spans", cores=8, shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for shape in ("append", "update"):
        for era in (1, 4):
            with tempfile.TemporaryDirectory() as d:
                t, hi = drive(spark, d + "/t", shape, args.keys, args.batches,
                              era_split=era)
                out[f"{shape}_era{era}"] = span_report(t, hi)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
