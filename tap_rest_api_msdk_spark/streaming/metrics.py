"""Per-partition lineage metrics (north_star requirement).

Each committed micro-batch appends one row per key-bucket to a metrics
parquet table: source offset range, event count, payload bytes, max
replication key, event-time watermark. Computed with a single hash
aggregate (map-side combined) — negligible vs the merge itself.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.functions.sqlexpr import quote_ident


def lineage_metrics(
    batch_df: DataFrame,
    bucket_col: str,
    rk_col: str,
    ts_col: Optional[str] = None,
    bytes_col: Optional[str] = None,
    slice_col: Optional[str] = None,
) -> DataFrame:
    """One row per bucket. The aggregates are built as SQL text, so the
    plan costs the same few JVM calls whatever the batch's width."""
    rk = quote_ident(rk_col)
    aggs = [
        "count(1) AS event_count",
        f"min({rk}) AS offset_start",
        f"max({rk}) AS offset_end",
        f"max({rk}) AS max_replication_key",
    ]
    if ts_col:
        aggs.append(f"max({quote_ident(ts_col)}) AS watermark")
    if bytes_col:
        aggs.append(f"sum(cast(length({quote_ident(bytes_col)}) AS BIGINT)) AS payload_bytes")
    if slice_col:
        # (bucket, slice64) footprint for granular COW: <=64 distinct ints
        # per bucket, collected in the SAME map-side-combined aggregate —
        # the merge gets its granule plan without an extra scan
        aggs.append(f"collect_set({quote_ident(slice_col)}) AS slice_classes")
    return (
        batch_df.groupBy(F.col(bucket_col).alias("partition_id"))
        .agg(F.expr(f"struct({', '.join(aggs)}) AS __m"))
        .select("partition_id", "__m.*")
    )


def append_metrics_rows(rows, schema, table_path: str, batch_id: int, stream: str) -> None:
    """Driver-side metrics append via pyarrow (rows are already collected —
    spinning a Spark job to write ~num_buckets rows costs more than the
    write itself; measured ~0.5-1s/batch saved)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = [f.name for f in schema.fields]
    data = {c: [r[c] for r in rows] for c in cols}
    data["batch_id"] = [batch_id] * len(rows)
    data["stream"] = [stream] * len(rows)
    table = pa.table(data)
    d = os.path.join(table_path, "metrics")
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, f"batch-{batch_id:010d}.parquet"))


def read_metrics(spark, table_path: str) -> Optional[DataFrame]:
    p = os.path.join(table_path, "metrics")
    if not os.path.isdir(p):
        return None
    return spark.read.parquet(p)
