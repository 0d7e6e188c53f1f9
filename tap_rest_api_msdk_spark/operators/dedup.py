"""F9 — last-writer-wins dedup (the engine-owned upsert identity).

The reference declares ``primary_keys`` per stream and delegates dedup to
the downstream Singer target (/root/reference/tap_rest_api_msdk/tap.py:66-70,
514-516). This engine owns it: within a micro-batch, keep the last writer
per key ordered by the monotonic replication key (``seq``), tie-broken by
``commit`` lexicographically (SURVEY §4 physical-execution note — a
deterministic tie-break is required so replay from any checkpoint
reconverges to byte-identical state).

Scale notes (the part that matters at 10^10 events):

* ``lww_dedup`` uses a single hash-aggregate (``max_by``-style struct-max),
  NOT a window: ``row_number() over (partition by ... order by ...)`` forces
  a full sort-per-key and keeps all rows; an aggregate gets map-side partial
  combine for free, so a key with 10^6 updates ships ONE pre-combined row
  per map partition through the shuffle. This is the same two-phase
  partial/final shape as the explicit salted variant, chosen by Catalyst
  automatically.
* ``lww_dedup_salted`` adds an explicit salt stage for pathologically hot
  keys when an operator downstream *requires* a window (e.g. keeping the
  full ordered history): pre-LWW per (key, salt), then final LWW per key.
  For the pure latest-state question, the plain aggregate already handles
  skew (partial combine), so the salted path is there for the window form
  and measured in bench.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.functions.sqlexpr import quote_ident, select_struct


def live_filter_sql(op_col: str) -> str:
    """SQL predicate keeping rows whose op is not a delete tombstone."""
    q = quote_ident(op_col)
    return f"{q} IS NULL OR {q} != 'delete'"


def lww_dedup(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    drop_delete_op_col: Optional[str] = None,
) -> DataFrame:
    """Latest row per key by (order_by...) — aggregate form (map-side combine).

    ``max(struct(order..., values...))`` is Spark's idiomatic argmax: struct
    comparison is lexicographic on fields, so the max struct is the row with
    the greatest (seq, commit, ...) — exactly LWW with deterministic
    tie-break. Columns come back in original order.

    The aggregate and the output projection are each ONE SQL expression,
    so building the plan costs the same few JVM calls whatever the column
    count (a per-column ``Column`` costs several py4j round trips, which
    dominated small micro-batches).

    If ``drop_delete_op_col`` names an op column, rows whose final state is
    a delete tombstone are dropped AFTER the LWW choice (a delete followed
    by nothing removes the key; a later upsert resurrects it).
    """
    cols = df.columns
    carried = [c for c in cols if c not in order_by and c not in keys]
    winner = ", ".join(quote_ident(c) for c in [*order_by, *carried])
    agg = df.groupBy(*keys).agg(F.expr(f"max(struct({winner})) AS __w"))
    out = select_struct(
        agg,
        [
            quote_ident(c) if c in keys else f"__w.{quote_ident(c)} AS {quote_ident(c)}"
            for c in cols
        ],
    )
    if drop_delete_op_col:
        out = out.filter(live_filter_sql(drop_delete_op_col))
    return out


def lww_dedup_window(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    drop_delete_op_col: Optional[str] = None,
) -> DataFrame:
    """Window form: row_number()=1 over desc(order_by). Reference shape for
    tests; the aggregate form above is the production path."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
    out = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if drop_delete_op_col:
        out = out.filter(live_filter_sql(drop_delete_op_col))
    return out


def lww_dedup_salted(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    salt_buckets: int = 16,
    drop_delete_op_col: Optional[str] = None,
) -> DataFrame:
    """Two-phase LWW with explicit salting for hot keys (SURVEY §4.3).

    Phase 1: LWW per (keys..., salt) where salt = pmod(hash(order_by[0]), K)
    — spreads a hot (repo, path) over K reducers; phase 2: final LWW per
    key over at most K survivors. Deterministic: salt depends only on row
    content, and both phases use the same total order.
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in order_by]), F.lit(salt_buckets))
    )
    phase1 = lww_dedup(salted, list(keys) + ["__salt"], order_by)
    phase2 = lww_dedup(phase1.drop("__salt"), keys, order_by)
    if drop_delete_op_col:
        phase2 = phase2.filter(live_filter_sql(drop_delete_op_col))
    return phase2
