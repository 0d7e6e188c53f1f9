"""Registered operator queries for the driver's correctness gate.

Each function takes (spark, sf_dir) and returns a DataFrame whose column
NAMES and VALUES match the DuckDB oracle SQL in ``__spark_entry__.oracle_sql``
(the driver hashes values after sorting columns by name).

Cross-engine determinism rules used throughout:
* money/double aggregations go through ``decimal`` per-row casts so the
  distributed sum is exact, then back to double (no float-order drift);
* doubles exposed directly are ``round(x, 6)`` (or 4 for cosines) on both
  sides, computed from identical IEEE double expressions;
* regexp semantics: Spark replaces all matches by default, DuckDB needs
  the ``'g'`` flag — the oracle SQL carries it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.functions import text as TX
from tap_rest_api_msdk_spark.functions.similarity import cosine, cosine_topk
from tap_rest_api_msdk_spark.operators.dedup import lww_dedup
from tap_rest_api_msdk_spark.operators.incremental import incremental_filter, result_limit
from tap_rest_api_msdk_spark.operators.neardup import (
    exact_dedup,
    jaccard_pairs,
    minhash_dedup,
    simhash_neardups,
    spread_input as _spread,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# CDC / reference-semantics operators (events = WAL stand-in, FX5)
# ---------------------------------------------------------------------------

def q_lww_latest_state(spark, sf_dir):
    """F9: last-writer-wins latest event per user_id by event_id."""
    ev = _t(spark, sf_dir, "events")
    return lww_dedup(ev, ["user_id"], ["event_id"]).select(
        "user_id", "event_id", "event_type", "value", "props"
    )


def q_incremental_filter(spark, sf_dir):
    """F10: replication-key pushdown filter (bookmark = 5000)."""
    ev = _t(spark, sf_dir, "events")
    return incremental_filter(ev, "event_id", 5000).select(
        "event_id", "user_id", "event_type", "value"
    )


def q_flatten_props(spark, sf_dir):
    """F1/F7: JSON payload field promotion (known-schema native path)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("props_k"),
    )


def q_result_limit(spark, sf_dir):
    """F11: deterministic result cap (ordered by replication key)."""
    ev = _t(spark, sf_dir, "events").orderBy("event_id")
    return result_limit(ev, 100).select("event_id", "user_id", "event_type")


def q_bookmark_state(spark, sf_dir):
    """F3/§2.4: per-stream STATE — max replication key + truncated
    datetime serialization (utils.py:113 parity)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.max("event_id").alias("bookmark"),
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.max("ts"), "yyyy-MM-dd'T'HH:mm:ss").alias("bookmark_str"),
    )


def q_lineage_metrics(spark, sf_dir):
    """Per-partition lineage: offset range, count, watermark (north_star)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("partition_id", F.pmod(F.col("user_id"), F.lit(16)).cast("long"))
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.min("event_id").alias("offset_start"),
            F.max("event_id").alias("offset_end"),
            # formatted string: pins cross-engine timestamp representation
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("watermark"),
        )
    )


def q_asof_join_signup(spark, sf_dir):
    """As-of (temporal) join: each purchase matched to the user's latest
    signup at-or-before it. Spark lacks ASOF JOIN; the engine's
    union+running-last formulation is O(|L|+|R|) through one exchange —
    and DuckDB's NATIVE ``ASOF LEFT JOIN`` is the oracle."""
    from tap_rest_api_msdk_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
    )
    out = asof_join(purchases, signups, ["user_id"], "ts", right_cols=["signup_event_id"])
    return out.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.col("signup_event_id_asof"),
    )


def q_range_join_clicks(spark, sf_dir):
    """Range join: per error event, clicks by the same user in the
    preceding 5 minutes — bucketed (key, time-bin) join, never the per-key
    cross product; exact-inequality oracle in DuckDB."""
    from tap_rest_api_msdk_spark.operators.range_join import range_join_count

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = range_join_count(errors, clicks, ["user_id"], "ts", 300, out_col="n_clicks_5m")
    return out.select("event_id", "user_id", "n_clicks_5m")


def q_scd2_history(spark, sf_dir):
    """SCD Type-2 over the CDC stream: every event version of a user gets a
    half-open [valid_from, valid_to) interval; exactly one open (current)
    row per user. One window shuffle keyed user_id (see operators/scd.py
    for why the per-key sort is irreducible here and LWW's aggregate form
    is not applicable)."""
    from tap_rest_api_msdk_spark.operators.scd import scd2_intervals

    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    out = scd2_intervals(ev, ["user_id"], ["ts", "event_id"], "ts")
    return out.select(
        "user_id",
        "event_id",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


def q_window_lag_delta(spark, sf_dir):
    """Window-function coverage: per-user event-over-event value delta."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("value_delta"),
    )


# ---------------------------------------------------------------------------
# dedup family (documents)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text")


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Skew guard ON by default (max_shingle_freq): at web scale a
    boilerplate shingle shared by >100 docs is a quadratic hot key in the
    inverted-index self-join; the cap bounds per-shingle fan-out. The
    oracle SQL carries the identical document-frequency filter."""
    docs = _t(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3, max_shingle_freq=100)


def q_dedup_minhash_lsh(spark, sf_dir):
    """Banded MinHash LSH + exact-Jaccard verify, in portable-hash mode
    (md5-derived 60-bit lanes) so the full pipeline — signatures, band
    buckets, candidate join, verification — is twinned exactly in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_dedup(
        docs, "doc_id", "text", n=3, k=32, bands=16, threshold=0.5, portable=True
    )


def q_dedup_simhash(spark, sf_dir):
    """60-bit portable SimHash + prefix-bucketed hamming join (exact DuckDB
    twin via the same md5-derived token hashes)."""
    docs = _t(spark, sf_dir, "documents")
    out = simhash_neardups(
        docs, "doc_id", "text", max_hamming=6, prefix_bits=12, portable=True
    )
    # DuckDB bit_count returns a narrow int; pin both sides to BIGINT
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_dedup_components(spark, sf_dir):
    """Near-dup CLUSTERS: MinHash-LSH pairs -> iterative connected
    components (min-label propagation) -> one row per cluster. The
    iterative Spark loop is oracled by a DuckDB RECURSIVE CTE transitive
    closure — an exact gate even for the iterative algorithm."""
    from tap_rest_api_msdk_spark.operators.neardup import dedup_components

    docs = _t(spark, sf_dir, "documents")
    return dedup_components(
        docs, "doc_id", "text", n=3, k=32, bands=16, threshold=0.5, portable=True
    )


def q_sample_split(spark, sf_dir):
    """Deterministic train/val/test assignment by portable-hash threshold —
    the split is a pure function of doc_id (stable across runs, engines,
    and cluster sizes; no RNG state to ship). 90/5/5 by hash60 ranges."""
    from tap_rest_api_msdk_spark.functions.portable_hash import HASH60_MAX, hash60

    docs = _t(spark, sf_dir, "documents")
    h = hash60(F.col("doc_id").cast("string"))
    t1 = int(HASH60_MAX * 0.90)
    t2 = int(HASH60_MAX * 0.95)
    split = (
        F.when(h <= t1, F.lit("train")).when(h <= t2, F.lit("val")).otherwise(F.lit("test"))
    )
    return docs.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def q_dedup_survivors(spark, sf_dir):
    """END-TO-END dedup: near-dup pairs -> connected components -> drop
    every cluster member except the min-id survivor -> corpus stats. The
    full training-data dedup flow as one query, exactly oracled."""
    from tap_rest_api_msdk_spark.operators.neardup import (
        connected_components,
        minhash_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "doc_id", "text", n=3, k=32, bands=16,
                          threshold=0.5, portable=True)
    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    survivors = docs.join(losers, "doc_id", "left_anti")
    return survivors.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min("doc_id").alias("min_id"),
    )


# ---------------------------------------------------------------------------
# text analysis (documents)
# ---------------------------------------------------------------------------

def q_text_tokens(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    # cast to long: DuckDB len() yields BIGINT, Spark size() yields INT
    return docs.select(
        "doc_id",
        TX.token_count(t).cast("long").alias("n_tokens"),
        TX.bpe_token_count(t).cast("long").alias("n_bpe_tokens"),
    )


def q_text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.round(TX.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(TX.stopword_ratio(t, "en"), 6).alias("stopword_ratio"),
        TX.quality_score(t).alias("quality"),
    )


def q_text_langid(spark, sf_dir):
    """Stopword-hit argmax over {en,fr,de,es} (ties resolve in that order,
    zero hits -> 'und').

    r7 shape: ONE token explode + four codegen'd conditional sums instead
    of four interpreted ``filter(tokens, isin(...))`` higher-order passes
    per row — same hit counts (a conditional count over exploded tokens
    IS size(filter(tokens, ...))), measured 2.3x at sf1.0 with a
    verified zero-mismatch A/B. The argmax expression is unchanged."""
    from tap_rest_api_msdk_spark.functions.text import STOPWORDS

    docs = _t(spark, sf_dir, "documents")
    # a null text is the empty document (one empty token), so it still
    # gets its 'und' row instead of vanishing in the explode
    tokens = TX.ws_tokens(F.coalesce(F.col("text"), F.lit("")))
    tok = _spread(docs).select("doc_id", F.explode(tokens).alias("tk"))
    hits = tok.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("tk").isin(*ws), 1).otherwise(0)).alias(f"h_{lang}")
            for lang, ws in STOPWORDS.items()
        ]
    )
    best = F.greatest(*[F.col(f"h_{lang}") for lang in STOPWORDS])
    pred = F.lit("und")
    # build reversed so earlier langs win ties via later when() precedence
    for lang in reversed(list(STOPWORDS)):
        pred = F.when(
            (F.col(f"h_{lang}") > 0) & (F.col(f"h_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return hits.select("doc_id", pred.alias("lang_pred"))


def q_text_gopher_quality(spark, sf_dir):
    """Gopher-rule quality filter (Rae et al. 2021 App. A shape): per-rule
    rejection counts + corpus pass rate — the published web-scale data-prep
    rule set, exactly oracled.

    r7 shape: token explode + codegen'd conditional sums per doc, then
    the corpus rollup — the row-local ``gopher_quality_flags`` struct
    (kept for the generic analyze() surface) evaluates four interpreted
    higher-order passes per row and measured 2.8x slower at sf1.0; the
    per-rule comparisons and integer/ratio arithmetic are identical
    (zero-mismatch A/B on all seven outputs)."""
    from tap_rest_api_msdk_spark.functions.text import STOPWORDS

    docs = _t(spark, sf_dir, "documents")
    # a null text is the empty document, counted in n_docs (see text_langid)
    toks = TX.ws_tokens(F.coalesce(F.col("text"), F.lit("")))
    tok = _spread(docs).select("doc_id", F.explode(toks).alias("t"))
    per = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("t")).alias("total_len"),
        F.sum(F.when(F.col("t").rlike("[a-z]"), 1).otherwise(0)).alias("alpha"),
        F.sum(
            F.when((F.col("t") == "#") | (F.col("t") == "..."), 1).otherwise(0)
        ).alias("symbols"),
        F.sum(F.when(F.col("t").isin(*STOPWORDS["en"]), 1).otherwise(0)).alias("stop"),
    )
    mean_len = F.col("total_len") / F.col("n")
    ok_count = (F.col("n") >= 10) & (F.col("n") <= 100_000)
    ok_mean = (mean_len >= 3.0) & (mean_len <= 10.0)
    ok_alpha = (F.col("alpha") / F.col("n")) >= 0.8
    ok_stop = F.col("stop") >= 2
    ok_symbol = (F.col("symbols") / F.col("n")) <= 0.1
    b = lambda c: F.sum(F.when(c, 0).otherwise(1)).cast("long")
    return per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        b(ok_count).alias("fail_word_count"),
        b(ok_mean).alias("fail_mean_word_len"),
        b(ok_alpha).alias("fail_alpha_ratio"),
        b(ok_stop).alias("fail_stopwords"),
        b(ok_symbol).alias("fail_symbol_ratio"),
        F.sum(
            F.when(ok_count & ok_mean & ok_alpha & ok_stop & ok_symbol, 1).otherwise(0)
        ).cast("long").alias("n_pass"),
    )


def q_text_tfidf_topterms(spark, sf_dir):
    """TF-IDF keyword extraction: top-3 terms per document by
    tf * ln(N/df). Classic IR weighting, one explode + two aggregates +
    a per-doc top-k window; floor-truncated at 6 decimals (single-ln,
    single-multiply — cross-engine exact on identical inputs)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()  # driver-side scalar: the corpus size literal
    # ONE token explode, TWO exchanges, ZERO joins (r7 — the count-window
    # device the surprisal/oov family uses): the explicit repartition on
    # the term makes hashpartitioning(term) satisfy BOTH the (doc, term)
    # tf aggregate (subset rule) and the per-term document-frequency
    # window — df = row count over the tf pre-aggregate, since it has
    # exactly one row per (doc, term). The former plan exploded the token
    # stream TWICE (tf and a distinct->groupBy df) and shuffled the tf
    # table again to join df back on the term.
    tok = _spread(docs).select(
        "doc_id", F.explode(TX.ws_tokens(F.col("text"))).alias("term")
    )
    tf = (
        tok.repartition("term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = F.count(F.lit(1)).over(Window.partitionBy("term"))
    scored = tf.withColumn(
        "score",
        F.floor(F.col("tf") * F.log(F.lit(float(n_docs)) / df_) * 1000000)
        / 1000000,
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "score", F.col("rank").cast("long").alias("rank"))
    )


def q_sql_revenue_by_month(spark, sf_dir):
    """SQL-surface coverage: the same engine drives spark.sql() over temp
    views — monthly revenue rollup authored as literal SQL."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        select date_format(l_shipdate, 'yyyy-MM') as ship_month,
               cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(28,6)))
                    as double) as revenue,
               count(*) as n_items
        from v_lineitem
        where l_shipdate >= timestamp '1996-01-01'
          and l_shipdate <  timestamp '1997-01-01'
        group by date_format(l_shipdate, 'yyyy-MM')
        """
    )


def q_text_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# similarity search (embeddings)
# ---------------------------------------------------------------------------

def q_ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    out = cosine_topk(emb, queries, k=10)
    # floor-truncate, not round: Spark rounds HALF_UP while DuckDB rounds
    # half-even, so values landing exactly on a .xxxx5 boundary diverge
    return out.select(
        "query_id",
        "neighbor_id",
        (F.floor(F.col("cos") * 10000) / 10000).alias("cos"),
        F.col("rank").cast("long").alias("rank"),  # DuckDB row_number is BIGINT
    )


def q_embedding_pairs_exact(spark, sf_dir):
    """Exact cosine near-dup pairs (bounded subset — correctness twin of
    the LSH scale path)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "v", F.col("embedding").cast("array<double>")
    ).filter(F.col("vec_id") < 200).select("vec_id", "v")
    a, b = emb.alias("a"), emb.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cos", cosine(F.col("a.v"), F.col("b.v")))
        .filter(F.col("cos") >= 0.4)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            (F.floor(F.col("cos") * 10000) / 10000).alias("cos"),
        )
    )


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN, portable mode: md5-derived hyperplanes + exact
    quantized dot signs make the candidate set (and therefore the re-ranked
    top-k) bit-reproducible in DuckDB — a full SQL oracle for the scale
    path. n_planes=8 (256 buckets/table) x n_tables=16: bucket granularity
    scales with corpus size (raise n_planes as n grows; the join stays
    keyed by (table, bucket), never all-pairs)."""
    from tap_rest_api_msdk_spark.functions.similarity import lsh_bucketed_topk_portable

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = lsh_bucketed_topk_portable(emb, queries, dim=64, k=10, n_planes=8, n_tables=16)
    return out.select(
        "query_id",
        "neighbor_id",
        (F.floor(F.col("cos") * 10000) / 10000).alias("cos"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN: deterministic hash-sampled coarse quantizer, exact
    integer-quantized assignment, multi-probe + cosine re-rank — the
    second scale path next to hyperplane LSH, fully DuckDB-oracled."""
    from tap_rest_api_msdk_spark.functions.similarity import ivf_topk_portable

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    out = ivf_topk_portable(emb, queries, k=10, n_centroids=None, n_probe=6)
    return out.select(
        "query_id",
        "neighbor_id",
        (F.floor(F.col("cos") * 10000) / 10000).alias("cos"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-shaped semantic dedup: cluster via the deterministic coarse
    quantizer, prune smaller-id cosine near-dups WITHIN clusters only —
    pairwise cost bounded by cluster size, the published method's
    economics; per-label keep counts, exactly oracled."""
    from tap_rest_api_msdk_spark.functions.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, n_centroids=None, threshold=0.4)
    return out.select(F.col("label").cast("long").alias("label"), "n_vecs", "n_kept")


# ---------------------------------------------------------------------------
# relational coverage (the MERGE machinery's building blocks)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: the partial-agg/shuffle path the LWW merge uses.
    Decimal-exact sums -> double (cross-engine deterministic)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(28,6)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_revenue_orders(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join + agg + top-k (broadcastable dims).

    r7 join order (guide §3.1/§3.2): broadcast-filter orders down to the
    BUILDING segment FIRST (cust is the broadcast side either way), so
    the big lineitem join probes a ~5x smaller build side; the
    shuffle_hash hint keeps that join a hash join instead of sort-merge —
    no sort of the 6M-row lineitem shuffle. Same rows, same aggregate."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(28,6)")
    orders_b = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    return (
        li.join(orders_b.hint("shuffle_hash"), li.l_orderkey == orders_b.o_orderkey)
        .groupBy("o_orderkey",
                 F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
                 "o_orderpriority")
        .agg(
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q_lww_latest_state_salted(spark, sf_dir):
    """F9 + skew handling: two-phase salted LWW (SURVEY §4.3) — must produce
    byte-identical results to the plain LWW (same oracle)."""
    from tap_rest_api_msdk_spark.operators.dedup import lww_dedup_salted

    ev = _t(spark, sf_dir, "events")
    return lww_dedup_salted(ev, ["user_id"], ["event_id"], salt_buckets=8).select(
        "user_id", "event_id", "event_type", "value", "props"
    )


def q_tumbling_window_counts(spark, sf_dir):
    """Streaming-shaped tumbling window (1h) aggregation; window.start is
    epoch-aligned, equal to date_trunc('hour') for 1h windows."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )


def q_hopping_window_counts(spark, sf_dir):
    """Hopping (sliding) window aggregation: 1h windows every 15min — each
    event lands in exactly 4 overlapping windows. Completes the streaming
    window family (tumbling / session / hopping), all SQL-oracled."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )


def q_session_windows(spark, sf_dir):
    """Sessionization (30-min gap) via gaps-and-islands window functions —
    the batch formulation of a session window, exactly SQL-expressible."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        (
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("timestamp").cast("long")
                - F.lag("ts").over(w).cast("timestamp").cast("long")
                > 1800
            )
        ).cast("int"),
    )
    sessions = flagged.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_rollup_revenue(spark, sf_dir):
    """ROLLUP grouping-set aggregation over lineitem.

    r7: pre-aggregate per (returnflag, linestatus) FIRST, then rollup the
    tiny grouped table. Spark's rollup plans an Expand that multiplies
    every input row by the number of grouping sets (3x the 6M-row scan
    through the hash aggregate); re-aggregating exact partial aggregates
    (long counts, decimal sums) is value-identical and the Expand now
    runs over ~6 rows (guide §2.3: aggregate before you shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    pre = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("l_extendedprice").cast("decimal(28,2)")).alias("__s"),
    )
    return (
        pre.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("__n").alias("n_items"),
            F.sum("__s").cast("double").alias("sum_price"),
        )
    )


def q_set_ops_active_users(spark, sf_dir):
    """Set operators: (click ∪ purchase users) ∖ error users, over the
    first 1000 events (time-sliced so the difference is non-empty at every
    SF — over the full log every user eventually errors)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 1000)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    errors = ev.filter(F.col("event_type") == "error").select("user_id")
    return clicks.union(purchases).distinct().exceptAll(errors.distinct()).select("user_id")


# ---------------------------------------------------------------------------
# multimodal: REAL stdlib codecs (PPM / WAV / FAKV container) over
# deterministic synthetic binary assets — decode output is integer-exact,
# so DuckDB verifies it from the generation formulas alone (full oracles)
# ---------------------------------------------------------------------------

def q_multimodal_image_features(spark, sf_dir):
    """Arrow-batched REAL PPM decode: header dims + exact pixel-plane sum."""
    from tap_rest_api_msdk_spark.functions.multimodal import (
        decode_image_features,
        synth_assets,
    )

    return decode_image_features(synth_assets(spark, 500))


def q_multimodal_frame_sampling(spark, sf_dir):
    """Frame sampling reading REAL payload bytes at sampled offsets."""
    from tap_rest_api_msdk_spark.functions.multimodal import sample_frames, synth_assets

    return sample_frames(synth_assets(spark, 200, kind="video"), every_n_bytes=16, max_frames=4)


def q_multimodal_audio_features(spark, sf_dir):
    """REAL RIFF/WAVE PCM16 parse: header fields + exact energy stats."""
    from tap_rest_api_msdk_spark.functions.multimodal import (
        decode_audio_features,
        synth_assets,
    )

    return decode_audio_features(synth_assets(spark, 300, kind="audio"))


def q_multimodal_png_features(spark, sf_dir):
    """REAL baseline PNG decode (stdlib zlib + numpy unfilter): chunk walk,
    inflate, all five scanline filters. Synthetic assets cycle the filter
    type per row, so None/Sub/Up/Average/Paeth are all exercised; dims and
    the pixel-plane sum have closed forms the oracle recomputes (n_bytes is
    excluded — zlib stream length has no closed form)."""
    from tap_rest_api_msdk_spark.functions.multimodal import (
        decode_image_features,
        synth_assets,
    )

    out = decode_image_features(synth_assets(spark, 300, kind="png"))
    return out.select("asset_id", "kind", "width", "height", "channels", "pixel_sum")


def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per event_type (scalar-fn coverage)."""
    ev = _t(spark, sf_dir, "events")
    pct = F.percentile(F.col("value"), F.lit([0.5, 0.9, 0.99]))
    return ev.groupBy("event_type").agg(
        F.round(pct[0], 6).alias("p50"),
        F.round(pct[1], 6).alias("p90"),
        F.round(pct[2], 6).alias("p99"),
    )


def q_hist_value_percentiles(spark, sf_dir):
    """Quantile SKETCH path: deterministic equi-width histogram (mergeable,
    two map-combined aggregates at any scale) — exact-oracle twin of the
    estimate, unlike t-digest/KLL whose state is order-dependent. Accuracy
    vs the exact percentiles pinned in tests."""
    from tap_rest_api_msdk_spark.functions.sketch import hist_percentiles

    ev = _t(spark, sf_dir, "events")
    return hist_percentiles(ev, ["event_type"], "value", n_buckets=256)


def q_distinct_users_exact(spark, sf_dir):
    """Exact distinct-count per event_type (the sketch's correctness twin)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


def q_approx_distinct_users(spark, sf_dir):
    """HLL sketch distinct-count — the 100 TB path, as an EXPLICIT portable
    HyperLogLog (registers + harmonic estimate + linear-counting
    correction) so DuckDB verifies the sketch bit-for-bit. Same merge
    topology as the built-in approx_count_distinct (partial max per
    register, <= 2^p rows/group through the shuffle); accuracy additionally
    pinned vs the exact twin in tests."""
    from tap_rest_api_msdk_spark.functions.sketch import hll_distinct

    ev = _t(spark, sf_dir, "events")
    return hll_distinct(ev, ["event_type"], "user_id", p=10, out_col="n_users_approx")


def q_local_supply_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 5-way join (lineitem-orders-customer-supplier-nation)
    with the same-nation predicate; exercises join reordering + mixed
    broadcast/shuffle joins."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    dec = lambda c: c.cast("decimal(28,6)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_order_priority_counts(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS (left-semi join) + grouped counts — the
    decorrelated-subquery path Catalyst plans as a semi-join."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.05)
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: LEFT OUTER join + two-level aggregation (orders per
    customer, then customers per order count — zero-order customers kept)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("n_customers"))


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: conditional aggregation over a fact-dim join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part")
    dec = lambda c: c.cast("decimal(28,6)")
    rev = dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(28,6)")))
        .cast("double")
        .alias("promo_revenue"),
        F.sum(rev).cast("double").alias("total_revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_customers_without_orders(spark, sf_dir):
    """Anti-join coverage: customers that never placed an order."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


def q_join_enrich_broadcast(spark, sf_dir):
    """Broadcast-join enrichment: customers per nation/region."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(28,2)")).cast("double").alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# frequency / membership sketches (functions/freq.py)
# ---------------------------------------------------------------------------

def q_heavy_hitters_countmin(spark, sf_dir):
    """Count-min heavy hitters: d×w counters in one map-side-combined
    aggregate, estimate = min over lanes, top 20 by estimated count.
    Order-free integer arithmetic over the portable hash — the DuckDB twin
    reproduces every counter and estimate bit-for-bit (unlike Misra-Gries,
    whose state is arrival-order-dependent)."""
    from tap_rest_api_msdk_spark.functions.freq import countmin_estimates

    ev = _t(spark, sf_dir, "events")
    est = countmin_estimates(ev.select("user_id"), "user_id", d=4, w=256)
    return est.orderBy(F.col("cms_count").desc(), F.col("user_id").asc()).limit(20)


def q_bloom_filter_join(spark, sf_dir):
    """Bloom-filter runtime-join-filter shape: build k-position filter over
    a selective customer subset, broadcast it, pre-filter orders before the
    real join would run; reports pass/exact/false-positive row counts.
    The (lane, pos) set IS the filter — the portable equivalent of Spark's
    own bloom runtime filter, exactly reproduced by the oracle."""
    from tap_rest_api_msdk_spark.functions.freq import _lanes, bloom_positions, buckets_for

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    build_keys = cust.select(F.col("c_custkey").alias("key")).distinct()
    positions = bloom_positions(cust, "c_custkey", k=3, m=1024)
    # ONE pass over the probe side (r7; guide §1.2 "don't compute things
    # twice"): the former passed/exact/false_pos triple scanned orders five
    # times (bloom_probe's distinct + semi-join, plus a full recompute of
    # `passed` for the anti-join). Instead: collapse orders to (distinct
    # key, multiplicity) once, mark each key with its bloom pass (all k
    # broadcast-joined positions hit) and exact-build membership, and roll
    # the three row counts up in a single aggregate — sum(multiplicity)
    # over flagged keys is exactly the former per-row counts.
    lanes = _lanes(3)
    keys = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    marked = (
        keys.select("key", "n", F.explode(buckets_for(F.col("key"), lanes, 1024)).alias("lb"))
        .select("key", "n", F.col("lb.lane").alias("lane"), F.col("lb.bucket").alias("pos"))
        .join(F.broadcast(positions.withColumn("__in", F.lit(1))), ["lane", "pos"], "left")
        .groupBy("key", "n")
        .agg(F.sum(F.when(F.col("__in").isNotNull(), 1).otherwise(0)).alias("kh"))
        .join(F.broadcast(build_keys.withColumn("__b", F.lit(1))), "key", "left")
    )
    passed = F.col("kh") == 3
    return marked.agg(
        F.coalesce(F.sum(F.when(passed, F.col("n"))), F.lit(0)).alias("n_bloom_pass"),
        F.coalesce(F.sum(F.when(F.col("__b").isNotNull(), F.col("n"))), F.lit(0)).alias("n_exact"),
        F.coalesce(
            F.sum(F.when(passed & F.col("__b").isNull(), F.col("n"))), F.lit(0)
        ).alias("n_false_pos"),
    )


def q_dedup_contained(spark, sf_dir):
    """Containment dedup: docs whose FULL text occurs inside a strictly
    longer doc — the quote/boilerplate-inclusion case Jaccard misses (a
    short doc vs its long container scores low). Anchor-shingle inverted
    index (one anchor per doc) + exact instr verify; same candidate rule
    in the oracle, so results are exact."""
    from tap_rest_api_msdk_spark.operators.neardup import contained_docs

    docs = _t(spark, sf_dir, "documents")
    return contained_docs(docs, "doc_id", "text", n=3, max_shingle_freq=100)


def q_sample_stratified(spark, sf_dir):
    """Deterministic per-stratum sampling: each language keeps its own
    hash-threshold rate (en 50%, fr 30%, others 10%) — rebalancing the
    corpus mix without RNG state; the hash is salted with the stratum so
    assignment is independent across strata definitions."""
    from tap_rest_api_msdk_spark.functions.portable_hash import HASH60_MAX, hash60

    docs = _t(spark, sf_dir, "documents")
    h = hash60(F.concat(F.col("lang"), F.lit("|"), F.col("doc_id").cast("string")))
    rate = (
        F.when(F.col("lang") == "en", F.lit(0.5))
        .when(F.col("lang") == "fr", F.lit(0.3))
        .otherwise(F.lit(0.1))
    )
    sampled = h <= (rate * HASH60_MAX).cast("long")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(sampled, 1).otherwise(0)).alias("n_sampled"),
            F.min(F.when(sampled, F.col("doc_id"))).alias("min_sampled_id"),
        )
    )


def q_text_repetition(spark, sf_dir):
    """Gopher-style repetition signals per doc: duplicate-bigram fraction
    (1 - distinct/total) and top-token frequency fraction — the filters
    that catch degenerate/looping generations. Pure token arithmetic,
    floor-truncated doubles (cross-engine exact).

    Scale shape (r6): SINGLE scan, ZERO exchanges, ZERO joins. The
    per-doc top-token count is row-local — the longest run in the
    SORTED token array (one aggregate pass), so the former
    explode -> (doc, tok) groupBy -> (doc) groupBy -> join pipeline
    (two full token-stream shuffles at web scale) collapses into plain
    array arithmetic on the documents scan. Values are bit-identical:
    max run length over sorted tokens IS the max per-token count.
    ``_spread`` widens a narrow scan (the compute is per-row heavy and a
    small-SF parquet is one split; a no-op exchange at scale)."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    tokens = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(tokens) - F.lit(1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, 2)),
    )
    run = lambda acc, x: F.when(  # noqa: E731 — shared by run/best fields
        x == acc["prev"], acc["run"] + F.lit(1).cast("long")
    ).otherwise(F.lit(1).cast("long"))
    top_c = F.aggregate(
        F.array_sort(tokens),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            run(acc, x).alias("run"),
            F.greatest(acc["best"], run(acc, x)).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    return docs.select(
        "doc_id",
        F.size(grams).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct_bigrams"),
        top_c.alias("top_c"),
        F.size(tokens).cast("long").alias("n_tok"),
    ).select(
        "doc_id",
        "n_bigrams",
        (
            F.floor(
                (F.lit(1.0) - F.col("n_distinct_bigrams") / F.col("n_bigrams")) * 1e6
            )
            / 1e6
        ).alias("dup_bigram_frac"),
        (F.floor(F.col("top_c") / F.col("n_tok") * 1e6) / 1e6).alias("top_token_frac"),
    )


def q_text_unigram_surprisal(spark, sf_dir):
    """LM-quality proxy (CCNet shape, self-contained): score each doc by
    its mean unigram surprisal -ln p(tok) under the CORPUS's own unigram
    distribution — low = boilerplate/common-token soup, high = rare-token
    noise; the standard perplexity-filter primitive without an external
    LM. The corpus total comes from a DOC-level sum(size(tokens)) — a
    plain documents scan with no explode, no shuffle of the token stream
    (count of exploded tokens == sum of per-doc array sizes).

    Scale shape (the text_oov_rate device — r4 verdict item #2): ONE
    corpus scan of the token stream, TWO exchanges, ZERO joins, and NO
    broadcast of the unigram table — vocabulary scales with the corpus
    (10^8-10^9 distinct tokens at web scale), so broadcasting it is an
    executor OOM by construction. Instead, one explicit repartition on
    the token makes hashpartitioning(tok) satisfy BOTH the (tok, doc_id)
    partial aggregate (subset rule) and the per-token corpus-count
    window, so p(tok) attaches to each doc's rows in place; the per-doc
    rollup is the second exchange. Skew: a stop-word's tok-partition is
    large, but the (tok, doc_id) pre-aggregate bounds rows by distinct
    docs and the window computes one count — spill-safe.

    Per-token surprisal is floor-truncated at 1e-4: a deliberately COARSE
    quantum, because the quantized value flips when ln (the one
    transcendental, not correctly rounded in either engine) lands within
    1 ulp of a boundary — at 1e-4 the boundary density is 100x lower
    than the previous 1e-6."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tokens = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    tok = _spread(docs).select("doc_id", F.explode(tokens).alias("tok"))
    total = docs.agg(F.sum(F.size(tokens)).cast("long")).collect()[0][0]
    td = tok.repartition("tok").groupBy("tok", "doc_id").agg(
        F.count(F.lit(1)).alias("k")
    )
    corpus_c = F.sum("k").over(Window.partitionBy("tok"))
    # per-token surprisal quantized to an INTEGER (floor(1e4 * -ln p))
    # before summing: the distributed sum is then exact and order-free —
    # a double sum would be partition-order-dependent (r1 lesson; same
    # device as the HLL/histogram sketches). Each (tok, doc_id) group
    # contributes k * s_tok — identical to summing per occurrence.
    s_tok = F.floor(-F.log(corpus_c / F.lit(float(total))) * 1e4).cast("long")
    scored = (
        td.select("doc_id", "k", (s_tok * F.col("k")).alias("s4k"))
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_tok"),
            F.sum("s4k").alias("s4"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tok",
        (F.floor(F.col("s4") / F.col("n_tok")) / 1e4).alias("mean_surprisal"),
    )


def q_substring_dup_rate(spark, sf_dir):
    """Exact-substring duplication rate (Lee et al. 2022 'Deduplicating
    Training Data' shape): slide 40-char windows at stride 8 over every
    doc, count per-doc the fraction of windows whose exact text also
    appears in ANOTHER doc — catches partial overlap that set-based
    Jaccard underweights. Corpus-wide window df is one map-side-combined
    aggregate; at 10^10 docs the window table shards by window hash (the
    suffix-array approach's economics without the suffix array)."""
    docs = _t(spark, sf_dir, "documents")
    W, STRIDE = 40, 8
    npos = F.greatest(
        F.floor((F.length("text") - F.lit(W)) / F.lit(STRIDE)) + 1, F.lit(1)
    ).cast("int")
    # window hashes are computed INSIDE the explode projection (transform
    # over the position sequence, then explode the hash array): text never
    # leaves its own row — no corpus self-join to recover it — and the
    # exploded rows carry an 8-byte xxhash64 instead of the 40-char window
    # string, cutting shuffle width ~5x (r3 verdict item #1)
    wins = _spread(docs).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), npos - 1),
                lambda p: F.xxhash64(
                    F.substring(F.col("text"), p * F.lit(STRIDE) + 1, W)
                ),
            )
        ).alias("wh"),
    )
    # ONE pass over the window table and TWO exchanges total: an explicit
    # repartition on the window hash makes hashpartitioning(wh) satisfy
    # BOTH downstream clusterings — the (wh, doc_id) aggregate (subset
    # rule) and the per-wh document-frequency window — so neither inserts
    # another exchange, no join, and the subtree is never computed twice
    # (a groupBy+join df would re-evaluate the explode per join side).
    # Skew note: a boilerplate window hot across 10^7 docs concentrates
    # its (wh, doc_id) rows in one task; rows per wh are bounded by
    # distinct docs containing that exact 40-char window, and the window
    # aggregate is a count (no per-row state) — spill-safe.
    from pyspark.sql import Window

    whd = wins.repartition("wh").groupBy("wh", "doc_id").agg(
        F.count(F.lit(1)).alias("k")
    )
    dup = F.count(F.lit(1)).over(Window.partitionBy("wh")) >= 2
    per_doc = (
        whd.withColumn("dup", dup)
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_windows"),
            F.sum(F.when(F.col("dup"), F.col("k")).otherwise(0)).alias("n_dup"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_windows",
        (F.floor(F.col("n_dup") / F.col("n_windows") * 1e6) / 1e6).alias("dup_window_frac"),
    )


def q_line_dedup(spark, sf_dir):
    """Line-level exact dedup with document REWRITE (the C4/RefinedWeb
    'remove duplicated lines' pass): chunk each doc into 10-token lines,
    drop every line whose exact text occurs >= 2 times corpus-wide
    (across OR within docs — an order-free rule, unlike keep-first
    variants whose result depends on scan order), and reassemble the
    cleaned document from the surviving lines in position order. Output
    pins the rewrite exactly: per-doc line counts plus sha256 of the
    cleaned text.

    Scale shape (the count-window device): ONE corpus scan, TWO
    exchanges, ZERO joins. The explicit repartition on the line text
    satisfies the per-line corpus-count window; the per-doc rollup
    (collect surviving lines, sort by position, concat) is the second
    exchange. Rows per line-partition are bounded by that line's corpus
    occurrences; the window computes one count — spill-safe (same
    argument as text_oov_rate, adversarially soaked in
    tests/test_corpus_skew_soak.py). The reassembly collect_list is
    bounded by document size, never corpus size."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    K = 10
    nch = F.ceil(F.size(toks) / F.lit(K)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nch - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * F.lit(K) + 1, K)),
    )
    ch = _spread(docs).select("doc_id", F.posexplode(chunks).alias("pos", "chunk"))
    part = ch.repartition("chunk")
    dup = F.count(F.lit(1)).over(Window.partitionBy("chunk")) >= 2
    flagged = part.withColumn("dup", dup)
    kept_struct = F.when(~F.col("dup"), F.struct("pos", "chunk"))
    cleaned = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(F.collect_list(kept_struct)), lambda s: s["chunk"]
        ),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("dup"), 1).otherwise(0)).cast("long").alias(
            "n_dup_lines"
        ),
        F.length(cleaned).cast("long").alias("cleaned_len"),
        F.sha2(cleaned, 256).alias("cleaned_sha"),
    )


def q_decontaminate_ngram_overlap(spark, sf_dir):
    """Training-data decontamination (the 13-gram-collision rule used for
    benchmark decontamination in LLM pipelines): a held-out eval split
    (doc_id % 20 == 0 — portable across both engines) defines a set of
    13-token shingles; each TRAIN doc reports how many of its distinct
    13-grams collide with the eval set, plus a contaminated flag.

    Scale shape: the eval-gram side of the join is a benchmark set —
    small by construction — so it BROADCASTS (eval grams are hashed to 8
    bytes with xxhash64 before shipping); the train side never shuffles
    on the gram string. Docs shorter than 13 tokens report 0 grams.
    Delegates to the operator in ``join_mode="auto"`` (no hint): Catalyst
    sizes the eval side statically and AQE re-validates at runtime, so a
    benchmark-sized split broadcasts while an oversized one falls back to
    the shuffled inverted-index plan instead of OOMing on a forced
    broadcast — with zero extra passes."""
    from tap_rest_api_msdk_spark.operators.decontaminate import (
        decontaminate_ngram_overlap,
    )

    docs = _t(spark, sf_dir, "documents")
    return decontaminate_ngram_overlap(docs, "doc_id", "text", n=13,
                                       join_mode="auto")


def q_decontaminate_ngram_shuffle(spark, sf_dir):
    """The decontamination operator's SCALE path, pinned: same 13-gram
    collision semantics, but the eval-gram probe is joined with a
    shuffled hash join on the 8-byte gram hash — what ``estimate`` picks
    when the explicit gram-count bound exceeds the broadcast budget, and
    what ``auto``'s Catalyst/AQE sizing converges to for an oversized
    eval split (e.g. a 1 % split of 100 TB). Same oracle as the
    broadcast path: the strategy must never change the answer."""
    from tap_rest_api_msdk_spark.operators.decontaminate import (
        decontaminate_ngram_overlap,
    )

    docs = _t(spark, sf_dir, "documents")
    return decontaminate_ngram_overlap(docs, "doc_id", "text", n=13,
                                       join_mode="shuffle")


_QUALITY_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def _quality_scores(docs, extra_cols=()):
    """Shared fixed-weight linear quality scorer (single source of truth
    for the weights / stopword list / 1e-4 floor quantization used by
    q_quality_linear_score, q_quality_percentile_filter, and — via the
    former — q_dedup_survivors_quality). Every feature is a ratio of
    exact integers and the linear combination is written in the same
    association order as the oracle SQL, so the doubles match
    bit-for-bit (no transcendental anywhere)."""
    # ROW-LOCAL feature extraction (r7; guide §2.4 "remove shuffles
    # outright"): every feature is a function of the doc's own token
    # array, so the former explode -> groupBy(doc) -> count_distinct
    # pipeline (a full token-stream shuffle plus a two-phase distinct
    # aggregate at web scale) collapses into native array expressions in
    # the scan stage — ONE scan, ZERO exchanges. Values are identical:
    # count/distinct/lengths of a doc's tokens computed in place, cast
    # long to keep the former aggregate dtypes. sum_len rides
    # concat_ws("") — the concatenated length IS the sum of token
    # lengths, with no interpreted fold.
    tokens = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    agg = docs.select(
        "doc_id",
        *extra_cols,
        F.size(tokens).cast("long").alias("n_tok"),
        F.size(F.array_distinct(tokens)).cast("long").alias("n_distinct"),
        F.length(F.concat_ws("", tokens)).cast("long").alias("sum_len"),
        F.size(
            F.filter(tokens, lambda tk: tk.isin(*_QUALITY_STOPWORDS))
        ).cast("long").alias("n_stop"),
    )
    ttr = F.col("n_distinct") / F.col("n_tok")
    stop_ratio = F.col("n_stop") / F.col("n_tok")
    mean_len = F.col("sum_len") / F.col("n_tok")
    score = ((ttr * 0.5 - stop_ratio * 0.8) + mean_len * 0.1) + F.col(
        "n_tok"
    ) * 0.002
    return agg.select(
        "doc_id",
        *extra_cols,
        "n_tok",
        # __q4 is the pre-division quantized score: an exact LONG that is
        # bijective to quality_score (q4 -> q4/1e4), so consumers that
        # group/window/join on the score can key on the integer instead —
        # float keys get NaN/-0.0 normalization wrappers that defeat
        # exchange reuse (r7, q_quality_percentile_filter)
        F.floor(score * 1e4).alias("__q4"),
        (F.floor(score * 1e4) / 1e4).alias("quality_score"),
        (score > 0.75).alias("keep"),
    )


def q_quality_linear_score(spark, sf_dir):
    """Model-based quality filtering (fasttext-classifier shape with an
    honest fixed-weight linear stand-in — no model weights ship in this
    container): per doc, a linear score over type-token ratio, stopword
    ratio, mean token length, and log-free token count, floor-quantized
    at 1e-4 (see ``_quality_scores`` for the determinism argument)."""
    docs = _t(spark, sf_dir, "documents")
    return _quality_scores(docs).select(
        "doc_id", "n_tok", "quality_score", "keep"
    )


def q_asof_join_tolerance(spark, sf_dir):
    """As-of join with a match tolerance (the pandas merge_asof
    ``tolerance=`` semantics): each purchase matches the user's latest
    signup at-or-before it ONLY if it happened within the last 2 hours —
    staler matches null out. Same O(|L|+|R|) union+running-last plan as
    the base as-of; the tolerance is a post-filter on the carried
    timestamp, not a second join."""
    from tap_rest_api_msdk_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
        .withColumn("signup_ts", F.col("ts"))
    )
    out = asof_join(
        purchases, signups, ["user_id"], "ts",
        right_cols=["signup_event_id", "signup_ts"],
    )
    within = (
        F.col("signup_ts_asof").isNotNull()
        & (
            F.unix_timestamp(F.col("ts")) - F.unix_timestamp(F.col("signup_ts_asof"))
            <= 7200
        )
    )
    return out.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.when(within, F.col("signup_event_id_asof")).alias("signup_within_2h"),
    )


def q_pii_scrub(spark, sf_dir):
    """PII-scrubbing pipeline stage (the C4/RefinedWeb redaction shape):
    mask every digit run in the raw payload with '#' and account for the
    redactions per event. Real pipelines swap the pattern set for
    emails/phones/SSNs; the digit-run pattern keeps the oracle exact on
    synthetic data while exercising the same plan — one projection with
    JVM regexp functions, no UDF, no shuffle (plan-gated)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_replace(F.col("props"), "[0-9]+", "#").alias("scrubbed"),
        F.size(F.regexp_extract_all(F.col("props"), F.lit("[0-9]+"), F.lit(0)))
        .cast("long")
        .alias("n_redactions"),
    )


def _neardup_quality_scored(spark, sf_dir):
    """(node, comp, quality_score) for every near-dup cluster member —
    THE shared base of quality-aware survivor selection: one copy of the
    pair generation, component labels, and quality join, so the
    keep-best-member policy (and its doc_id-desc tie-break, mirrored in
    both oracles) can never diverge between q_dedup_survivors_quality
    and the capstone q_corpus_final_filter."""
    from tap_rest_api_msdk_spark.operators.neardup import (
        connected_components,
        minhash_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "doc_id", "text", n=3, k=32, bands=16,
                          threshold=0.5, portable=True)
    comps = connected_components(pairs)
    # r7: score ONLY cluster members. The join on node is inner, so
    # quality for non-members was computed and thrown away — a full
    # tokenize pass over the corpus to keep a few thousand rows. The
    # semi-join prunes the scan before any score expression runs (the
    # minhash-verify device); comps is cheap to consume twice (driver
    # union-find relation for small graphs, per-round checkpoint blocks
    # for the distributed loop). Measured ~1.3 s off survivors_quality
    # and corpus_final_filter at sf1.0-scale.
    members = comps.select(F.col("node").alias("doc_id"))
    q = _quality_scores(docs.join(members, "doc_id", "leftsemi")).select(
        F.col("doc_id").alias("node"), "quality_score"
    )
    return comps.join(q, "node")


def _best_member():
    """ONE definition of the survivor tie-break (best quality, then
    HIGHEST node id — both oracles mirror `order by quality_score desc,
    node desc`)."""
    return F.max(F.struct("quality_score", "node")).alias("__best")


def q_dedup_survivors_quality(spark, sf_dir):
    """Quality-aware survivor selection (the policy real pipelines use
    instead of keep-min-id): near-dup pairs -> connected components ->
    per cluster, KEEP the member with the best quality_linear_score
    (doc_id as the deterministic tie-break). One row per cluster with its
    size and the kept doc — composes the dedup and model-based-quality
    operators end to end."""
    scored = _neardup_quality_scored(spark, sf_dir)
    return (
        scored.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("n_members"), _best_member())
        .select(
            "comp",
            "n_members",
            F.col("__best.node").alias("keep_id"),
            F.col("__best.quality_score").alias("keep_score"),
        )
    )


def q_quality_percentile_filter(spark, sf_dir):
    """Per-source quality flooring (the per-domain percentile cutoff real
    pipelines apply after model-based scoring): within each source, keep
    the top 75 % of docs by quality_linear_score, ties broken by doc_id.

    Scale shape: a naive rank-per-source is a window over the SOURCE
    partition — a handful of giant partitions at 100 TB. This plan keeps
    the per-doc work fine-grained: (1) build the per-(source, score)
    HISTOGRAM (map-side-combined aggregate), (2) run the cumulative
    window over the tiny histogram (rows = distinct scores, not docs),
    (3) broadcast the cutoff table back and rank docs only WITHIN their
    (source, score) group — fine-grained window partitions — keeping a
    doc iff cum_before + rank_in_group <= floor(3n/4). Identical output
    to the oracle's per-source global rank."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    # r7: the tokenize-heavy score subtree feeds TWO consumers (the
    # histogram aggregate and the row_number window), and Spark computed
    # it twice — once per branch. The (doc_id, source, __q4) projection
    # is ~17 bytes/doc (the guide-§8 metadata-not-payload shape), so one
    # eager localCheckpoint materializes the scores once and both
    # branches read the checkpoint: 3.0 -> ~2.4 s at sf1.0-scale.
    # Exchange-reuse variants were tried first and LOST: keying the
    # repartition on the quality_score double gets defeated by
    # normalizenanandzero() wrappers (4.2 s), and even with the
    # exact-integer __q4 key the branches' column pruning diverges the
    # exchange subtrees, so nothing is reused (3.5 s).
    # __q4 = floor(score*1e4) as a LONG is bijective to quality_score;
    # grouping/windowing/joining on it is value-identical and keeps
    # float-normalization wrappers out of the window partitioning.
    qsc = _quality_scores(docs, ("source",)).select("doc_id", "source", "__q4")
    qsc = qsc.localCheckpoint(eager=True)
    hist = qsc.groupBy("source", "__q4").agg(F.count(F.lit(1)).alias("c"))
    w_src = Window.partitionBy("source")
    w_cum = w_src.orderBy(F.col("__q4").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cuts = hist.select(
        "source",
        "__q4",
        (F.sum("c").over(w_cum) - F.col("c")).alias("cum_before"),
        F.expr("(sum(c) over (partition by source) * 3) div 4").alias(
            "keep_total"
        ),
    )
    w_grp = Window.partitionBy("source", "__q4").orderBy("doc_id")
    ranked = qsc.withColumn("rn", F.row_number().over(w_grp))
    return (
        ranked.join(F.broadcast(cuts), ["source", "__q4"])
        .filter(F.col("cum_before") + F.col("rn") <= F.col("keep_total"))
        .select(
            "doc_id", "source", (F.col("__q4") / 1e4).alias("quality_score")
        )
    )


def q_sample_temperature(spark, sf_dir):
    """Temperature-balanced source mixing (multilingual/multi-domain
    rebalancing, alpha = 0.5): each source keeps a deterministic
    hash-thresholded subset with keep fraction
    ``min(1, 0.5 * sqrt(n_max / n_src))`` — the largest source halves,
    smaller sources keep proportionally more (sqrt-flattened), anchored
    at the head source so no cross-source float SUM is needed (a
    distributed double sum is addition-order-dependent; max is not).
    sqrt / * / / are IEEE correctly rounded, so the per-source threshold
    is bit-identical across engines. Selection is pinned by the portable
    60-bit hash of doc_id — a pure function of the row, stable across
    runs, engines, and cluster sizes. Output pins the exact kept set per
    source via count + XOR of kept ids (order-independent, bounded)."""
    from tap_rest_api_msdk_spark.functions.portable_hash import HASH60_MAX, hash60

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    n_max = counts.agg(F.max("n_src").alias("n_max"))
    frac = F.least(
        F.lit(1.0),
        F.lit(0.5)
        * F.sqrt(F.col("n_max").cast("double") / F.col("n_src").cast("double")),
    )
    thr = counts.crossJoin(F.broadcast(n_max)).select(
        "source",
        "n_src",
        F.floor(frac * F.lit(float(HASH60_MAX))).cast("long").alias("thr"),
    )
    kept = docs.join(F.broadcast(thr), "source").filter(
        hash60(F.col("doc_id").cast("string")) <= F.col("thr")
    )
    return kept.groupBy("source").agg(
        F.max("n_src").alias("n_src"),
        F.count(F.lit(1)).alias("n_kept"),
        F.expr("bit_xor(doc_id)").alias("xor_kept_ids"),
    )


def q_pack_sequences(spark, sf_dir):
    """Sequence packing (GPT-style concat-and-chunk for training batches):
    docs concatenate in doc_id order and chunk into 2048-token training
    sequences; each doc reports the sequence it STARTS in and its token
    offset within it.

    Scale shape: a global token prefix-sum is a single-partition window —
    the 100 TB anti-pattern. Real pipelines pack per shard, so the
    running sum partitions by (source, shard = doc_id div 500): sequence
    boundaries never cross shards, shards are bounded, and the window
    parallelizes. Pure integer arithmetic (counts, div, mod) — exact in
    both engines."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tokens = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    base = docs.select(
        "doc_id",
        "source",
        F.expr("doc_id div 500").alias("shard"),
        F.size(tokens).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = F.sum("n_tok").over(w) - F.col("n_tok")
    return base.select(
        "doc_id",
        "source",
        "shard",
        "n_tok",
        start.alias("__start"),
    ).select(
        "doc_id",
        "source",
        "shard",
        "n_tok",
        F.expr("__start div 2048").alias("seq_id"),
        F.pmod(F.col("__start"), F.lit(2048)).cast("long").alias("offset_in_seq"),
    )


def q_late_data_watermark(spark, sf_dir):
    """Streaming late-data accounting, replayed in batch: events arrive in
    event_id (ingest) order; the watermark is the running max event-time
    over all PRIOR arrivals minus a 30-minute allowed lateness; an event is
    late when its own event-time is below that. Per event_type: totals,
    late counts, late fraction.

    Scale shape: a global running max is a single-partition window — the
    100 TB anti-pattern. This computes it as a textbook two-phase scan:
    (1) per-block max over blocks of 1000 arrivals (a hash agg, map-side
    combined, output n/1000 rows), (2) an exclusive running max over the
    tiny block table (single partition, but O(n/B) rows — choose B so this
    is driver-scale; at 10^10 events B=10^6 keeps it at 10^4 rows),
    broadcast back, (3) a per-block window over prior rows combines the
    block carry-in with the local prefix. No shuffle is wider than the
    block table except the final per-type aggregate."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", F.expr("event_id div 1000").alias("blk")
    )
    blk_max = ev.groupBy("blk").agg(F.max("ts").alias("blk_max"))
    wb = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    carry = blk_max.select("blk", F.max("blk_max").over(wb).alias("carry_in"))
    wl = Window.partitionBy("blk").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    flagged = (
        ev.join(F.broadcast(carry), "blk")
        .withColumn("local_prev", F.max("ts").over(wl))
        .withColumn("wm_prev", F.greatest("carry_in", "local_prev"))
        .withColumn(
            "is_late",
            F.when(
                F.col("ts") < F.col("wm_prev") - F.expr("INTERVAL 30 MINUTES"),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("is_late").cast("long").alias("n_late"),
        F.round(F.sum("is_late") / F.count(F.lit(1)), 6).alias("late_frac"),
    )


def q_events_funnel(spark, sf_dir):
    """Ordered funnel analysis (signup -> first click after signup ->
    first purchase after that click): per-stage user counts. Three
    map-side-combined aggregates chained by per-user joins — the
    timestamps only COMPARE (never surface), so cross-engine timestamp
    representation cannot drift the result. Per-user state is one row
    after each aggregate: joins stay key-partitioned and small."""
    ev = _t(spark, sf_dir, "events")
    s0 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c1 = (
        ev.filter(F.col("event_type") == "click")
        .join(s0, "user_id")
        .filter(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p2 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c1, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    rows = [
        s0.select(F.lit("1_signup").alias("stage"), "user_id"),
        c1.select(F.lit("2_click_after_signup").alias("stage"), "user_id"),
        p2.select(F.lit("3_purchase_after_click").alias("stage"), "user_id"),
    ]
    return (
        rows[0].unionByName(rows[1]).unionByName(rows[2])
        .groupBy("stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def q_retention_cohorts(spark, sf_dir):
    """Cohort retention: users grouped by signup week (days-since-epoch
    div 7 of the signup DATE), activity bucketed by whole weeks since
    signup — distinct active users per (cohort_week, week_offset).
    Calendar-day arithmetic on DATEs only (datediff of casts), integer
    div — no timezone or fractional-second semantics can diverge."""
    ev = _t(spark, sf_dir, "events")
    s0 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("d_signup"))
    )
    act = ev.select("user_id", F.to_date("ts").alias("d")).join(s0, "user_id")
    day_off = F.datediff(F.col("d"), F.col("d_signup"))
    cohort = F.datediff(F.col("d_signup"), F.lit("1970-01-01").cast("date"))
    # both operands are non-negative (dates are post-epoch; day_off is
    # filtered), so truncating vs flooring integer division agree
    return (
        act.filter(day_off >= 0)
        .select(cohort.alias("__cd"), day_off.alias("__wd"), "user_id")
        .select(
            F.expr("__cd div 7").cast("long").alias("cohort_week"),
            F.expr("__wd div 7").cast("long").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").cast("long").alias("n_active_users"))
    )


def q_corpus_final_filter(spark, sf_dir):
    """The CAPSTONE data-pipeline composition — what actually ships to
    training: per source, how many TRAIN docs survive the full gauntlet
    of (1) quality-aware near-dup SURVIVOR selection (clusters keep only
    their best-scoring member), (2) the linear QUALITY gate, and (3)
    13-gram benchmark DECONTAMINATION. Output pins the exact kept set
    per source (count + XOR of ids). Every stage is an already-oracled
    operator; this query proves they compose."""
    from tap_rest_api_msdk_spark.operators.decontaminate import (
        decontaminate_ngram_overlap,
    )

    docs = _t(spark, sf_dir, "documents")
    # r7: the quality gate and the train universe both consume the
    # tokenize-heavy score subtree; one eager localCheckpoint of the
    # ~18-byte/doc (doc_id, source, keep) projection replaces two full
    # scoring passes (same device as q_quality_percentile_filter)
    qsc = _quality_scores(docs, ("source",)).select("doc_id", "source", "keep")
    qsc = qsc.localCheckpoint(eager=True)

    scored = _neardup_quality_scored(spark, sf_dir)
    best = scored.groupBy("comp").agg(_best_member())
    losers = (
        scored.join(best, "comp")
        .filter(F.col("node") != F.col("__best.node"))
        .select(F.col("node").alias("doc_id"))
    )

    cont = decontaminate_ngram_overlap(docs, "doc_id", "text", n=13)
    kept = (
        cont.filter(~F.col("contaminated"))
        .select("doc_id")
        .join(qsc.filter("keep").select("doc_id"), "doc_id")
        .join(losers, "doc_id", "left_anti")
    )
    # train universe = scored docs (qsc), mirroring the oracle's inner
    # join: a NULL-text doc tokenizes to nothing in BOTH engines and is
    # absent from both counts
    train = qsc.filter(F.col("doc_id") % 20 != 0).select("doc_id", "source")
    return (
        train.join(kept.withColumn("__k", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(F.when(F.col("__k").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.expr(
                "bit_xor(case when __k is not null then doc_id else 0 end)"
            ).alias("xor_kept_ids"),
        )
    )


def q_text_oov_rate(spark, sf_dir):
    """Rare-token (OOV-ish) rate per doc: the fraction of token
    OCCURRENCES whose corpus-wide occurrence count is < 5 — the
    '% words not in a dictionary' heuristic (C4 / Gopher family) with
    the corpus itself as the dictionary. Integer arithmetic end to end,
    so the oracle match is exact by construction (no transcendental).

    Scale shape (the substring_dup_rate device): ONE corpus scan, TWO
    exchanges, ZERO joins. An explicit repartition on the token makes
    hashpartitioning(tk) satisfy BOTH the (tk, doc_id) partial aggregate
    (subset rule) and the per-token corpus-count window, so the corpus
    count attaches to each doc's rows without a join back; the final
    per-doc rollup is the second exchange. Rows per tk-partition are
    bounded by that token's corpus occurrences — a stop-word's group is
    large but the window computes one count (no per-row state), and the
    (tk, doc_id) pre-aggregate has already collapsed each doc to one row,
    so skew is bounded by distinct docs, spill-safe."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tokens = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    tok = _spread(docs).select("doc_id", F.explode(tokens).alias("tk"))
    td = tok.repartition("tk").groupBy("tk", "doc_id").agg(
        F.count(F.lit(1)).alias("k")
    )
    corpus_c = F.sum("k").over(Window.partitionBy("tk"))
    per_doc = (
        td.withColumn("rare", corpus_c < 5)
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_tok"),
            F.sum(F.when(F.col("rare"), F.col("k")).otherwise(0)).alias(
                "n_rare"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tok",
        "n_rare",
        F.floor(F.col("n_rare") * 1000 / F.col("n_tok"))
        .cast("long")
        .alias("oov_permille"),
    )


def q_text_bigram_logprob(spark, sf_dir):
    """Corpus bigram-LM quality score (the KenLM-perplexity-filter shape
    of CCNet, self-contained): score each doc by its mean conditional
    bigram logprob -ln p(w2|w1) under the corpus's own MLE bigram model,
    p(w2|w1) = c(w1 w2) / c(w1·) with c(w1·) counting w1's occurrences
    as a bigram PREFIX (so probabilities per prefix sum to 1 exactly).

    Scale shape: ONE corpus scan, TWO exchanges, ZERO joins. Bigrams are
    built inside the projection (zip of the token array with its tail);
    one explicit repartition on the prefix w1 satisfies the required
    clustering of BOTH count windows — partitionBy(w1) for the prefix
    count and partitionBy(w1, g) for the bigram count (subset rule) —
    so both model counts attach to each doc's rows in place; the per-doc
    rollup is the second exchange. Per-token surprisal is quantized to
    an integer at a COARSE 1e-4 before the distributed sum (exact,
    order-free; ln is the one transcendental — same boundary-density
    argument as text_unigram_surprisal)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tokens = F.split(F.lower(F.trim(F.col("text"))), "\\s+")
    w = tokens
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), F.concat_ws(" ", a, b).alias("g")),
    )
    bg = (
        _spread(docs).filter(F.size(w) >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.g").alias("g"))
    )
    part = bg.repartition("w1")
    c1 = F.count(F.lit(1)).over(Window.partitionBy("w1"))
    c2 = F.count(F.lit(1)).over(Window.partitionBy("w1", "g"))
    lp_q = F.floor(-F.log(c2 / c1) * 1e4).cast("long")
    scored = (
        part.select("doc_id", lp_q.alias("lp_q"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.sum("lp_q").alias("s4"))
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        (F.floor(F.col("s4") / F.col("n_bigrams")) / 1e4).alias(
            "mean_bigram_logprob"
        ),
    )


BM25_TERMS = ["join", "shuffle", "vector"]  # shared with the oracle SQL


def q_bm25_search(spark, sf_dir):
    """BM25 retrieval (Robertson/Sparck-Jones; the Okapi ranking ES/Lucene
    uses): score every document against a fixed bag-of-terms query and
    return the top 20. Complements tfidf_topterms (per-doc keywords)
    with the corpus-level SEARCH direction.

    Scale shape: the token explode is filtered to the QUERY TERMS before
    any aggregation (per-doc tf rows <= |terms| * matching docs), doc
    length comes from a doc-level size(tokens) projection (no second
    explode), the 3-row df table is a broadcast join, and the top-k is
    a TakeOrdered (sort-limit), never a global sort. Constants k1=1.25,
    b=0.75 are exactly representable doubles; every +,*,/ is IEEE
    correctly-rounded and written in the same association order as the
    oracle SQL; ln is the one transcendental, so per-(doc, term) partial
    scores are floor-quantized at the COARSE 1e4 BEFORE the (order-free)
    integer sum — the same cross-engine determinism treatment as
    text_unigram_surprisal."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tokens = TX.ws_tokens(F.col("text"))
    lens = docs.select("doc_id", F.size(tokens).alias("dl"))
    totals = lens.agg(
        F.sum("dl").alias("tot"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    n_docs = int(totals["n"])
    avgdl = float(totals["tot"]) / float(n_docs)  # int/int: exact-rounded
    tok = docs.select("doc_id", F.explode(tokens).alias("tk")).filter(
        F.col("tk").isin(BM25_TERMS)
    )
    # r7: df derives from tf (one row per (doc, term) already), so the
    # former second explode + distinct pass over the token stream is
    # gone; tf feeding two consumers is fine — both sit above tf's
    # aggregation exchange, which Spark de-duplicates (ReusedExchange),
    # so the explode runs once (an eager localCheckpoint here was A/B'd
    # and LOST to exchange reuse: 2.0s vs 1.5s)
    tf = tok.groupBy("doc_id", "tk").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tk").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    part = (
        idf
        * (F.col("tf") * 2.25)
        / (F.col("tf") + 1.25 * (0.25 + 0.75 * (F.col("dl") / F.lit(avgdl))))
    )
    scored = (
        tf.join(F.broadcast(df_), "tk")
        .join(lens, "doc_id")
        .select("doc_id", F.floor(part * 1e4).cast("long").alias("p4"))
        .groupBy("doc_id")
        .agg(F.sum("p4").alias("score_q"))
    )
    top = scored.orderBy(F.col("score_q").desc(), F.col("doc_id").asc()).limit(20)
    # rank over 20 rows: the single-partition window is bounded by k
    w = Window.orderBy(F.col("score_q").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def q_chunk_windows(spark, sf_dir):
    """RAG-style chunking: split every document into overlapping token
    windows (size 32, stride 24 — 8-token overlap), the retrieval-index
    preprocessing step between raw corpus and embedding.

    Scale shape: ONE scan, ZERO joins, ZERO shuffles — chunk starts are
    a sequence() built per row and exploded with the token array carried
    in the same projection; slice() is evaluated per chunk without the
    text ever leaving its row (the substring_dup_rate lesson). Pure
    integer/string ops — no float, no transcendental."""
    docs = _t(spark, sf_dir, "documents")
    tokens = TX.ws_tokens(F.col("text"))
    base = docs.select("doc_id", tokens.alias("tks")).filter(F.size("tks") > 0)
    starts = F.sequence(F.lit(0), F.size("tks") - 1, F.lit(24))
    chunks = base.select(
        "doc_id", "tks", F.explode(starts).alias("s")
    )
    piece = F.slice(F.col("tks"), F.col("s") + 1, 32)
    return chunks.select(
        "doc_id",
        (F.col("s") / 24).cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def _char_entropy_kernel(batches):
    """Arrow-batched numpy kernel for q_text_char_entropy (guide §4.2):
    per-doc char histograms + the quantized-entropy reduction, all
    vectorized ACROSS the batch (no per-doc Python loop). Every step
    mirrors the expression formulation's IEEE ops exactly — counts are
    exact integers, q = floor((c * -log(c/n)) * 1e4) with the same
    double division/multiply order, per-doc sums are exact integer sums
    (bincount weights < 2^53) — so the only operation that can differ
    from the JVM path is libm log vs Java Math.log, guarded by the same
    coarse 1e4 floor quantum the cross-engine oracle already relies on
    (pinned kernel==expression in tests/test_text_kernels.py and
    zero-mismatch vs the expression at 4 datasets incl. sf1.0-scale)."""
    import numpy as np
    import pandas as pd

    # Java regex '.' (the old explode) skips line terminators; length()
    # still counts them, so exclusion only affects the histogram
    excl = np.array([0x0A, 0x0D, 0x85, 0x2028, 0x2029], dtype=np.int64)
    for pdf in batches:
        texts = pdf["text"].fillna("")
        ids = pdf["doc_id"].to_numpy()
        lens = texts.str.len().to_numpy(dtype=np.int64)
        joined = "".join(texts.tolist())
        cp = np.frombuffer(
            joined.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
        ).astype(np.int64)
        doc_idx = np.repeat(np.arange(len(texts), dtype=np.int64), lens)
        keep = ~np.isin(cp, excl)
        cp, di = cp[keep], doc_idx[keep]
        # one sort over (doc, codepoint) packed keys gives every per-doc
        # histogram at once; code points < 2^21, batch index < 2^43
        uk, c = np.unique((di << 21) | cp, return_counts=True)
        kdi = uk >> 21
        n = lens[kdi].astype(np.float64)
        cf = c.astype(np.float64)
        q = np.floor((cf * -np.log(cf / n)) * 10000.0).astype(np.int64)
        s4 = np.bincount(kdi, weights=q.astype(np.float64), minlength=len(texts)).astype(np.int64)
        dc = np.bincount(kdi, minlength=len(texts)).astype(np.int64)
        present = np.zeros(len(texts), dtype=bool)
        present[kdi] = True  # docs with zero kept chars vanish, like explode
        ent = np.floor(
            s4[present].astype(np.float64) / lens[present].astype(np.float64)
        ) / 10000.0
        yield pd.DataFrame(
            {
                "doc_id": ids[present],
                "n_chars": lens[present],
                "distinct_chars": dc[present],
                "char_entropy": ent,
            }
        )


def q_text_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document — the cheap
    gibberish/boilerplate detector (low entropy = repeated runs,
    high = encoding noise). entropy = sum_c (c/n) * -ln(c/n) computed
    as (1/n) * sum_c [c * -ln(c/n)], with the per-(doc, char) partial
    floor-quantized at the coarse 1e4 BEFORE the order-free integer
    sum (single-transcendental treatment as text_unigram_surprisal).

    r7 scale shape: the whole reduction is doc-local, so it runs as ONE
    Arrow-batched numpy kernel over one scan — ZERO exchanges, no 40M-row
    explode through a hash aggregate (that aggregate was the round's
    heaviest non-dedup stage: 5.4-7.6s warm at sf1.0-scale vs ~1.0s for
    the kernel, and the 41M-char histogram never leaves its batch).
    Embarrassingly parallel at 100 TB; only (doc_id, text) cross the
    Python boundary. The expression formulation it replaced (and is
    pinned against) is _text_char_entropy_expr below."""
    docs = _t(spark, sf_dir, "documents")
    return _spread(docs).select("doc_id", "text").mapInPandas(
        _char_entropy_kernel,
        "doc_id long, n_chars long, distinct_chars long, char_entropy double",
    )


def _text_char_entropy_expr(spark, sf_dir):
    """The pure-expression twin of q_text_char_entropy (pre-r7 shape):
    kept as the kernel's equivalence oracle — tests pin kernel ==
    expression on edge-case corpora (nulls, empties, newlines, unicode)
    and the checked SFs."""
    docs = _t(spark, sf_dir, "documents")
    # aggregate on the char's CODE POINT (ascii), not the 1-char
    # string — the mapping is bijective for single code points and the
    # char itself never reaches the output, so per-(doc, char) counts are
    # identical while the 40M-row hash aggregate runs on integer keys
    # (~12% on this stage; split('')-based kernels A/B'd slower than the
    # regexp explode, see OPTIMIZATION_r07.md).
    ch = docs.select(
        "doc_id",
        F.length("text").alias("n"),
        F.explode(F.expr("regexp_extract_all(text, '.', 0)")).alias("ch"),
    ).select("doc_id", "n", F.ascii("ch").alias("ch"))
    cc = ch.groupBy("doc_id", "n", "ch").agg(F.count(F.lit(1)).alias("c"))
    q = cc.select(
        "doc_id",
        "n",
        F.floor(
            (F.col("c") * -F.log(F.col("c") / F.col("n").cast("double"))) * 10000
        )
        .cast("long")
        .alias("q"),
    )
    s = q.groupBy("doc_id", "n").agg(
        F.count(F.lit(1)).alias("distinct_chars"), F.sum("q").alias("s4")
    )
    return s.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars"),
        F.col("distinct_chars").cast("long").alias("distinct_chars"),
        (F.floor(F.col("s4").cast("double") / F.col("n").cast("double")) / 10000).alias(
            "char_entropy"
        ),
    )
