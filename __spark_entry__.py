"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship CDC query on sf0.001.
``queries()``    — one entry per implemented operator (SURVEY.md §2 +
                   training-data extensions), each (spark, sf_dir) -> DF.
``oracle_sql()`` — DuckDB ANSI-SQL twins (column names/values matched).

EVERY registered query carries an exact oracle — including the
hash-derived scale paths (MinHash/SimHash/LSH/IVF/HLL), which run in
portable-hash mode (md5-derived 60-bit lanes + exact-integer arithmetic,
see functions/portable_hash.py) so DuckDB reproduces them bit-for-bit;
the iterative connected-components is twinned by a recursive CTE, and
multimodal decode by the asset-generation formulas. Verify locally:
``python scripts/check_oracles.py --sf 0.01``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# the engine package lives next to this file; make imports robust to the
# driver's working directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tap_rest_api_msdk_spark import queries as Q
from tap_rest_api_msdk_spark.functions.freq import (
    bloom_oracle_sql,
    countmin_oracle_sql,
)
from tap_rest_api_msdk_spark.functions.sketch import (
    hist_percentiles_oracle_sql,
    hll_oracle_sql,
)
from tap_rest_api_msdk_spark.functions.similarity import (
    ivf_topk_oracle_sql,
    semantic_dedup_oracle_sql,
)
from tap_rest_api_msdk_spark.operators.neardup import (
    dedup_components_oracle_sql,
    portable_minhash_oracle_sql,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC latest-state materialization of the events WAL —
    LWW per user by replication key, with the JSON payload field promoted
    (flatten F1 known-schema path)."""
    from tap_rest_api_msdk_spark.operators.dedup import lww_dedup

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    latest = lww_dedup(ev, ["user_id"], ["event_id"])
    return latest.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("long").alias("props_k"),
    )


# Driver-gate rotation (r5 verdict item #1): the driver's CORRECTNESS
# artifact runs only the FIRST 50 queries() entries, so the registry is
# reordered STALEST-FIRST, derived mechanically from the prior rounds'
# CORRECTNESS_r*.json artifacts — a query's priority is the last round a
# driver row covered it (never-covered sorts first; ties keep registry
# order). Each round the cap therefore lands on the least-recently
# verified half, alternating by construction with no hand-edited list.
# Accounting only: same queries, same callables, same oracles.
def _driver_last_seen() -> dict[str, int]:
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    seen: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            for k in rows:
                seen[k] = max(seen.get(k, 0), rnd)
    return seen


def _rotate_for_driver(d: dict) -> dict:
    seen = _driver_last_seen()
    order = sorted(d, key=lambda k: seen.get(k, -1))  # stable: ties keep dict order
    return {k: d[k] for k in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotate_for_driver({
        # CDC / reference-semantics operators
        "lww_latest_state": Q.q_lww_latest_state,
        "incremental_filter": Q.q_incremental_filter,
        "flatten_props": Q.q_flatten_props,
        "result_limit": Q.q_result_limit,
        "bookmark_state": Q.q_bookmark_state,
        "lineage_metrics": Q.q_lineage_metrics,
        "window_lag_delta": Q.q_window_lag_delta,
        "scd2_history": Q.q_scd2_history,
        "asof_join_signup": Q.q_asof_join_signup,
        "range_join_clicks": Q.q_range_join_clicks,
        # dedup family
        "dedup_exact": Q.q_dedup_exact,
        "dedup_ngram_jaccard": Q.q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": Q.q_dedup_minhash_lsh,
        "dedup_simhash": Q.q_dedup_simhash,
        "dedup_components": Q.q_dedup_components,
        "dedup_survivors": Q.q_dedup_survivors,
        "sample_split": Q.q_sample_split,
        "dedup_contained": Q.q_dedup_contained,
        "sample_stratified": Q.q_sample_stratified,
        "text_repetition": Q.q_text_repetition,
        "text_unigram_surprisal": Q.q_text_unigram_surprisal,
        "text_oov_rate": Q.q_text_oov_rate,
        "text_bigram_logprob": Q.q_text_bigram_logprob,
        "substring_dup_rate": Q.q_substring_dup_rate,
        "line_dedup": Q.q_line_dedup,
        "decontaminate_ngram_overlap": Q.q_decontaminate_ngram_overlap,
        "decontaminate_ngram_shuffle": Q.q_decontaminate_ngram_shuffle,
        "quality_linear_score": Q.q_quality_linear_score,
        "quality_percentile_filter": Q.q_quality_percentile_filter,
        "sample_temperature": Q.q_sample_temperature,
        "pack_sequences": Q.q_pack_sequences,
        "events_funnel": Q.q_events_funnel,
        "late_data_watermark": Q.q_late_data_watermark,
        "retention_cohorts": Q.q_retention_cohorts,
        "asof_join_tolerance": Q.q_asof_join_tolerance,
        "pii_scrub": Q.q_pii_scrub,
        "dedup_survivors_quality": Q.q_dedup_survivors_quality,
        "corpus_final_filter": Q.q_corpus_final_filter,
        "bm25_search": Q.q_bm25_search,
        "chunk_windows": Q.q_chunk_windows,
        "text_char_entropy": Q.q_text_char_entropy,
        # text analysis
        "text_tokens": Q.q_text_tokens,
        "text_quality": Q.q_text_quality,
        "text_langid": Q.q_text_langid,
        "text_fingerprint": Q.q_text_fingerprint,
        "text_gopher_quality": Q.q_text_gopher_quality,
        "text_tfidf_topterms": Q.q_text_tfidf_topterms,
        "sql_revenue_by_month": Q.q_sql_revenue_by_month,
        # similarity search
        "ann_cosine_topk": Q.q_ann_cosine_topk,
        "embedding_pairs_exact": Q.q_embedding_pairs_exact,
        "ann_lsh_topk": Q.q_ann_lsh_topk,
        "ann_ivf_topk": Q.q_ann_ivf_topk,
        "semantic_dedup": Q.q_semantic_dedup,
        # skew-handling variant (same oracle as plain LWW)
        "lww_latest_state_salted": Q.q_lww_latest_state_salted,
        # streaming-shaped windows
        "tumbling_window_counts": Q.q_tumbling_window_counts,
        "hopping_window_counts": Q.q_hopping_window_counts,
        "session_windows": Q.q_session_windows,
        # grouping sets / set ops
        "rollup_revenue": Q.q_rollup_revenue,
        "set_ops_active_users": Q.q_set_ops_active_users,
        # multimodal: real stdlib codecs (PPM/WAV/FAKV), formula-oracled
        "multimodal_image_features": Q.q_multimodal_image_features,
        "multimodal_frame_sampling": Q.q_multimodal_frame_sampling,
        "multimodal_audio_features": Q.q_multimodal_audio_features,
        "multimodal_png_features": Q.q_multimodal_png_features,
        # percentiles / distinct sketches
        "value_percentiles": Q.q_value_percentiles,
        "hist_value_percentiles": Q.q_hist_value_percentiles,
        "distinct_users_exact": Q.q_distinct_users_exact,
        "approx_distinct_users": Q.q_approx_distinct_users,
        "heavy_hitters_countmin": Q.q_heavy_hitters_countmin,
        "bloom_filter_join": Q.q_bloom_filter_join,
        # relational coverage
        "pricing_summary": Q.q_pricing_summary,
        "top_revenue_orders": Q.q_top_revenue_orders,
        "join_enrich_broadcast": Q.q_join_enrich_broadcast,
        "local_supply_revenue": Q.q_local_supply_revenue,
        "customers_without_orders": Q.q_customers_without_orders,
        "order_priority_counts": Q.q_order_priority_counts,
        "customer_distribution": Q.q_customer_distribution,
        "promo_revenue": Q.q_promo_revenue,
    })


_STOP_EN = "['the','and','of','to','in','is','that','it','for','was']"
_STOP_FR = "['le','la','les','de','et','un','une','est','que','pour']"
_STOP_DE = "['der','die','das','und','ist','von','ein','eine','zu','mit']"
_STOP_ES = "['el','la','los','de','y','un','una','es','que','por']"
_PUNCT_RE = "[.,;:!?''\"()\\[\\]{}-]"
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
_WS_TOKENS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_HITS = (
    "len(list_filter(" + _WS_TOKENS + ", x -> list_contains({lst}, x)))"
)


def oracle_sql() -> dict[str, str]:
    d = {
        "lww_latest_state": """
            with ranked as (
                select *, row_number() over (
                    partition by user_id order by event_id desc
                ) as rn from events
            )
            select user_id, event_id, event_type, value, props
            from ranked where rn = 1
        """,
        "incremental_filter": """
            select event_id, user_id, event_type, value
            from events where event_id > 5000
        """,
        "flatten_props": """
            select event_id,
                   cast(json_extract_string(props, '$.k') as bigint) as props_k
            from events
        """,
        "result_limit": """
            select event_id, user_id, event_type
            from events order by event_id limit 100
        """,
        "bookmark_state": """
            select event_type,
                   max(event_id) as bookmark,
                   count(*) as n_events,
                   strftime(max(ts), '%Y-%m-%dT%H:%M:%S') as bookmark_str
            from events group by event_type
        """,
        "lineage_metrics": """
            select user_id % 16 as partition_id,
                   count(*) as event_count,
                   min(event_id) as offset_start,
                   max(event_id) as offset_end,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') as watermark
            from events group by 1
        """,
        "window_lag_delta": """
            select user_id, event_id,
                   round(value - lag(value) over (
                       partition by user_id order by event_id
                   ), 6) as value_delta
            from events where user_id < 50
        """,
        "scd2_history": """
            select user_id, event_id, event_type,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') as valid_from,
                   strftime(lead(ts) over w, '%Y-%m-%d %H:%M:%S') as valid_to,
                   cast(case when lead(ts) over w is null then 1 else 0 end
                        as integer) as is_current
            from events
            window w as (partition by user_id order by ts, event_id)
        """,
        # as-of join: DuckDB's NATIVE ASOF LEFT JOIN oracles the engine's
        # union + running-last formulation (inclusive <= tie rule)
        "asof_join_signup": """
            with p as (
                select user_id, ts, event_id from events
                where event_type = 'purchase'
            ), s as (
                select user_id, ts, max(event_id) as signup_event_id
                from events where event_type = 'signup'
                group by user_id, ts
            )
            select p.user_id, p.event_id,
                   strftime(p.ts, '%Y-%m-%d %H:%M:%S') as ts,
                   s.signup_event_id as signup_event_id_asof
            from p asof left join s
              on p.user_id = s.user_id and p.ts >= s.ts
        """,
        # digit-run redaction: Spark regexp_replace replaces ALL matches by
        # default; DuckDB needs the 'g' flag (cross-engine rule from the
        # module docstring)
        "pii_scrub": """
            select event_id,
                   regexp_replace(props, '[0-9]+', '#', 'g') as scrubbed,
                   cast(len(regexp_extract_all(props, '[0-9]+')) as bigint)
                       as n_redactions
            from events
        """,
        # as-of join with a merge_asof-style tolerance: matches staler than
        # 2h null out (filter on the carried timestamp, not a second join)
        "asof_join_tolerance": """
            with p as (
                select user_id, ts, event_id from events
                where event_type = 'purchase'
            ), s as (
                select user_id, ts, max(event_id) as signup_event_id
                from events where event_type = 'signup'
                group by user_id, ts
            )
            select p.user_id, p.event_id,
                   strftime(p.ts, '%Y-%m-%d %H:%M:%S') as ts,
                   case when s.ts is not null
                             and epoch(p.ts) - epoch(s.ts) <= 7200
                        then s.signup_event_id end as signup_within_2h
            from p asof left join s
              on p.user_id = s.user_id and p.ts >= s.ts
        """,
        # line-level exact dedup with document rewrite: 10-token lines,
        # drop lines occurring >= 2 times corpus-wide, reassemble cleaned
        # text in position order, pin it via sha256
        "line_dedup": f"""
            with tok as (
                select doc_id, {_WS_TOKENS} as w from documents
            ), ch as (
                select doc_id, i as pos,
                       array_to_string(w[(i*10+1):(i*10+10)], ' ') as chunk
                from tok,
                     unnest(range(cast(ceil(len(w)/10.0) as bigint))) as t(i)
            ), flagged as (
                select doc_id, pos, chunk,
                       count(*) over (partition by chunk) >= 2 as dup
                from ch
            )
            select doc_id,
                   cast(count(*) as bigint) as n_lines,
                   cast(sum(case when dup then 1 else 0 end) as bigint)
                       as n_dup_lines,
                   cast(length(coalesce(string_agg(
                       case when not dup then chunk end, ' ' order by pos),
                       '')) as bigint) as cleaned_len,
                   sha256(coalesce(string_agg(
                       case when not dup then chunk end, ' ' order by pos),
                       '')) as cleaned_sha
            from flagged group by doc_id
        """,
        # 13-gram benchmark decontamination: eval split = doc_id % 20 == 0;
        # per TRAIN doc, distinct 13-gram collisions with the eval set
        "decontaminate_ngram_overlap": f"""
            with tok as (
                select doc_id, {_WS_TOKENS} as toks from documents
            ), g as (
                select doc_id, array_to_string(toks[i:i+12], ' ') as gram
                from tok, unnest(generate_series(1, greatest(len(toks) - 12, 0))) as t(i)
            ), tg as (
                select distinct doc_id, gram from g where doc_id % 20 <> 0
            ), eg as (
                select distinct gram from g where doc_id % 20 = 0
            ), pd as (
                select tg.doc_id,
                       cast(count(*) as bigint) as n_grams,
                       cast(sum(case when eg.gram is not null then 1 else 0 end)
                            as bigint) as n_contaminated
                from tg left join eg on tg.gram = eg.gram
                group by tg.doc_id
            )
            select d.doc_id,
                   cast(coalesce(pd.n_grams, 0) as bigint) as n_grams,
                   cast(coalesce(pd.n_contaminated, 0) as bigint) as n_contaminated,
                   coalesce(pd.n_contaminated, 0) > 0 as contaminated
            from documents d left join pd on d.doc_id = pd.doc_id
            where d.doc_id % 20 <> 0
        """,
        # fixed-weight linear quality scorer (fasttext-filter shape): all
        # features are integer ratios, the combination is association-
        # order-identical in both engines — bit-exact doubles, no ln/exp
        "quality_linear_score": f"""
            with tok as (
                select doc_id, unnest({_WS_TOKENS}) as tk from documents
            ), agg as (
                select doc_id,
                       count(*) as n_tok,
                       count(distinct tk) as n_distinct,
                       cast(sum(len(tk)) as bigint) as sum_len,
                       cast(sum(case when tk in ('the','a','of','and','to','in','is','it')
                                     then 1 else 0 end) as bigint) as n_stop
                from tok group by doc_id
            )
            , scored as (
                select doc_id, n_tok,
                       (((n_distinct / cast(n_tok as double)) * 5e-1
                         - (n_stop / cast(n_tok as double)) * 8e-1)
                        + (sum_len / cast(n_tok as double)) * 1e-1)
                       + n_tok * 2e-3 as score
                from agg
            )
            select doc_id, n_tok,
                   floor(score * 10000) / 10000 as quality_score,
                   score > 75e-2 as keep
            from scored
        """,
        "range_join_clicks": """
            select e.event_id, e.user_id,
                   count(c.ts) as n_clicks_5m
            from (select event_id, user_id, ts from events where event_type = 'error') e
            left join (select user_id, ts from events where event_type = 'click') c
              on c.user_id = e.user_id
             and c.ts >= e.ts - interval 300 seconds
             and c.ts <  e.ts
            group by e.event_id, e.user_id
        """,
        "dedup_exact": """
            select md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) as fingerprint,
                   count(*) as n_dups,
                   min(doc_id) as keep_id
            from documents group by 1
        """,
        "dedup_ngram_jaccard": f"""
            with tok as (
                select doc_id, {_WS_TOKENS} as w from documents
            ), sh0 as (
                select distinct doc_id, array_to_string(w[i:i+2], ' ') as shingle
                from tok, unnest(generate_series(1, greatest(len(w)-2, 1))) as t(i)
            ), keepsh as (   -- skew guard: drop shingles shared by >100 docs
                select shingle from sh0 group by shingle having count(*) <= 100
            ), sh as (
                select sh0.* from sh0 join keepsh using (shingle)
            ), sizes as (
                select doc_id, count(*) as sz from sh group by doc_id
            ), inter as (
                select a.doc_id as id_a, b.doc_id as id_b, count(*) as inter
                from sh a join sh b on a.shingle = b.shingle and a.doc_id < b.doc_id
                group by 1, 2
            )
            select id_a, id_b,
                   round(inter / (sa.sz + sb.sz - inter), 6) as jaccard
            from inter
            join sizes sa on sa.doc_id = id_a
            join sizes sb on sb.doc_id = id_b
            where round(inter / (sa.sz + sb.sz - inter), 6) >= 0.3
        """,
        # portable MinHash LSH: ONE md5 per shingle -> k universal-hash
        # lanes ((a*h+b) mod 2^31-1) -> Horner band fold -> candidate
        # self-join -> exact-Jaccard verify; generated lane-for-lane from
        # the same constants the Spark operator uses
        "dedup_minhash_lsh": portable_minhash_oracle_sql(
            "documents", "doc_id", "text", n=3, k=32, bands=16, threshold=0.5
        ),
        # near-dup clusters: iterative min-label components in Spark,
        # recursive-CTE transitive closure in DuckDB — exact twin
        "dedup_components": dedup_components_oracle_sql(
            "documents", "doc_id", "text", n=3, k=32, bands=16, threshold=0.5
        ),
        # end-to-end dedup: pairs -> components -> anti-join non-survivors
        "dedup_survivors": f"""
            with recursive pairs as (
                select id_a, id_b from ({portable_minhash_oracle_sql(
                    "documents", "doc_id", "text", n=3, k=32, bands=16, threshold=0.5
                )}) q
            ), edges as (
                select id_a as a, id_b as b from pairs
                union
                select id_b, id_a from pairs
            ), reach(src, dst) as (
                select a, b from edges
                union
                select r.src, e.b from reach r join edges e on r.dst = e.a
            ), comp as (
                select src as node, least(src, min(dst)) as comp
                from reach group by src
            ), losers as (
                select node as doc_id from comp where node <> comp
            )
            select count(*) as n_docs,
                   cast(sum(len(text)) as bigint) as total_chars,
                   min(doc_id) as min_id
            from documents
            where doc_id not in (select doc_id from losers)
        """,
        # quality-aware survivor selection: per near-dup cluster keep the
        # best-scoring member (tie-break doc_id) — dedup x quality compose
        "dedup_survivors_quality": f"""
            with recursive pairs as (
                select id_a, id_b from ({portable_minhash_oracle_sql(
                    "documents", "doc_id", "text", n=3, k=32, bands=16, threshold=0.5
                )}) q
            ), edges as (
                select id_a as a, id_b as b from pairs
                union
                select id_b, id_a from pairs
            ), reach(src, dst) as (
                select a, b from edges
                union
                select r.src, e.b from reach r join edges e on r.dst = e.a
            ), comp as (
                select src as node, least(src, min(dst)) as comp
                from reach group by src
            ), tok as (
                select doc_id, unnest({_WS_TOKENS}) as tk from documents
            ), agg as (
                select doc_id,
                       count(*) as n_tok,
                       count(distinct tk) as n_distinct,
                       cast(sum(len(tk)) as bigint) as sum_len,
                       cast(sum(case when tk in ('the','a','of','and','to','in','is','it')
                                     then 1 else 0 end) as bigint) as n_stop
                from tok group by doc_id
            ), qsc as (
                select doc_id,
                       floor(((((n_distinct / cast(n_tok as double)) * 5e-1
                               - (n_stop / cast(n_tok as double)) * 8e-1)
                              + (sum_len / cast(n_tok as double)) * 1e-1)
                             + n_tok * 2e-3) * 10000) / 10000 as quality_score
                from agg
            ), m as (
                select c.comp, c.node, qsc.quality_score,
                       row_number() over (
                           partition by c.comp
                           order by qsc.quality_score desc, c.node desc
                       ) as rn,
                       count(*) over (partition by c.comp) as n_members
                from comp c join qsc on qsc.doc_id = c.node
            )
            select comp, cast(n_members as bigint) as n_members,
                   node as keep_id, quality_score as keep_score
            from m where rn = 1
        """,
        # deterministic hash-threshold splits (90/5/5 of the hash60 range)
        "sample_split": f"""
            with h as (
                select doc_id,
                       cast(concat('0x', substr(md5(doc_id::varchar), 1, 15)) as bigint) as h
                from documents
            )
            select case when h <= {int(((1 << 60) - 1) * 0.90)} then 'train'
                        when h <= {int(((1 << 60) - 1) * 0.95)} then 'val'
                        else 'test' end as split,
                   count(*) as n_docs,
                   min(doc_id) as min_id,
                   max(doc_id) as max_id
            from h group by 1
        """,
        # containment dedup: one anchor shingle per doc joined against the
        # inverted index, instr verify — identical candidate rule both sides
        "dedup_contained": f"""
            with tok as (
                select doc_id, text, len(text) as ln, {_WS_TOKENS} as w
                from documents
            ), sh0 as (
                select distinct doc_id, array_to_string(w[i:i+2], ' ') as shingle
                from tok, unnest(generate_series(1, greatest(len(w)-2, 1))) as t(i)
            ), keepsh as (
                select shingle from sh0 group by shingle having count(*) <= 100
            ), sh as (
                select sh0.* from sh0 join keepsh using (shingle)
            ), anchors as (
                select doc_id, min(shingle) as shingle from sh group by doc_id
            ), cand as (
                select distinct a.doc_id as id_a, b.doc_id as id_b
                from anchors a join sh b using (shingle)
                where a.doc_id <> b.doc_id
            )
            select c.id_a as contained_id, c.id_b as container_id
            from cand c
            join tok ta on ta.doc_id = c.id_a
            join tok tb on tb.doc_id = c.id_b
            where ta.ln < tb.ln and position(ta.text in tb.text) > 0
        """,
        # per-stratum deterministic sampling: hash salted with the stratum,
        # per-lang thresholds; floor() before the bigint cast (DuckDB CAST
        # rounds, Spark cast truncates)
        "sample_stratified": f"""
            with h as (
                select lang, doc_id,
                       cast(concat('0x', substr(md5(concat(lang, '|', doc_id::varchar)), 1, 15)) as bigint) as h,
                       case when lang = 'en' then 0.5
                            when lang = 'fr' then 0.3
                            else 0.1 end as rate
                from documents
            ), s as (
                select lang, doc_id, h,
                       cast(floor(rate * {(1 << 60) - 1}.0) as bigint) as thr
                from h
            )
            select lang,
                   count(*) as n_docs,
                   cast(sum(case when h <= thr then 1 else 0 end) as bigint) as n_sampled,
                   min(case when h <= thr then doc_id end) as min_sampled_id
            from s group by lang
        """,
        # Gopher-style repetition: duplicate-bigram fraction + top-token
        # fraction, floor-truncated doubles (uniform cross-engine rule)
        "text_repetition": f"""
            with tok as (
                select doc_id, {_WS_TOKENS} as w from documents
            ), grams as (
                select doc_id,
                       list_transform(generate_series(1, greatest(len(w)-1, 1)),
                                      i -> array_to_string(w[i:i+1], ' ')) as g
                from tok
            ), gr as (
                select doc_id, len(g) as n_bigrams,
                       len(list_distinct(g)) as n_distinct
                from grams
            ), tt as (
                select doc_id, max(c) as top_c, cast(sum(c) as bigint) as n_tok
                from (
                    select doc_id, tk, count(*) as c
                    from (select doc_id, unnest(w) as tk from tok)
                    group by doc_id, tk
                ) group by doc_id
            )
            select g.doc_id,
                   cast(g.n_bigrams as bigint) as n_bigrams,
                   floor((1.0 - g.n_distinct / g.n_bigrams) * 1000000) / 1000000
                       as dup_bigram_frac,
                   floor(tt.top_c / tt.n_tok * 1000000) / 1000000
                       as top_token_frac
            from gr g join tt using (doc_id)
        """,
        # exact-substring duplication rate (Lee et al. 2022 shape): 40-char
        # windows at stride 8, per-doc fraction whose exact text occurs in
        # another doc (window df >= 2)
        "substring_dup_rate": """
            with w as (
                select doc_id,
                       substr(text, p * 8 + 1, 40) as win
                from documents,
                     unnest(generate_series(
                         0, cast(greatest(floor((len(text) - 40) / 8.0) + 1, 1) as bigint) - 1
                     )) as t(p)
            ), dfc as (
                select win, count(distinct doc_id) as df_ from w group by win
            ), per_doc as (
                select w.doc_id,
                       count(*) as n_windows,
                       cast(sum(case when dfc.df_ >= 2 then 1 else 0 end) as bigint) as n_dup
                from w join dfc using (win)
                group by w.doc_id
            )
            select doc_id, n_windows,
                   floor(n_dup / n_windows * 1000000) / 1000000 as dup_window_frac
            from per_doc
        """,
        # corpus-unigram surprisal (CCNet-shape LM-quality proxy): per-token
        # -ln p quantized to an integer BEFORE summing (exact order-free
        # distributed sum; only ONE transcendental per distinct token).
        # quantum is a deliberately COARSE 1e4: ln is not correctly rounded
        # in either engine, and a 1-ulp difference flips the floored value
        # when x*Q lands near an integer — boundary density scales with Q
        "text_unigram_surprisal": f"""
            with tok as (
                select doc_id, unnest({_WS_TOKENS}) as tk from documents
            ), corpus as (
                select tk, count(*) as c from tok group by tk
            ), total as (
                select cast(count(*) as double) as n from tok
            ), scored as (
                select t.doc_id,
                       count(*) as n_tok,
                       cast(sum(cast(floor(-ln(c.c / total.n) * 10000) as bigint)) as bigint) as s4
                from tok t join corpus c using (tk) cross join total
                group by t.doc_id
            )
            select doc_id, n_tok,
                   floor(s4 / n_tok) / 10000 as mean_surprisal
            from scored
        """,
        # rare-token (OOV-ish) occurrence rate with the corpus as the
        # dictionary (threshold: corpus count < 5) — integer end to end
        "text_oov_rate": f"""
            with tok as (
                select doc_id, unnest({_WS_TOKENS}) as tk from documents
            ), c as (
                select tk, count(*) as c from tok group by tk
            ), per as (
                select t.doc_id,
                       count(*) as n_tok,
                       sum(case when c.c < 5 then 1 else 0 end) as n_rare
                from tok t join c using (tk)
                group by t.doc_id
            )
            select doc_id,
                   cast(n_tok as bigint) as n_tok,
                   cast(n_rare as bigint) as n_rare,
                   cast(floor(n_rare * 1000 / n_tok) as bigint) as oov_permille
            from per
        """,
        # corpus bigram-LM score (KenLM/CCNet perplexity-filter shape):
        # mean -ln p(w2|w1) with MLE counts from the corpus itself;
        # per-bigram surprisal integer-quantized at the COARSE 1e4 before
        # the sum (same transcendental-boundary argument as surprisal)
        "text_bigram_logprob": f"""
            with tok as (
                select doc_id, {_WS_TOKENS} as w from documents
            ), bg as (
                select doc_id, w[i] as w1, w[i] || ' ' || w[i + 1] as g
                from tok, unnest(generate_series(1, len(w) - 1)) as t(i)
                where len(w) >= 2
            ), c1 as (
                select w1, count(*) as c1 from bg group by w1
            ), c2 as (
                select w1, g, count(*) as c2 from bg group by w1, g
            ), scored as (
                select b.doc_id,
                       count(*) as n_bigrams,
                       cast(sum(cast(floor(-ln(c2.c2 / c1.c1) * 10000)
                                     as bigint)) as bigint) as s4
                from bg b
                join c2 using (w1, g)
                join c1 using (w1)
                group by b.doc_id
            )
            select doc_id,
                   cast(n_bigrams as bigint) as n_bigrams,
                   floor(s4 / n_bigrams) / 10000 as mean_bigram_logprob
            from scored
        """,
        # BM25 retrieval over a fixed 3-term query (k1=1.25, b=0.75 —
        # exactly-representable constants; identical association order to
        # the Spark expression; per-(doc, term) partials floor-quantized
        # at the coarse 1e4 before the order-free integer sum)
        "bm25_search": f"""
            with tok as (
                select doc_id, unnest({_WS_TOKENS}) as tk from documents
            ), lens as (
                select doc_id, len({_WS_TOKENS}) as dl from documents
            ), totals as (
                select cast(sum(dl) as double) / cast(count(*) as double) as avgdl,
                       cast(count(*) as double) as n
                from lens
            ), qt as (
                select doc_id, tk, count(*) as tf from tok
                where tk in ('join', 'shuffle', 'vector')
                group by doc_id, tk
            ), df_ as (
                select tk, count(distinct doc_id) as df from tok
                where tk in ('join', 'shuffle', 'vector')
                group by tk
            ), scored as (
                select q.doc_id,
                       cast(sum(cast(floor(
                           ln((totals.n - df_.df + 0.5) / (df_.df + 0.5) + 1.0)
                           * (q.tf * 2.25)
                           / (q.tf + 1.25 * (0.25 + 0.75 * (lens.dl / totals.avgdl)))
                           * 10000) as bigint)) as bigint) as score_q
                from qt q
                join df_ using (tk)
                join lens on q.doc_id = lens.doc_id
                cross join totals
                group by q.doc_id
            )
            select doc_id, score_q,
                   cast(row_number() over (order by score_q desc, doc_id asc)
                        as bigint) as rank
            from scored
            order by score_q desc, doc_id asc
            limit 20
        """,
        # RAG chunking: overlapping token windows (size 32, stride 24);
        # pure integer/string ops, list slicing clamps in both engines
        "chunk_windows": f"""
            with tok as (
                select doc_id, {_WS_TOKENS} as w from documents
            )
            select doc_id,
                   cast(s.s / 24 as bigint) as chunk_id,
                   cast(len(w[s.s + 1 : s.s + 32]) as bigint) as n_chunk_tokens,
                   array_to_string(w[s.s + 1 : s.s + 32], ' ') as chunk_text
            from tok, unnest(range(0, len(w), 24)) as s(s)
            where len(w) > 0
        """,
        # character-level Shannon entropy (gibberish/boilerplate signal):
        # per-(doc, char) partial floor-quantized at the coarse 1e4 before
        # the order-free integer sum; doc length rides the explode
        "text_char_entropy": """
            with ch as (
                select doc_id, length(text) as n,
                       unnest(regexp_extract_all(text, '.')) as ch
                from documents
            ), cc as (
                select doc_id, n, ch, count(*) as c from ch group by 1, 2, 3
            ), q as (
                select doc_id, n,
                       cast(floor(c * -ln(c / cast(n as double)) * 10000)
                            as bigint) as q
                from cc
            ), s as (
                select doc_id, n, count(*) as distinct_chars,
                       cast(sum(q) as bigint) as s4
                from q group by 1, 2
            )
            select doc_id,
                   cast(n as bigint) as n_chars,
                   cast(distinct_chars as bigint) as distinct_chars,
                   floor(cast(s4 as double) / cast(n as double)) / 10000
                       as char_entropy
            from s
        """,
        # portable 60-bit SimHash: per-bit +/-1 sums over md5-derived token
        # hashes, prefix-bucketed hamming join (prefix_bits=12 -> shift 48)
        "dedup_simhash": f"""
            with tok as (
                select doc_id, unnest({_WS_TOKENS}) as tk from documents
            ), h as (
                select doc_id, cast(concat('0x', substr(md5(tk), 1, 15)) as bigint) as h
                from tok
            ), bits as (
                select doc_id, j.j as j,
                       sum(case when (h >> j.j) & 1 = 1 then 1 else -1 end) as s
                from h cross join (select unnest(generate_series(0, 59)) as j) j
                group by doc_id, j.j
            ), sig as (
                select doc_id,
                       cast(sum(case when s > 0 then (1::bigint << j) else 0 end) as bigint) as sig
                from bits group by doc_id
            ), b as (
                select doc_id, sig, sig >> 48 as bucket from sig
            )
            select a.doc_id as id_a, b2.doc_id as id_b,
                   cast(bit_count(xor(a.sig, b2.sig)) as bigint) as hamming
            from b a join b b2 on a.bucket = b2.bucket and a.doc_id < b2.doc_id
            where bit_count(xor(a.sig, b2.sig)) <= 6
        """,
        "text_tokens": f"""
            select doc_id,
                   len({_WS_TOKENS}) as n_tokens,
                   len(regexp_extract_all(text, '{_BPE_RE}')) as n_bpe_tokens
            from documents
        """,
        "text_quality": f"""
            with m as (
                select doc_id,
                       cast(len(text) as double) as L,
                       cast(len({_WS_TOKENS}) as double) as NT,
                       cast({_HITS.format(lst=_STOP_EN)} as double) as SW,
                       cast(len(text) - len(regexp_replace(text, '{_PUNCT_RE}', '', 'g')) as double) as NP,
                       cast(len(text) - len(regexp_replace(text, '[A-Z]', '', 'g')) as double) as NU
                from documents
            )
            select doc_id,
                   round(NP / L, 6) as punct_ratio,
                   round(SW / NT, 6) as stopword_ratio,
                   round((least(L / 500.0, 1.0)
                          + (1.0 - least(NP / L * 5.0, 1.0))
                          + least(SW / NT * 4.0, 1.0)
                          + (1.0 - least(NU / L * 5.0, 1.0))) / 4.0, 6) as quality
            from m
        """,
        "text_langid": f"""
            with h as (
                select doc_id,
                       {_HITS.format(lst=_STOP_EN)} as h_en,
                       {_HITS.format(lst=_STOP_FR)} as h_fr,
                       {_HITS.format(lst=_STOP_DE)} as h_de,
                       {_HITS.format(lst=_STOP_ES)} as h_es
                from documents
            )
            select doc_id,
                   case when h_en > 0 and h_en = greatest(h_en, h_fr, h_de, h_es) then 'en'
                        when h_fr > 0 and h_fr = greatest(h_en, h_fr, h_de, h_es) then 'fr'
                        when h_de > 0 and h_de = greatest(h_en, h_fr, h_de, h_es) then 'de'
                        when h_es > 0 and h_es = greatest(h_en, h_fr, h_de, h_es) then 'es'
                        else 'und' end as lang_pred
            from h
        """,
        "text_fingerprint": """
            select doc_id,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) as fingerprint
            from documents
        """,
        # Gopher quality rules: integer counts + single IEEE divisions
        "text_gopher_quality": f"""
            with t as (
                -- a null text is the empty document
                select regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+') as w
                from documents
            ), m as (
                select len(w) as n,
                       list_sum(list_transform(w, x -> len(x))) as total_len,
                       len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) as alpha_words,
                       len(list_filter(w, x -> x = '#' or x = '...')) as symbols,
                       len(list_filter(w, x -> list_contains({_STOP_EN}, x))) as stop_hits
                from t
            ), f as (
                select (n >= 10 and n <= 100000) as ok_word_count,
                       (total_len / n >= 3.0 and total_len / n <= 10.0) as ok_mean_word_len,
                       (alpha_words / n >= 0.8) as ok_alpha_ratio,
                       (stop_hits >= 2) as ok_stopwords,
                       (symbols / n <= 0.1) as ok_symbol_ratio
                from m
            )
            select count(*) as n_docs,
                   cast(sum(case when ok_word_count then 0 else 1 end) as bigint) as fail_word_count,
                   cast(sum(case when ok_mean_word_len then 0 else 1 end) as bigint) as fail_mean_word_len,
                   cast(sum(case when ok_alpha_ratio then 0 else 1 end) as bigint) as fail_alpha_ratio,
                   cast(sum(case when ok_stopwords then 0 else 1 end) as bigint) as fail_stopwords,
                   cast(sum(case when ok_symbol_ratio then 0 else 1 end) as bigint) as fail_symbol_ratio,
                   cast(sum(case when ok_word_count and ok_mean_word_len and ok_alpha_ratio
                                  and ok_stopwords and ok_symbol_ratio
                             then 1 else 0 end) as bigint) as n_pass
            from f
        """,
        # TF-IDF top-3 terms/doc: tf * ln(N/df), floor at 6 decimals
        "text_tfidf_topterms": f"""
            with tok as (
                select doc_id, unnest({_WS_TOKENS}) as term from documents
            ), tf as (
                select doc_id, term, count(*) as tf from tok group by 1, 2
            ), df_ as (
                select term, count(distinct doc_id) as df from tok group by 1
            ), n as (
                select count(*) as n_docs from documents
            ), scored as (
                select tf.doc_id, tf.term,
                       floor(tf.tf * ln(cast(n.n_docs as double) / df_.df) * 1000000)
                           / 1000000 as score
                from tf join df_ using (term) cross join n
            ), ranked as (
                select doc_id, term, score,
                       row_number() over (
                           partition by doc_id order by score desc, term asc
                       ) as "rank"
                from scored
            )
            select doc_id, term, score, "rank" from ranked where "rank" <= 3
        """,
        "sql_revenue_by_month": """
            select strftime(l_shipdate, '%Y-%m') as ship_month,
                   cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(28,6)))
                        as double) as revenue,
                   count(*) as n_items
            from lineitem
            where l_shipdate >= timestamp '1996-01-01'
              and l_shipdate <  timestamp '1997-01-01'
            group by 1
        """,
        "ann_cosine_topk": """
            with e as (
                select vec_id, cast(embedding as double[]) as v from embeddings
            ), scored as (
                select q.vec_id as query_id, c.vec_id as neighbor_id,
                       list_cosine_similarity(q.v, c.v) as cos
                from e q join e c on c.vec_id <> q.vec_id
                where q.vec_id < 10
            ), ranked as (
                select query_id, neighbor_id, cos,
                       row_number() over (
                           partition by query_id order by cos desc, neighbor_id asc
                       ) as "rank"
                from scored
            )
            select query_id, neighbor_id, floor(cos * 10000) / 10000 as cos, "rank"
            from ranked where "rank" <= 10
        """,
        "embedding_pairs_exact": """
            with e as (
                select vec_id, cast(embedding as double[]) as v
                from embeddings where vec_id < 200
            )
            select a.vec_id as id_a, b.vec_id as id_b,
                   floor(list_cosine_similarity(a.v, b.v) * 10000) / 10000 as cos
            from e a join e b on a.vec_id < b.vec_id
            where list_cosine_similarity(a.v, b.v) >= 0.4
        """,
        # portable LSH-ANN: md5-derived +/-1 hyperplanes (component (t,p,d)
        # = +1 iff hash60("t|p|d") is odd), quantized floor(x*1e7) dots
        # (exact integers < 2^53 -> order-independent sums), 16 tables x 8
        # planes, exact cosine re-rank — mirrors lsh_bucketed_topk_portable
        "ann_lsh_topk": """
            with coords as (
                select t.t, p.p
                from (select unnest(generate_series(0, 15)) as t) t
                cross join (select unnest(generate_series(0, 7)) as p) p
            ), planes as (
                select t, p,
                       list_transform(generate_series(0, 63), d ->
                           case when cast(concat('0x', substr(md5(
                                    t::varchar || '|' || p::varchar || '|' || d::varchar
                                ), 1, 15)) as bigint) & 1 = 1
                                then 1.0 else -1.0 end) as plane
                from coords
            ), e as (
                select vec_id,
                       cast(embedding as double[]) as v,
                       list_transform(embedding, x -> floor(x::double * 10000000.0)) as qv
                from embeddings
            ), bucks as (
                select e.vec_id, pl.t,
                       cast(sum(case when list_dot_product(e.qv, pl.plane) > 0
                                     then (1::bigint << pl.p) else 0 end) as bigint) as bucket
                from e cross join planes pl
                group by e.vec_id, pl.t
            ), cand as (
                select distinct q.vec_id as query_id, c.vec_id as neighbor_id
                from bucks q join bucks c on q.t = c.t and q.bucket = c.bucket
                where q.vec_id < 10 and c.vec_id <> q.vec_id
            ), scored as (
                select cand.query_id, cand.neighbor_id,
                       list_cosine_similarity(eq.v, ec.v) as cos
                from cand
                join e eq on eq.vec_id = cand.query_id
                join e ec on ec.vec_id = cand.neighbor_id
            ), ranked as (
                select query_id, neighbor_id, cos,
                       row_number() over (
                           partition by query_id order by cos desc, neighbor_id asc
                       ) as "rank"
                from scored
            )
            select query_id, neighbor_id, floor(cos * 10000) / 10000 as cos, "rank"
            from ranked where "rank" <= 10
        """,
        # IVF ANN: hash-ranked deterministic centroids, exact-integer
        # quantized assignment (floor(x*1e6); d2 via |a|^2+|b|^2-2ab, every
        # term an exact integer < 2^53), multi-probe, cosine re-rank
        "ann_ivf_topk": ivf_topk_oracle_sql(
            "embeddings", k=10, n_centroids=None, n_probe=6, query_pred="vec_id < 10"
        ),
        # SemDeDup shape: same quantizer as IVF, within-cluster cosine
        # pruning, deterministic smaller-id survivor rule
        "semantic_dedup": semantic_dedup_oracle_sql(
            "embeddings", n_centroids=None, threshold=0.4
        ),
        "lww_latest_state_salted": """
            with ranked as (
                select *, row_number() over (
                    partition by user_id order by event_id desc
                ) as rn from events
            )
            select user_id, event_id, event_type, value, props
            from ranked where rn = 1
        """,
        "tumbling_window_counts": """
            select strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') as window_start,
                   event_type,
                   count(*) as n_events,
                   cast(sum(cast(value as decimal(28,2))) as double) as sum_value
            from events group by 1, 2
        """,
        # hopping windows: 1h / 15min slide -> each event in exactly 4
        # windows; grid on integer epoch (make_timestamp avoids tz joins)
        "hopping_window_counts": """
            with ex as (
                select event_type, value,
                       make_timestamp(
                           ((floor(epoch(ts))::bigint // 900) * 900 - j.j * 900) * 1000000
                       ) as window_start
                from events
                cross join (select unnest(generate_series(0, 3)) as j) j
            )
            select strftime(window_start, '%Y-%m-%d %H:%M:%S') as window_start,
                   event_type,
                   count(*) as n_events,
                   cast(sum(cast(value as decimal(28,2))) as double) as sum_value
            from ex group by 1, 2
        """,
        "session_windows": """
            with flagged as (
                select user_id, ts, event_id,
                       case when lag(ts) over w is null
                                 or epoch(ts) - epoch(lag(ts) over w) > 1800
                            then 1 else 0 end as new_session
                from events where user_id < 30
                window w as (partition by user_id order by ts, event_id)
            ), sessions as (
                select user_id, ts,
                       cast(sum(new_session) over (
                           partition by user_id order by ts, event_id
                           rows between unbounded preceding and current row
                       ) as bigint) as session_id
                from flagged
            )
            select user_id, session_id,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') as session_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') as session_end,
                   count(*) as n_events
            from sessions group by 1, 2
        """,
        "rollup_revenue": """
            select l_returnflag, l_linestatus,
                   count(*) as n_items,
                   cast(sum(cast(l_extendedprice as decimal(28,2))) as double) as sum_price
            from lineitem
            group by rollup (l_returnflag, l_linestatus)
        """,
        "set_ops_active_users": """
            select user_id from (
                select user_id from events where event_type = 'click' and event_id < 1000
                union
                select user_id from events where event_type = 'purchase' and event_id < 1000
            )
            except all
            select distinct user_id from events
            where event_type = 'error' and event_id < 1000
        """,
        # multimodal oracles: the Spark side DECODES real container bytes
        # (PPM/WAV/FAKV); the oracle recomputes every decoded feature from
        # the deterministic asset-generation formulas — decode correctness
        # is verified end-to-end, not assumed
        "multimodal_image_features": """
            with a as (select unnest(generate_series(0, 499)) as asset_id),
            dims as (
                select asset_id,
                       8 + (asset_id * 7) % 24 as w,
                       8 + (asset_id * 11) % 24 as h
                from a
            ), px as (
                select d.asset_id,
                       sum((d.asset_id * 31 + k.k * 17) % 256) as pixel_sum
                from dims d, unnest(generate_series(0, d.w * d.h * 3 - 1)) as k(k)
                group by d.asset_id
            )
            select d.asset_id, 'image' as kind,
                   cast(9 + len(w::varchar) + len(h::varchar) + w * h * 3 as bigint) as n_bytes,
                   cast(w as bigint) as width,
                   cast(h as bigint) as height,
                   cast(3 as bigint) as channels,
                   cast(px.pixel_sum as bigint) as pixel_sum
            from dims d join px on px.asset_id = d.asset_id
        """,
        "multimodal_frame_sampling": """
            with a as (select unnest(generate_series(0, 199)) as asset_id),
            f as (
                select asset_id,
                       unnest(generate_series(
                           0, greatest(least((64 + asset_id % 64) // 16, 4), 1) - 1
                       )) as frame_idx
                from a
            )
            select asset_id, 'video' as kind,
                   cast(frame_idx as bigint) as frame_idx,
                   cast(frame_idx * 16 as bigint) as frame_offset,
                   cast((asset_id * 31 + frame_idx * 16 * 17) % 256 as bigint) as frame_byte
            from f
        """,
        # REAL baseline-PNG decode (zlib inflate + all five scanline
        # filters): the engine parses actual PNG bytes; the oracle
        # recomputes dims + pixel sum from the generation formula — the
        # whole decode path (chunk walk, inflate, unfilter) is verified
        "multimodal_png_features": """
            with a as (select unnest(generate_series(0, 299)) as asset_id),
            dims as (
                select asset_id,
                       8 + (asset_id * 7) % 24 as w,
                       8 + (asset_id * 11) % 24 as h
                from a
            ), px as (
                select d.asset_id,
                       sum((d.asset_id * 31 + k.k * 17) % 256) as pixel_sum
                from dims d, unnest(generate_series(0, d.w * d.h * 3 - 1)) as k(k)
                group by d.asset_id
            )
            select d.asset_id, 'png' as kind,
                   cast(w as bigint) as width,
                   cast(h as bigint) as height,
                   cast(3 as bigint) as channels,
                   cast(px.pixel_sum as bigint) as pixel_sum
            from dims d join px on px.asset_id = d.asset_id
        """,
        "multimodal_audio_features": """
            with a as (select unnest(generate_series(0, 299)) as asset_id),
            p as (
                select asset_id,
                       8000 * (1 + asset_id % 6) as rate,
                       256 + (asset_id * 13) % 256 as n
                from a
            ), s as (
                select p.asset_id,
                       sum(((p.asset_id * 13 + i.i * 7) % 4096 - 2048)
                           * ((p.asset_id * 13 + i.i * 7) % 4096 - 2048)) as sq
                from p, unnest(generate_series(0, p.n - 1)) as i(i)
                group by p.asset_id
            )
            select p.asset_id, 'audio' as kind,
                   cast(44 + 2 * p.n as bigint) as n_bytes,
                   cast(rate as bigint) as sample_rate,
                   cast(p.n as bigint) as n_samples,
                   cast(s.sq as bigint) as sq_sum,
                   floor(sqrt(s.sq / p.n) * 1000000) / 1000000 as rms
            from p join s using (asset_id)
        """,
        "value_percentiles": """
            select event_type,
                   round(quantile_cont(value, 0.5), 6) as p50,
                   round(quantile_cont(value, 0.9), 6) as p90,
                   round(quantile_cont(value, 0.99), 6) as p99
            from events group by event_type
        """,
        "distinct_users_exact": """
            select event_type, count(distinct user_id) as n_users
            from events group by event_type
        """,
        "hist_value_percentiles": hist_percentiles_oracle_sql(
            "events", "event_type", "value", n_buckets=256
        ),
        "approx_distinct_users": hll_oracle_sql(
            "events", "event_type", "user_id", p=10, out_col="n_users_approx"
        ),
        # count-min heavy hitters: identical d x w counters + min-over-lanes
        # estimate in both engines (order-free integer arithmetic over the
        # portable hash); top 20 with a full deterministic tie-break
        "heavy_hitters_countmin": f"""
            select key as user_id, cms_count
            from ({countmin_oracle_sql("events", "user_id", d=4, w=256)})
            order by cms_count desc, user_id asc limit 20
        """,
        # Bloom runtime-filter shape: same k-lane bit positions, same
        # pass/exact/false-positive row counts
        "bloom_filter_join": bloom_oracle_sql(
            "customer", "c_custkey", "orders", "o_custkey",
            k=3, m=1024, build_where="c_acctbal > 9000",
        ),
        "pricing_summary": """
            select l_returnflag, l_linestatus,
                   cast(sum(cast(l_quantity as decimal(28,6))) as double) as sum_qty,
                   cast(sum(cast(l_extendedprice as decimal(28,6))) as double) as sum_base_price,
                   cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(28,6))) as double) as sum_disc_price,
                   count(*) as count_order
            from lineitem
            where l_shipdate <= timestamp '1998-09-01'
            group by l_returnflag, l_linestatus
        """,
        "top_revenue_orders": """
            select o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') as o_orderdate, o_orderpriority,
                   cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(28,6))) as double) as revenue
            from lineitem
            join orders on l_orderkey = o_orderkey
            join customer on o_custkey = c_custkey
            where c_mktsegment = 'BUILDING'
            group by 1, 2, 3
            order by revenue desc, o_orderkey asc
            limit 10
        """,
        "local_supply_revenue": """
            select n_name as nation,
                   cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(28,6))) as double) as revenue,
                   count(*) as n_items
            from lineitem
            join orders   on l_orderkey = o_orderkey
            join customer on o_custkey = c_custkey
            join supplier on l_suppkey = s_suppkey
            join nation   on s_nationkey = n_nationkey
            where c_nationkey = s_nationkey
            group by 1
        """,
        "customers_without_orders": """
            select c_custkey, c_name, c_mktsegment
            from customer
            where not exists (
                select 1 from orders where o_custkey = c_custkey
            )
        """,
        "order_priority_counts": """
            select o_orderpriority, count(*) as n_orders
            from orders
            where o_orderdate >= timestamp '1996-01-01'
              and o_orderdate <  timestamp '1997-01-01'
              and exists (
                  select 1 from lineitem
                  where l_orderkey = o_orderkey and l_discount > 0.05
              )
            group by o_orderpriority
        """,
        "customer_distribution": """
            with per_cust as (
                select c_custkey, count(o_orderkey) as c_count
                from customer
                left outer join orders
                  on c_custkey = o_custkey and o_orderpriority <> '1-URGENT'
                group by c_custkey
            )
            select c_count, count(*) as n_customers
            from per_cust group by c_count
        """,
        "promo_revenue": """
            select
                cast(sum(case when p_type = 'PROMO'
                              then cast(l_extendedprice * (1 - l_discount) as decimal(28,6))
                              else cast(0 as decimal(28,6)) end) as double) as promo_revenue,
                cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(28,6))) as double) as total_revenue,
                count(*) as n_items
            from lineitem join part on l_partkey = p_partkey
            where l_shipdate >= timestamp '1996-01-01'
              and l_shipdate <  timestamp '1996-07-01'
        """,
        "join_enrich_broadcast": """
            select r_name as region, n_name as nation,
                   count(*) as n_customers,
                   cast(sum(cast(c_acctbal as decimal(28,2))) as double) as total_acctbal
            from customer
            join nation on c_nationkey = n_nationkey
            join region on n_regionkey = r_regionkey
            group by 1, 2
        """,
    }
    # join-strategy variants share one truth: broadcast vs shuffle must
    # never change the answer, so both pin to the SAME oracle SQL
    d["decontaminate_ngram_shuffle"] = d["decontaminate_ngram_overlap"]
    # per-source quality flooring: oracle = the simple per-source global
    # rank; the Spark plan reaches the same set via the histogram-cutoff
    # decomposition (no giant per-source window partitions at scale)
    d["quality_percentile_filter"] = f"""
        with tok as (
            select doc_id, source, unnest({_WS_TOKENS}) as tk from documents
        ), agg as (
            select doc_id, source,
                   count(*) as n_tok,
                   count(distinct tk) as n_distinct,
                   cast(sum(len(tk)) as bigint) as sum_len,
                   cast(sum(case when tk in ('the','a','of','and','to','in','is','it')
                                 then 1 else 0 end) as bigint) as n_stop
            from tok group by doc_id, source
        ), qsc as (
            select doc_id, source,
                   floor(((((n_distinct / cast(n_tok as double)) * 5e-1
                           - (n_stop / cast(n_tok as double)) * 8e-1)
                          + (sum_len / cast(n_tok as double)) * 1e-1)
                         + n_tok * 2e-3) * 10000) / 10000 as quality_score
            from agg
        ), r as (
            select *,
                   row_number() over (
                       partition by source
                       order by quality_score desc, doc_id
                   ) as rn,
                   count(*) over (partition by source) as n
            from qsc
        )
        select doc_id, source, quality_score
        from r where rn <= (n * 3) // 4
    """
    # sqrt-temperature source mixing: keep fraction anchored at the max
    # source (no order-dependent float sum); selection pinned by hash60
    d["sample_temperature"] = """
        with counts as (
            select source, count(*) as n_src from documents group by source
        ), mx as (
            select max(n_src) as n_max from counts
        ), thr as (
            select source, n_src,
                   cast(floor(least(1.0, 0.5 * sqrt(cast(n_max as double)
                                                    / cast(n_src as double)))
                              * 1152921504606846975.0) as bigint) as thr
            from counts, mx
        ), kept as (
            select d.doc_id, d.source, t.n_src
            from documents d join thr t on d.source = t.source
            where cast(concat('0x', substr(md5(cast(d.doc_id as varchar)), 1, 15))
                       as bigint) <= t.thr
        )
        select source, max(n_src) as n_src,
               cast(count(*) as bigint) as n_kept,
               bit_xor(doc_id) as xor_kept_ids
        from kept group by source
    """
    # the capstone composition: quality-aware dedup survivors x quality
    # gate x 13-gram decontamination -> per-source kept set, exact-pinned
    d["corpus_final_filter"] = f"""
        with recursive pairs as (
            select id_a, id_b from ({portable_minhash_oracle_sql(
                "documents", "doc_id", "text", n=3, k=32, bands=16, threshold=0.5
            )}) q
        ), edges as (
            select id_a as a, id_b as b from pairs
            union
            select id_b, id_a from pairs
        ), reach(src, dst) as (
            select a, b from edges
            union
            select r.src, e.b from reach r join edges e on r.dst = e.a
        ), comp as (
            select src as node, least(src, min(dst)) as comp
            from reach group by src
        ), tok as (
            select doc_id, source, unnest({_WS_TOKENS}) as tk from documents
        ), agg as (
            select doc_id, source,
                   count(*) as n_tok,
                   count(distinct tk) as n_distinct,
                   cast(sum(len(tk)) as bigint) as sum_len,
                   cast(sum(case when tk in ('the','a','of','and','to','in','is','it')
                                 then 1 else 0 end) as bigint) as n_stop
            from tok group by doc_id, source
        ), qsc as (
            select doc_id, source,
                   floor(((((n_distinct / cast(n_tok as double)) * 5e-1
                           - (n_stop / cast(n_tok as double)) * 8e-1)
                          + (sum_len / cast(n_tok as double)) * 1e-1)
                         + n_tok * 2e-3) * 10000) / 10000 as quality_score,
                   ((((n_distinct / cast(n_tok as double)) * 5e-1
                      - (n_stop / cast(n_tok as double)) * 8e-1)
                     + (sum_len / cast(n_tok as double)) * 1e-1)
                    + n_tok * 2e-3) > 0.75 as keep
            from agg
        ), ranked as (
            select c.node,
                   row_number() over (
                       partition by c.comp
                       order by q.quality_score desc, c.node desc
                   ) as rn
            from comp c join qsc q on q.doc_id = c.node
        ), losers as (
            select node as doc_id from ranked where rn > 1
        ), tokarr as (
            select doc_id, {_WS_TOKENS} as toks from documents
        ), gr as (
            select doc_id, array_to_string(toks[i:i+12], ' ') as gram
            from tokarr, unnest(generate_series(1, greatest(len(toks) - 12, 0))) as t(i)
        ), tg as (
            select distinct doc_id, gram from gr where doc_id % 20 <> 0
        ), eg as (
            select distinct gram from gr where doc_id % 20 = 0
        ), cont as (
            select tg.doc_id,
                   max(case when eg.gram is not null then 1 else 0 end) as c
            from tg left join eg on tg.gram = eg.gram
            group by tg.doc_id
        ), verdict as (
            select d.doc_id, d.source,
                   (coalesce(cont.c, 0) = 0
                    and qsc.keep
                    and d.doc_id not in (select doc_id from losers)) as kept
            from documents d
            join qsc on qsc.doc_id = d.doc_id
            left join cont on cont.doc_id = d.doc_id
            where d.doc_id % 20 <> 0
        )
        select source,
               cast(count(*) as bigint) as n_train,
               cast(sum(case when kept then 1 else 0 end) as bigint) as n_kept,
               bit_xor(case when kept then doc_id else 0 end) as xor_kept_ids
        from verdict group by source
    """
    # GPT-style concat-and-chunk packing, per (source, shard) — integer
    # prefix sums; div/% on non-negative ints agree across engines
    d["pack_sequences"] = f"""
        with base as (
            select doc_id, source, doc_id // 500 as shard,
                   cast(len({_WS_TOKENS}) as bigint) as n_tok
            from documents
        ), cum as (
            select *,
                   cast(sum(n_tok) over (
                       partition by source, shard order by doc_id
                       rows between unbounded preceding and current row
                   ) - n_tok as bigint) as s
            from base
        )
        select doc_id, source, shard, n_tok,
               s // 2048 as seq_id,
               s % 2048 as offset_in_seq
        from cum
    """
    # streaming late-data accounting: exclusive running-max watermark over
    # arrival (event_id) order; Spark computes it as a two-phase block scan,
    # the oracle as the direct global window — identical by the scan identity
    d["late_data_watermark"] = """
        with w as (
            select event_type, ts,
                   max(ts) over (
                       order by event_id
                       rows between unbounded preceding and 1 preceding
                   ) as wm_prev
            from events
        )
        select event_type,
               count(*) as n_events,
               cast(count(*) filter (
                   where ts < wm_prev - interval '30 minutes'
               ) as bigint) as n_late,
               round(
                   cast(count(*) filter (
                       where ts < wm_prev - interval '30 minutes'
                   ) as double) / count(*), 6
               ) as late_frac
        from w group by event_type
    """
    # ordered funnel: timestamps only compare, never surface
    d["events_funnel"] = """
        with s0 as (
            select user_id, min(ts) as t_signup from events
            where event_type = 'signup' group by user_id
        ), c1 as (
            select e.user_id, min(e.ts) as t_click
            from events e join s0 on e.user_id = s0.user_id
            where e.event_type = 'click' and e.ts > s0.t_signup
            group by e.user_id
        ), p2 as (
            select e.user_id, min(e.ts) as t_purchase
            from events e join c1 on e.user_id = c1.user_id
            where e.event_type = 'purchase' and e.ts > c1.t_click
            group by e.user_id
        ), stages as (
            select '1_signup' as stage, user_id from s0
            union all
            select '2_click_after_signup', user_id from c1
            union all
            select '3_purchase_after_click', user_id from p2
        )
        select stage, cast(count(*) as bigint) as n_users
        from stages group by stage
    """
    # cohort retention on calendar DATEs (no tz/fraction semantics)
    d["retention_cohorts"] = """
        with s0 as (
            select user_id, min(cast(ts as date)) as d_signup from events
            where event_type = 'signup' group by user_id
        ), act as (
            select e.user_id,
                   date_diff('day', s0.d_signup, cast(e.ts as date)) as day_off,
                   date_diff('day', DATE '1970-01-01', s0.d_signup) as cohort_d
            from events e join s0 on e.user_id = s0.user_id
        )
        select cohort_d // 7 as cohort_week,
               day_off // 7 as week_offset,
               cast(count(distinct user_id) as bigint) as n_active_users
        from act where day_off >= 0
        group by 1, 2
    """
    return d
