"""F7 record extraction, F4 auto-inference in the pipeline, F10 search-query
templates, and the tap-config -> pipeline bridge (F6 end-to-end).
"""

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.bridge import build_pipelines, pipeline_config_for
from tap_rest_api_msdk_spark.plans.planner import PlannerError
from tap_rest_api_msdk_spark.sources.reader import (
    extract_records,
    infer_payload_struct,
    parse_records_path,
    render_search_query,
)


def test_parse_records_path_subset():
    assert parse_records_path("$[*]") == ([], True)
    assert parse_records_path("$.data[*]") == (["data"], True)
    assert parse_records_path("$.a.b[*]") == (["a", "b"], True)
    assert parse_records_path("$.item") == (["item"], False)


def test_extract_records_envelope(spark):
    """parse_response analog: records nested in an envelope -> one row per
    record (streams.py:576-586)."""
    env = {
        "next_page": "tok",
        "data": [
            {"key1": "this", "key2": "that", "key3": "foo", "field1": "I"},
            {"key1": "foo", "key2": "bar", "key3": "spam", "field2": 8},
        ],
    }
    df = spark.createDataFrame([(1, json.dumps(env))], "page_id long, payload string")
    schema = T.StructType(
        [
            T.StructField("next_page", T.StringType()),
            T.StructField(
                "data",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("key1", T.StringType()),
                            T.StructField("key2", T.StringType()),
                            T.StructField("key3", T.StringType()),
                            T.StructField("field1", T.StringType()),
                            T.StructField("field2", T.LongType()),
                        ]
                    )
                ),
            ),
        ]
    )
    out = extract_records(df, "payload", "$.data[*]", schema)
    rows = out.select("page_id", "record.key1", "record.field2").collect()
    assert len(rows) == 2
    assert rows[0].key1 == "this" and rows[1].field2 == 8


def test_infer_payload_struct_nested(spark):
    payloads = [json.dumps({"a": 1, "b": {"c": "x"}, "d": [1, 2]}) for _ in range(3)]
    df = spark.createDataFrame([(p,) for p in payloads], "payload string")
    schema = infer_payload_struct(df, "payload")
    assert isinstance(schema["b"].dataType, T.StructType)
    assert isinstance(schema["d"].dataType, T.ArrayType)


def test_pipeline_auto_inference(spark, tmp_path):
    """payload_schema=None -> discovered from the first batch (F4)."""
    from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal
    from tap_rest_api_msdk_spark.streaming.pipeline import (
        PipelineConfig,
        committed_payload_schema,
        run_batch_replay,
    )

    wal = synth_repo_wal(spark, 2000, n_repos=5, n_paths=20)
    conf = PipelineConfig(stream="auto", payload_col="payload", payload_schema=None)
    table = run_batch_replay(spark, wal, str(tmp_path / "t"), conf)
    assert "content" in table.to_df().columns
    # committed per stream with the data, for later batches and restarts
    assert "content" in committed_payload_schema(table.current_manifest(), "auto").names
    assert conf.payload_schema is None


def test_render_search_query():
    # params variant (streams.py:378-387)
    q = render_search_query("updated_at>$last_run_date", "2024-01-01T00:00:00")
    assert q == "updated_at>2024-01-01T00:00:00"
    # request-body variant parses JSON (streams.py:380-383)
    body = render_search_query(
        '{"query": {"range": {"ts": {"gt": "$last_run_date"}}}}',
        "2024-06-01T00:00:00",
        as_request_body=True,
    )
    assert body["query"]["range"]["ts"]["gt"] == "2024-06-01T00:00:00"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        render_search_query("not json $last_run_date", "x", as_request_body=True)


def test_bridge_builds_pipelines():
    config = {
        "api_url": "http://example.com",
        "pagination_request_style": "offset_paginator",
        "pagination_results_limit": 1000,
        "replication_key": "updated",
        "streams": [
            {"name": "s1", "primary_keys": ["id"], "except_keys": ["meta"]},
            {"name": "s2", "primary_keys": ["k"], "start_date": "2024-01-01T00:00:00"},
        ],
    }
    built = build_pipelines(config)
    assert [s.name for s, _, _ in built] == ["s1", "s2"]
    s1conf = built[0][1]
    assert s1conf.keys == ["id"] and s1conf.replication_key == "updated"
    assert s1conf.except_keys == ["meta"]
    assert s1conf.result_limit == 1000
    import datetime as dt

    assert isinstance(built[1][1].start_date, dt.datetime)
    # unknown request style raises at build time (streams.py:338-346)
    bad = dict(config, pagination_request_style="nope")
    with pytest.raises(PlannerError):
        build_pipelines(bad)


def test_bridge_inline_schema_maps_to_struct():
    config = {
        "streams": [
            {
                "name": "s",
                "schema": {
                    "properties": {"id": {"type": "integer"}, "v": {"type": "number"}}
                },
            }
        ]
    }
    conf = pipeline_config_for(build_pipelines(config)[0][0])
    assert conf.payload_schema is not None
    assert conf.payload_schema["id"].dataType == T.LongType()
    assert conf.payload_schema["v"].dataType == T.DoubleType()


def test_malformed_payload_policies(spark, tmp_path):
    """'keep' emits all-null flattened fields; 'drop' filters; 'dlq' lands
    the raw rows in a dead-letter dir."""
    import os

    from tap_rest_api_msdk_spark.streaming.pipeline import PipelineConfig, run_batch_replay

    rows = [
        (0, "k0", json.dumps({"v": 1})),
        (1, "k1", "{not json at all"),
        (2, "k2", json.dumps({"v": 3})),
    ]
    wal = spark.createDataFrame(rows, "seq long, k string, payload string")

    def run(policy, path):
        conf = PipelineConfig(
            stream="m", keys=["k"], replication_key="seq", order_by=["seq"],
            op_col=None, payload_col="payload", ts_col=None,
            malformed_policy=policy,
        )
        return run_batch_replay(spark, wal, str(tmp_path / path), conf)

    keep = run("keep", "keep")
    assert keep.to_df().count() == 3
    assert keep.to_df().filter("k = 'k1'").collect()[0].v is None

    drop = run("drop", "drop")
    assert {r.k for r in drop.to_df().collect()} == {"k0", "k2"}

    dlq = run("dlq", "dlq")
    assert {r.k for r in dlq.to_df().collect()} == {"k0", "k2"}
    dead = spark.read.parquet(str(tmp_path / "dlq" / "dlq"))
    assert dead.count() == 1 and dead.collect()[0].k == "k1"


def test_bridge_maps_num_inference_records():
    """F4 knob must reach the pipeline (was config-resolved but dropped)."""
    from tap_rest_api_msdk_spark.bridge import build_pipelines

    cfg = {"streams": [{"name": "s", "num_inference_records": 7}]}
    (_, conf, _), = build_pipelines(cfg)
    assert conf.inference_records == 7
