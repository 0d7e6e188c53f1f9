"""F1/F2 parity tests — golden fixture from
/root/reference/tests/test_utils.py:6-21, exercised across all three
execution paths (pure kernel, pandas UDF, native projection).
"""

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.functions.flatten import (
    flatten_dataframe,
    flatten_json_string,
    flatten_record,
    make_flatten_udf,
    unnest_dict,
)

GOLDEN = {
    "a": 1,
    "b": {"a": 2, "b": {"a": 3}, "c": {"a": "bacon", "b": "yum"}},
    "c": [{"foo": "bar"}, {"eggs": "spam"}],
    "d": [4, 5],
    "e.-f": 6,
}


def test_flatten_record_golden():
    ret = flatten_record(GOLDEN, except_keys=["b_c"])
    assert ret["a"] == 1
    assert ret["b_a"] == 2
    assert ret["b_b_a"] == 3
    assert ret["b_c"] == json.dumps({"a": "bacon", "b": "yum"})
    assert ret["c"] == json.dumps([{"foo": "bar"}, {"eggs": "spam"}])
    assert ret["d"] == json.dumps([4, 5])
    assert ret["e__f"] == 6
    assert set(ret) == {"a", "b_a", "b_b_a", "b_c", "c", "d", "e__f"}


def test_flatten_record_raw_json_passthrough():
    ret = flatten_record({"a": 1}, store_raw_json_message=True)
    assert ret["_sdc_raw_json"] == {"a": 1}


def test_flatten_except_key_matches_untranslated_path():
    # except matching happens BEFORE key translation (utils.py:57-59)
    obj = {"x.y": {"k": 1}}
    assert flatten_record(obj, except_keys=["x.y"]) == {"x_y": json.dumps({"k": 1})}
    # the translated form must NOT match
    assert flatten_record(obj, except_keys=["x_y"]) == {"x_y_k": 1}


def test_flatten_empty_nested_dict_drops_key():
    assert flatten_record({"a": {}, "b": 1}) == {"b": 1}


def test_unnest_dict_leaf_keys_last_wins():
    assert unnest_dict({"a": {"x": 1}, "b": {"x": 2, "y": 3}}) == {"x": 2, "y": 3}
    assert unnest_dict({"pagination": {"total": 10, "page": {"offset": 5}}}) == {
        "total": 10,
        "offset": 5,
    }


def test_flatten_json_string_non_dict_raises():
    import pytest

    with pytest.raises(ValueError):
        flatten_json_string("[1,2]")


def test_flatten_pandas_udf_matches_kernel(spark):
    payloads = [json.dumps(GOLDEN), json.dumps({"k": {"n": 7}, "arr": [1]}), None]
    df = spark.createDataFrame([(p,) for p in payloads], "payload string")
    udf = make_flatten_udf(except_keys=["b_c"])
    got = [r[0] for r in df.select(udf("payload").alias("f")).collect()]
    want = [
        None if p is None else json.dumps(flatten_record(json.loads(p), ["b_c"]))
        for p in payloads
    ]
    assert sorted(got, key=str) == sorted(want, key=str)


def test_flatten_projection_matches_kernel(spark):
    """Native projection path vs kernel — JSON-parsed equality (the native
    path uses compact to_json; the kernel uses python json.dumps)."""
    payload = json.dumps(GOLDEN)
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField(
                "b",
                T.StructType(
                    [
                        T.StructField("a", T.LongType()),
                        T.StructField("b", T.StructType([T.StructField("a", T.LongType())])),
                        T.StructField(
                            "c",
                            T.StructType(
                                [T.StructField("a", T.StringType()), T.StructField("b", T.StringType())]
                            ),
                        ),
                    ]
                ),
            ),
            T.StructField("c", T.ArrayType(T.MapType(T.StringType(), T.StringType()))),
            T.StructField("d", T.ArrayType(T.LongType())),
            T.StructField("e.-f", T.LongType()),
        ]
    )
    df = spark.createDataFrame([(1, payload)], "row_id long, payload string")
    flat = flatten_dataframe(df, "payload", schema, except_keys=["b_c"], keep_cols=["row_id"])
    row = flat.collect()[0].asDict()
    kernel = flatten_record(GOLDEN, except_keys=["b_c"])
    assert set(row) == {"row_id"} | set(kernel)
    for k, v in kernel.items():
        got = row[k]
        if isinstance(v, str) and (v.startswith("[") or v.startswith("{")):
            assert json.loads(got) == json.loads(v), k
        else:
            assert got == v, k


def test_flatten_projection_stays_native(spark):
    """The known-schema path must not contain any Python evaluation node."""
    schema = T.StructType([T.StructField("a", T.LongType())])
    df = spark.createDataFrame([(json.dumps({"a": 1}),)], "payload string")
    plan = flatten_dataframe(df, "payload", schema)._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "ArrowEval" not in plan and "BatchEval" not in plan


def test_flatten_collision_last_wins_kernel():
    """Colliding flattened names keep the last writer (utils.py dict
    overwrite; verified against the reference implementation)."""
    assert flatten_record({"a": {"b": 1}, "a_b": 2}) == {"a_b": 2}
    assert flatten_record({"a_b": 2, "a": {"b": 1}}) == {"a_b": 1}
    assert flatten_record({"a-b": 1, "a.b": 2, "a_b": 3}) == {"a_b": 3}


def test_flatten_collision_last_wins_native(spark):
    schema = T.StructType(
        [
            T.StructField("a", T.StructType([T.StructField("b", T.LongType())])),
            T.StructField("a_b", T.LongType()),
        ]
    )
    df = spark.createDataFrame([(json.dumps({"a": {"b": 1}, "a_b": 2}),)], "payload string")
    out = flatten_dataframe(df, "payload", schema, keep_cols=[])
    assert out.columns == ["a_b"]
    assert out.collect()[0].a_b == 2  # last field in schema order wins
