"""Python rows reach Spark as Arrow frames: each new form is checked
against the form it replaced, which survives only here, as the reference.

* payload inference: ``infer_payload_struct`` == ``read.json`` over the
  ``parallelize``d sample;
* the ownership semi-join (``_owned_rows``) on a file shared by colliding
  buckets, after one of them was rewritten;
* point lookups and deletes on string, long and int keys, and the schemas
  of the empty reads.
"""

import json

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.session import arrow_frame
from tap_rest_api_msdk_spark.sources.reader import infer_payload_struct
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

SCHEMA = "seq long, repo string, path string, commit string, op string, content string"
KEYS = ["repo", "path"]
PAYLOAD = T.StructType([T.StructField("payload", T.StringType())])
ORDER = ["seq", "commit"]


def parallelized_infer(df, payload_col, inference_records):
    """The replaced sample inference: ``read.json(parallelize(sample))``."""
    spark = df.sparkSession
    rows = df.select(payload_col).limit(inference_records + 1).collect()
    sample = [r[0] for r in rows if r[0] is not None]
    if not sample:
        return T.StructType([])
    schema = spark.read.json(spark.sparkContext.parallelize(sample)).schema
    return T.StructType([f for f in schema.fields if f.name != "_corrupt_record"])


def listed_owned_rows(table, df, pairs):
    """The replaced ownership semi-join, its lookup built from a list."""
    lookup = table.spark.createDataFrame(sorted(set(pairs)), "__file string, __owned_bucket int")
    df = df.withColumn("__file", F.element_at(F.split(F.input_file_name(), "/"), -1))
    return df.join(
        F.broadcast(lookup),
        (df["__file"] == lookup["__file"]) & (df["__bucket"] == lookup["__owned_bucket"]),
        "leftsemi",
    ).drop("__file")


def jvm_schema(df):
    return T._parse_datatype_json_string(df._jdf.schema().json())


keys_ = st.sampled_from(["a", "b", "n", "ключ", "名前", "é", "a b"])
scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**70), max_value=2**70),  # past int64: big ints
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=6),
)
values = st.recursive(
    scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=3),  # [] and arrays of structs included
        st.dictionaries(keys_, inner, max_size=3),  # {} included
    ),
    max_leaves=8,
)
payloads = st.one_of(
    st.none(),
    st.dictionaries(keys_, values, max_size=4).map(json.dumps),
    st.sampled_from(["not json", '{"a": ', "", "[1, 2]", '{"a": 1}}']),  # malformed
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(payloads, min_size=1, max_size=20), st.integers(min_value=0, max_value=20))
def test_infer_payload_struct_matches_parallelized_read(spark, sample, n):
    # an Arrow-built input: createDataFrame(list) would run a pickled
    # Python-RDD job per example
    df = arrow_frame(spark, [(p,) for p in sample], PAYLOAD)
    assert infer_payload_struct(df, "payload", n) == parallelized_infer(df, "payload", n)


def test_infer_payload_struct_conflicts_and_nesting(spark):
    sample = [
        json.dumps({"n": 1, "big": 2**64, "arr": [{"x": 1}], "e": {}, "ключ": None}),
        json.dumps({"n": 1.5, "big": 1, "arr": [{"y": "s"}, {}], "e": [], "ключ": [1]}),
        "not json",
        None,
    ]
    df = spark.createDataFrame([(p,) for p in sample], "payload string")
    got = infer_payload_struct(df, "payload")
    assert got == parallelized_infer(df, "payload", 50)
    assert got["n"].dataType == T.DoubleType()
    assert got["arr"].dataType.elementType.fieldNames() == ["x", "y"]


def test_owned_rows_on_a_shared_file_rewritten_for_one_bucket(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "shared"), num_buckets=8, files_per_bucket=1)
    rows = [(i, f"r{i}", f"p{i}", f"c{i}", "upsert", f"v{i}") for i in range(200)]
    t.merge_upsert(spark.createDataFrame(rows, SCHEMA), KEYS, ORDER, batch_id=0, op_col="op")
    m = t.current_manifest()
    shared = {bn: bs for bn, bs in m.get("file_owners", {}).items() if len(bs) >= 2}
    assert shared, "fixture must produce a file shared by two buckets"
    bn, (b1, *_rest) = next(iter(shared.items()))
    # rewrite every key of ONE sharing bucket: the shared file keeps its
    # stale copies of them, and only the other buckets still own it
    hit = [r for r in t.read_state().collect() if r["__bucket"] == int(b1)]
    upd = [(1000 + r["seq"], r["repo"], r["path"], "z", "upsert", "new") for r in hit]
    t.merge_upsert(spark.createDataFrame(upd, SCHEMA), KEYS, ORDER, batch_id=1, op_col="op")
    files = t.current_manifest()["files"]
    owners = {str(b) for b, fs in files.items() if any(f.endswith(bn) for f in fs)}
    assert owners and str(b1) not in owners, (owners, b1)

    seen = []
    owned = LakeTable._owned_rows

    def recording(self, df, pairs):
        out = owned(self, df, pairs)
        seen.append((sorted(out.collect()), sorted(listed_owned_rows(self, df, pairs).collect())))
        return out

    LakeTable._owned_rows = recording
    try:
        state = {(r["repo"], r["path"]): r["content"] for r in t.to_df().collect()}
    finally:
        LakeTable._owned_rows = owned
    assert seen and all(new == old for new, old in seen)
    want = {(f"r{i}", f"p{i}"): f"v{i}" for i in range(200)}
    want.update({(r["repo"], r["path"]): "new" for r in hit})
    assert state == want


def _keyed_table(spark, path, key_sql):
    t = LakeTable(spark, path, num_buckets=4, key_index=True)
    df = spark.range(0, 60).selectExpr(
        f"{key_sql} AS k", "id AS seq", "concat('c', id) AS commit", "'upsert' AS op",
        "concat('v', id) AS v",
    )
    t.merge_upsert(df, ["k"], ["seq", "commit"], batch_id=0, op_col="op")
    return t


def test_lookup_and_delete_keys_by_key_type(spark, tmp_path):
    for name, key_sql, key in (
        ("string", "concat('k', id)", lambda i: f"k{i}"),
        ("long", "id * 4294967296", lambda i: i * 4294967296),
        ("int", "cast(id AS int)", lambda i: i),
    ):
        t = _keyed_table(spark, str(tmp_path / name), key_sql)
        before = sorted(t.to_df().collect())
        got = t.lookup({"k": key(7)}).collect()
        assert [r["v"] for r in got] == ["v7"], name
        assert got == t.to_df().filter(F.col("k") == F.lit(key(7))).collect(), name
        assert t.lookup({"k": key(1000)}).count() == 0, name
        out = t.delete_keys([{"k": key(3)}, {"k": key(5)}, {"k": key(3)}], batch_id=1)
        assert out["n_deleted"] == 2, (name, out)
        after = sorted(t.to_df().collect())
        assert after == [r for r in before if r["k"] not in (key(3), key(5))], name


def test_empty_reads_keep_their_schemas(spark, tmp_path):
    t = _keyed_table(spark, str(tmp_path / "e"), "cast(id AS int)")
    head = t.current_manifest()["version"]
    stored = T.StructType(
        T.StructType.fromJson(t.current_manifest()["schema"]).fields
        + [T.StructField("__bucket", T.IntegerType(), True)]
    )
    since = t.read_since(10**9)
    changes = t.changes_since(head)
    diff = t.cdc_diff(head)
    for df in (since, changes, diff):
        assert df.count() == 0
        assert jvm_schema(df) == df.schema
    assert jvm_schema(changes) == stored
    t.delete_keys([{"k": 3}], batch_id=1)
    # same columns and types as a non-empty diff (nullability aside)
    assert t.cdc_diff(head).schema.simpleString() == diff.schema.simpleString()
    # arrow_frame itself: empty and typed frames carry the schema verbatim
    nested = T.StructType(
        [
            T.StructField("a", T.ArrayType(T.StructType([T.StructField("x", T.LongType())]))),
            T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
        ]
    )
    assert jvm_schema(arrow_frame(spark, [], nested)) == nested
    assert jvm_schema(arrow_frame(spark, [], stored)) == stored
