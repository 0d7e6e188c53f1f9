"""r7: the char-entropy Arrow kernel must be bit-identical to the
expression formulation it replaced (the query's oracle SQL is frozen, so
kernel == expression == oracle)."""

import tempfile

from tap_rest_api_msdk_spark.queries import (
    _text_char_entropy_expr,
    q_text_char_entropy,
)

EDGE_DOCS = [
    (1, "hello world"),
    (2, None),                     # null text: absent from output
    (3, ""),                       # empty: absent
    (4, "\n\n\r\n"),               # only line terminators: absent
    (5, "a"),                      # single char, entropy 0
    (6, "aaaa bbbb aaaa"),
    (7, "café ☃ ☃ snow man"),  # unicode + U+2028 term
    (8, "x" * 5000),
    (9, "line one\nline two\nline one\n"),
    (10, "tab\tand  spaces"),
    (11, "a\rb\u0085c\nd"),     # the java-regex line-terminator set
]


def _edge_dir(spark) -> str:
    d = tempfile.mkdtemp(prefix="entropy-edge-")
    spark.createDataFrame(EDGE_DOCS, "doc_id long, text string").coalesce(
        2
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def _assert_identical(spark, sf_dir):
    a = _text_char_entropy_expr(spark, sf_dir)
    b = q_text_char_entropy(spark, sf_dir)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_char_entropy_kernel_matches_expression_edge_cases(spark):
    _assert_identical(spark, _edge_dir(spark))


def test_char_entropy_kernel_matches_expression_sf(spark):
    _assert_identical(spark, "/root/testdata/sf0.01")


def test_char_entropy_kernel_plan_is_one_scan_no_agg_exchange(spark):
    plan = (
        q_text_char_entropy(spark, "/root/testdata/sf0.01")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the only allowed exchange is spread_input's round-robin scan widener
    # (a no-op at scale); the 40M-row explode + hash aggregate are gone
    assert "hashpartitioning" not in plan
    assert "HashAggregate" not in plan and "Generate" not in plan
    assert "MapInPandas" in plan


# null / empty / whitespace-only documents: the exploded corpus queries
# must agree doc by doc with the row-local forms and with the oracle
TEXT_EDGE_DOCS = [
    (1, "the cat and the dog is in the house of it"),
    (2, None),
    (3, ""),
    (4, "   "),
    (5, " \t\n "),
    (6, "le chat et la maison de la ville"),
]


def _docs_dir(spark, docs) -> str:
    d = tempfile.mkdtemp(prefix="text-edge-")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )
    return d


def _oracle(sf_dir, name):
    import duckdb

    from __spark_entry__ import oracle_sql

    con = duckdb.connect()
    con.sql(
        "create view documents as select * from "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    return con.sql(oracle_sql()[name]).fetchall()


def test_langid_keeps_null_and_blank_docs(spark):
    from pyspark.sql import functions as F

    from tap_rest_api_msdk_spark.functions.text import lang_id
    from tap_rest_api_msdk_spark.queries import q_text_langid

    d = _docs_dir(spark, TEXT_EDGE_DOCS)
    got = {r["doc_id"]: r["lang_pred"] for r in q_text_langid(spark, d).collect()}
    row_local = {
        r["doc_id"]: r["l"]
        for r in spark.read.parquet(f"{d}/documents.parquet")
        .select("doc_id", lang_id(F.col("text")).alias("l"))
        .collect()
    }
    assert got == row_local
    assert set(got) == {doc_id for doc_id, _ in TEXT_EDGE_DOCS}
    assert got[1] == "en" and got[6] == "fr" and got[2] == "und"
    assert got == dict(_oracle(d, "text_langid"))


def test_gopher_counts_null_and_blank_docs(spark):
    from pyspark.sql import functions as F

    from tap_rest_api_msdk_spark.functions.text import gopher_quality_flags
    from tap_rest_api_msdk_spark.queries import q_text_gopher_quality

    for doc in TEXT_EDGE_DOCS:
        d = _docs_dir(spark, [doc])
        got = q_text_gopher_quality(spark, d).collect()[0]
        flags = (
            spark.read.parquet(f"{d}/documents.parquet")
            .select(gopher_quality_flags(F.col("text")).alias("f"))
            .collect()[0]["f"]
        )
        assert got["n_docs"] == 1, doc
        for fail in (c for c in got.asDict() if c.startswith("fail_")):
            assert got[fail] == (0 if flags["ok_" + fail[5:]] else 1), (doc, fail)
        assert got["n_pass"] == (1 if flags["pass"] else 0), doc
        assert tuple(got) == _oracle(d, "text_gopher_quality")[0], doc
