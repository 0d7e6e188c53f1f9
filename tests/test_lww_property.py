"""Property-based LWW consistency: aggregate, window, and salted forms must
agree with a pure-Python argmax oracle on arbitrary event sets."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tap_rest_api_msdk_spark.operators.dedup import (
    lww_dedup,
    lww_dedup_salted,
    lww_dedup_window,
)

# non-null keys and order columns (the engine's documented precondition:
# order_by must be a non-null total order per key)
events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),   # seq
        st.sampled_from(["r1", "r2", "r3"]),          # repo
        st.sampled_from(["a", "b"]),                  # path
        st.text(alphabet="abcdef0123456789", min_size=1, max_size=6),  # commit
        st.one_of(st.none(), st.text(max_size=8)),    # content (nullable ok)
    ),
    min_size=1,
    max_size=60,
)


def py_oracle(rows):
    best = {}
    for seq, repo, path, commit, content in rows:
        k = (repo, path)
        cand = (seq, commit)
        if k not in best or cand > (best[k][0], best[k][3]):
            best[k] = (seq, repo, path, commit, content)
    return {
        (r, p): (s, c) for (r, p), (s, _, __, c, ___) in best.items()
    }


_spark = [None]


def get_session():
    if _spark[0] is None:
        from tap_rest_api_msdk_spark.session import get_spark

        _spark[0] = get_spark("prop-tests", cores=4, shuffle_partitions=4)
        _spark[0].sparkContext.setLogLevel("ERROR")
    return _spark[0]


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(events)
def test_lww_forms_agree_with_oracle(rows):
    spark = get_session()
    df = spark.createDataFrame(
        rows, "seq long, repo string, path string, commit string, content string"
    )
    want = py_oracle(rows)

    def got(result_df):
        return {(r.repo, r.path): (r.seq, r.commit) for r in result_df.collect()}

    assert got(lww_dedup(df, ["repo", "path"], ["seq", "commit"])) == want
    assert got(lww_dedup_window(df, ["repo", "path"], ["seq", "commit"])) == want
    assert got(lww_dedup_salted(df, ["repo", "path"], ["seq", "commit"], 4)) == want


# nested, nullable value columns and SMALL order domains, so exact
# (seq, commit) ties are common; ``dups`` re-delivers events verbatim
nested_events = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),                     # k
        st.integers(min_value=0, max_value=3),                     # seq
        st.sampled_from(["x", "y"]),                               # commit
        st.one_of(st.none(), st.tuples(
            st.one_of(st.none(), st.integers(-5, 5)),
            st.one_of(st.none(), st.lists(st.one_of(st.none(), st.text("ab", max_size=2)),
                                          max_size=3)),
        )),                                                        # s
        st.one_of(st.none(), st.lists(st.integers(0, 3), max_size=3)),  # arr
        st.one_of(st.none(), st.text("pq", max_size=3)),           # v
    ),
    min_size=1,
    max_size=40,
)


def lww_dedup_struct_max(df, keys, order_by):
    """The per-column ``max(struct(order_by..., values...))`` form the
    SQL-text ``lww_dedup`` replaced: its reference semantics."""
    from pyspark.sql import functions as F

    values = [c for c in df.columns if c not in order_by and c not in keys]
    agg = df.groupBy(*keys).agg(
        F.max(F.struct(*[F.col(c) for c in [*order_by, *values]])).alias("__w")
    )
    return agg.select(
        *keys, *[F.col(f"__w.{c}").alias(c) for c in df.columns if c not in keys]
    )


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(nested_events, st.lists(st.integers(min_value=0, max_value=39), max_size=8))
def test_lww_dedup_matches_struct_max_and_window_with_ties(rows, dups):
    spark = get_session()
    rows = rows + [rows[i] for i in dups if i < len(rows)]
    df = spark.createDataFrame(
        rows,
        "k int, seq long, commit string, s struct<a:int, b:array<string>>, "
        "arr array<int>, v string",
    )
    keys, order = ["k"], ["seq", "commit"]

    def got(result_df, only=None):
        return sorted(str(r) for r in result_df.collect() if only is None or r.k in only)

    new = lww_dedup(df, keys, order)
    assert new.columns == df.columns
    assert got(new) == got(lww_dedup_struct_max(df, keys, order))
    # the window form picks an arbitrary row among exact (seq, commit)
    # ties; it is determined wherever the tied rows are verbatim copies
    top: dict = {}
    for r in rows:
        top.setdefault(r[0], {}).setdefault((r[1], r[2]), set()).add(repr(r))
    determined = {k: v for k, v in top.items() if len(v[max(v)]) == 1}
    assert got(new, determined) == got(lww_dedup_window(df, keys, order), determined)
