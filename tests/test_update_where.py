"""update_where: predicate updates (GDPR redact-in-place) routed through
the exactly-once merge path — LWW-winning updated versions that survive
replay, flow through cdc_diff as updates, and cannot be undone by a
later replay of an older version.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.session import arrow_frame
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

SCHEMA = "seq long, repo string, path string, commit string, op string, content string"
KEYS = ["repo", "path"]
ORDER = ["seq", "commit"]


def mk(spark, rows):
    return arrow_frame(spark, rows, T.StructType.fromDDL(SCHEMA))


@pytest.fixture()
def table(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "lake"), num_buckets=4)
    t.merge_upsert(
        mk(
            spark,
            [
                (1, "r1", "a", "c1", "upsert", "clean"),
                (2, "r1", "b", "c2", "upsert", "secret-token-123"),
                (3, "r2", "a", "c3", "upsert", "secret-token-456"),
                (4, "r2", "b", "c4", "upsert", "fine"),
            ],
        ),
        KEYS,
        ORDER,
        batch_id=0,
        op_col="op",
    )
    return t


def state(t):
    return {
        (r["repo"], r["path"]): (r["seq"], r["content"])
        for r in t.to_df().collect()
    }


def test_redaction_updates_matches_only(spark, table):
    stats = table.update_where(
        F.col("content").startswith("secret"),
        {"content": F.lit("[REDACTED]")},
        batch_id=1,
    )
    assert stats["n_updated"] == 2 and not stats.get("skipped")
    got = state(table)
    assert got[("r1", "b")] == (3, "[REDACTED]")  # seq bumped past victim
    assert got[("r2", "a")] == (4, "[REDACTED]")
    assert got[("r1", "a")] == (1, "clean")  # untouched
    assert got[("r2", "b")] == (4, "fine")
    # all four keys still LIVE (updates are not deletes)
    assert len(got) == 4


def test_expression_references_old_values(spark, table):
    table.update_where(
        "content like 'secret%'",
        {"content": "concat('masked:', substr(content, 1, 6))"},
        batch_id=1,
    )
    got = state(table)
    assert got[("r1", "b")][1] == "masked:secret"
    assert got[("r2", "a")][1] == "masked:secret"


def test_replayed_batch_is_noop_and_old_version_cannot_resurrect(spark, table):
    table.update_where(
        F.col("content").startswith("secret"), {"content": F.lit("X")}, batch_id=1
    )
    after = state(table)
    # replay of the same maintenance batch: ledger suppresses it
    replay = table.update_where(
        F.col("content").startswith("secret"), {"content": F.lit("Y")}, batch_id=1
    )
    assert replay.get("skipped")
    assert state(table) == after
    # a late replay of the ORIGINAL lower-seq version loses LWW
    table.merge_upsert(
        mk(spark, [(2, "r1", "b", "c2", "upsert", "secret-token-123")]),
        KEYS, ORDER, batch_id=0, op_col="op", writer_id="replayer",
    )
    assert state(table)[("r1", "b")] == (3, "X")


def test_cdc_sees_ordinary_updates(spark, table):
    v = table.current_manifest()["version"]
    table.update_where(
        F.col("content").startswith("secret"), {"content": F.lit("Z")}, batch_id=1
    )
    diff = table.cdc_diff(v)
    rows = {(r["repo"], r["path"]): r["change"] for r in diff.collect()}
    assert rows == {("r1", "b"): "update", ("r2", "a"): "update"}


def test_no_match_skips_without_burning_ledger(spark, table):
    out = table.update_where("content = 'nope'", {"content": F.lit("x")}, batch_id=1)
    assert out.get("skipped") and out["n_updated"] == 0
    # the slot is still usable for a real update
    out2 = table.update_where(
        "content like 'secret%'", {"content": F.lit("w")}, batch_id=1
    )
    assert out2["n_updated"] == 2


def test_protocol_columns_not_assignable(spark, table):
    for col in ("repo", "seq", "commit", "op"):
        with pytest.raises(ValueError, match="merge-protocol"):
            table.update_where("true", {col: F.lit("x")}, batch_id=1)
    with pytest.raises(ValueError, match="no such column"):
        table.update_where("true", {"ghost": F.lit("x")}, batch_id=1)


def test_simultaneous_assignment_swap(spark, tmp_path):
    """SQL UPDATE SET semantics: every expression sees the victim's OLD
    values — {'a': 'b', 'b': 'a'} swaps instead of chaining through the
    first assignment."""
    t = LakeTable(spark, str(tmp_path / "swap"), num_buckets=2)
    t.merge_upsert(
        arrow_frame(
            spark, [(1, 10, "up", "left", "right")],
            T.StructType.fromDDL("seq long, id long, op string, a string, b string"),
        ),
        ["id"], ["seq"], batch_id=0, op_col="op",
    )
    t.update_where("id = 10", {"a": "b", "b": "a"}, batch_id=1)
    row = t.to_df().collect()[0]
    assert (row["a"], row["b"]) == ("right", "left"), (row["a"], row["b"])


def test_replay_with_matching_predicate_reports_zero(spark, table):
    """A replayed batch id is suppressed by the ledger BEFORE the victim
    scan even when the predicate still matches — and must report
    n_updated=0, not the would-be victim count."""
    out1 = table.update_where(
        "content like 'secret%' or content like 'X%'",
        {"content": F.lit("X")}, batch_id=1,
    )
    assert out1["n_updated"] == 2
    after = state(table)
    replay = table.update_where(
        "content like 'secret%' or content like 'X%'",  # still matches
        {"content": F.lit("Y")}, batch_id=1,
    )
    assert replay.get("skipped") and replay["n_updated"] == 0
    assert state(table) == after
    # same contract for delete_where
    d1 = table.delete_where("content = 'X'", batch_id=2)
    assert d1["n_deleted"] == 2
    d2 = table.delete_where("true", batch_id=2)
    assert d2.get("skipped") and d2["n_deleted"] == 0


def test_point_ops_handle_bucket_shared_files(spark, tmp_path):
    """A physical file SHARED by two buckets (partition-index collision)
    must contribute an ownership pair PER bucket — deleting one key from
    each sharing bucket must hit both, not silently skip the second."""
    t = LakeTable(spark, str(tmp_path / "shared"), num_buckets=8,
                  files_per_bucket=1)
    rows = [(i, f"r{i}", f"p{i}", f"c{i}", "upsert", f"v{i}") for i in range(200)]
    t.merge_upsert(
        arrow_frame(spark, rows, T.StructType.fromDDL(SCHEMA)), KEYS, ORDER,
        batch_id=0, op_col="op",
    )
    m = t.current_manifest()
    owners = {
        bn: bs for bn, bs in m.get("file_owners", {}).items() if len(bs) >= 2
    }
    assert owners, "fixture must produce at least one shared file"
    bn, (b1, b2, *_rest) = next(iter(owners.items()))
    # one live key from each sharing bucket
    keyed = t.read_state().select(
        "repo", "path", "__bucket"
    ).collect()
    k1 = next({"repo": r["repo"], "path": r["path"]} for r in keyed
              if r["__bucket"] == int(b1))
    k2 = next({"repo": r["repo"], "path": r["path"]} for r in keyed
              if r["__bucket"] == int(b2))
    out = t.update_keys([k1, k2], {"content": F.lit("HIT")}, batch_id=1)
    assert out["n_updated"] == 2, (out, t.last_delete_stats)
    hit = t.to_df().filter("content = 'HIT'").count()
    assert hit == 2
    out = t.delete_keys([k1, k2], batch_id=2)
    assert out["n_deleted"] == 2, (out, t.last_delete_stats)


def test_update_keys_prunes_and_updates(spark, tmp_path):
    """Point updates run the same bloom/slice funnel as delete_keys:
    candidate files << touched buckets' files, absent keys skip without
    burning the ledger, replay is a no-op, non-victims untouched."""
    t = LakeTable(spark, str(tmp_path / "pk"), num_buckets=8, key_index=True)
    rows = [(i, f"r{i % 50}", f"p{i}", f"c{i}", "upsert", f"v{i}") for i in range(400)]
    df = arrow_frame(spark, rows, T.StructType.fromDDL(SCHEMA))
    for b in range(4):
        t.merge_upsert(
            df.filter(F.col("seq") % 4 == b), KEYS, ORDER,
            batch_id=b, op_col="op", mode="mor",
        )
    stats = t.update_keys(
        [{"repo": "r7", "path": "p7"}, {"repo": "r7", "path": "p107"}],
        {"content": "concat(content, ':fixed')"},
        batch_id=10,
    )
    assert stats["n_updated"] == 2
    funnel = t.last_delete_stats
    assert funnel["candidate_files"] < funnel["bucket_files"], funnel
    assert funnel["sections_loaded"] == funnel["buckets_touched"] <= 2
    live = t.to_df(drop_deletes=True)
    got = {
        r["path"]: (r["seq"], r["content"])
        for r in live.filter("path in ('p7', 'p107')").collect()
    }
    assert got == {"p7": (8, "v7:fixed"), "p107": (108, "v107:fixed")}
    assert live.count() == 400  # updates keep every key live
    assert live.filter("content like '%:fixed'").count() == 2
    # absent keys skip without burning the ledger slot
    out = t.update_keys(
        [{"repo": "zz", "path": "zz"}], {"content": F.lit("x")}, batch_id=11
    )
    assert out["skipped"] and out["n_updated"] == 0
    # replay of the real update is a no-op
    v = t.current_manifest()["version"]
    assert t.update_keys(
        [{"repo": "r7", "path": "p7"}], {"content": F.lit("again")}, batch_id=10
    )["skipped"]
    assert t.current_manifest()["version"] == v


def test_update_keys_validation(spark, table):
    with pytest.raises(ValueError, match="exactly the merge keys"):
        table.update_keys([{"repo": "r1"}], {"content": F.lit("x")}, batch_id=5)
    with pytest.raises(ValueError, match="merge-protocol"):
        table.update_keys(
            [{"repo": "r1", "path": "a"}], {"seq": F.lit(9)}, batch_id=5
        )
    with pytest.raises(ValueError, match="no such column"):
        table.update_keys(
            [{"repo": "r1", "path": "a"}], {"ghost": F.lit("x")}, batch_id=5
        )


def test_mor_mode_and_assignment_type_cast(spark, table):
    """MOR-mode updates append deltas; assignments cast back to the
    column's existing type so redaction can't drift the schema."""
    table.update_where(
        "content like 'secret%'", {"content": F.lit(12345)}, batch_id=1, mode="mor"
    )
    m = table.current_manifest()
    assert m.get("deltas")  # appended as deltas, not a COW rewrite
    got = state(table)
    assert got[("r1", "b")][1] == "12345"  # cast to string, schema stable
    f = {f_["name"]: f_["type"] for f_ in m["schema"]["fields"]}
    assert f["content"] == "string"
