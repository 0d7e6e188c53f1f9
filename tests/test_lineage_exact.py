"""Lineage exactness: the persisted per-bucket metrics rows, the
``stream/p{b}`` bookmarks and ``records_committed_by`` equal a pandas
recomputation from the raw batches.

They count RAW events (duplicate deliveries and deletes included), not LWW
winners, under every commit path: a JSON bulk load into an empty table,
JSON granular-COW batches, and shredded ``cow_incremental`` and ``mor``
delta batches; also when a fresh config and table are opened between
batches (a restart).
"""

import pytest
from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal
from tap_rest_api_msdk_spark.streaming.laketable import LakeTable
from tap_rest_api_msdk_spark.streaming.metrics import read_metrics
from tap_rest_api_msdk_spark.streaming.pipeline import PipelineConfig, process_batch

N_BUCKETS = 8
PER_BATCH = 400
N_BATCHES = 3
STREAM = "s"


@pytest.fixture(scope="module")
def wals(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lineage_wal"))
    out = {}
    for shredded in (False, True):
        p = f"{d}/shredded={shredded}"
        synth_repo_wal(
            spark, PER_BATCH * N_BATCHES, n_repos=5, n_paths=20, partitions=2,
            delete_mod=7, shredded=shredded,
        ).write.parquet(p)
        out[shredded] = spark.read.parquet(p)
    return out


def raw_batches(wal):
    """Disjoint seq ranges, each with some events delivered twice."""
    out = []
    for i in range(N_BATCHES):
        b = wal.filter((F.col("seq") >= i * PER_BATCH) & (F.col("seq") < (i + 1) * PER_BATCH))
        out.append(b.unionByName(b.filter(F.col("seq") % 5 == 0)))
    return out


def expected_rows(batch, json_payload: bool) -> dict:
    cols = [
        "seq", "ts",
        F.pmod(F.xxhash64("repo", "path"), F.lit(N_BUCKETS)).cast("int").alias("b"),
    ]
    if json_payload:
        cols.append("payload")
    pdf = batch.select(*cols).toPandas()
    assert (pdf.groupby("b").size() > 1).all()  # in-batch duplicates
    g = pdf.groupby("b")
    out = {}
    for b, grp in g:
        row = {
            "event_count": len(grp),
            "offset_start": grp.seq.min(),
            "offset_end": grp.seq.max(),
            "max_replication_key": grp.seq.max(),
            "watermark": grp.ts.max(),
        }
        if json_payload:
            row["payload_bytes"] = int(grp.payload.str.len().sum())
        out[int(b)] = row
    return out


@pytest.mark.parametrize("reopen", [False, True], ids=["one_session", "reopen"])
@pytest.mark.parametrize(
    "shredded,sink_mode",
    [(False, "cow"), (True, "cow_incremental"), (True, "mor")],
    ids=["json_bulk_then_cow", "shredded_cow_incremental", "shredded_mor"],
)
def test_lineage_counts_raw_events(spark, wals, tmp_path, shredded, sink_mode, reopen):
    wal = wals[shredded]
    batches = raw_batches(wal)
    assert wal.filter(F.col("op") == "delete").count() > 0
    path = str(tmp_path / "t")

    def opened():
        return (
            LakeTable(spark, path, num_buckets=N_BUCKETS),
            PipelineConfig(stream=STREAM, num_buckets=N_BUCKETS, sink_mode=sink_mode),
        )

    table, conf = opened()
    want_marks: dict = {}
    events = 0
    for i, b in enumerate(batches):
        if reopen:
            table, conf = opened()
        assert not process_batch(table, conf, b, i).get("skipped")
        want = expected_rows(b, json_payload=not shredded)
        got = {
            int(r["partition_id"]): r
            for r in read_metrics(spark, path)
            .filter((F.col("batch_id") == i) & (F.col("stream") == STREAM))
            .toPandas()
            .to_dict("records")
        }
        assert sorted(got) == sorted(want), i
        for p, row in want.items():
            assert {k: got[p][k] for k in row} == row, (i, p)
        if not shredded:
            assert "payload_bytes" in next(iter(got.values()))
        for p, row in want.items():
            want_marks[f"{STREAM}/p{p}"] = int(row["max_replication_key"])
        want_marks[STREAM] = max(int(r["max_replication_key"]) for r in want.values())
        events += sum(r["event_count"] for r in want.values())

    m = LakeTable(spark, path).current_manifest()
    assert {k: v for k, v in m["bookmarks"].items() if k.startswith(STREAM)} == want_marks
    assert m["records_committed_by"] == {STREAM: events}
    assert events == sum(b.count() for b in batches)
