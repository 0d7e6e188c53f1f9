"""Round-4 ADVICE regression tests.

1. A CAS rebase must never REGRESS a writer's ledger entry: a zombie /
   failover duplicate of a stream replaying an old batch while the live
   writer advances concurrently becomes a no-op (skip), not a ledger
   overwrite — otherwise a later replay of the higher batch would pass the
   idempotence check and apply twice (and MOR would append duplicate
   delta files).
2. The MOR rebase carries the same key-type-drift guard as COW.
3. A partial fold claims slice residues ONLY for the granules it actually
   rewrote (``_files_and_meta(allowed=...)``) — over-claiming would drag
   fold output into every later fold of unrelated granules.
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tap_rest_api_msdk_spark.session import arrow_frame
from tap_rest_api_msdk_spark.streaming.laketable import (
    LakeTable,
    bucket_salt_to_partition,
)


def _rows(spark, ids, seq, text):
    return arrow_frame(
        spark, [(int(i), int(seq), f"{text}-{i}-{seq}") for i in ids],
        T.StructType.fromDDL("id long, seq long, text string"),
    )


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_zombie_replay_cannot_regress_ledger(spark, tmp_path, mode):
    """Writer 'w' is at batch 5; a zombie duplicate of 'w' replays batch 3
    and loses the CAS to a concurrent batch-6 commit by the live 'w'. The
    zombie's rebase must SKIP (ledger already >= 3), keep the ledger at 6,
    and write none of its rows."""
    path = str(tmp_path / f"tbl_zombie_{mode}")
    t = LakeTable(spark, path, num_buckets=4)
    t.merge_upsert(_rows(spark, [1, 2], 5, "live"), keys=["id"],
                   order_by=["seq"], batch_id=5, mode=mode, writer_id="w")

    # the entry ledger check passes for the zombie (6 > 5); the race the
    # ADVICE flags is mid-flight: between the zombie's manifest read and
    # its CAS, the live writer commits batch 7 under the SAME writer id —
    # the zombie's rebase must then skip, not overwrite the ledger to 6
    zombie = LakeTable(spark, path, num_buckets=4)
    live = LakeTable(spark, path, num_buckets=4)
    real_publish = zombie._publish
    injected = {"done": False}

    def racing_publish(manifest):
        if not injected["done"]:
            injected["done"] = True
            live.merge_upsert(_rows(spark, [1, 2], 7, "live7"), keys=["id"],
                              order_by=["seq"], batch_id=7, mode=mode,
                              writer_id="w")
        return real_publish(manifest)

    zombie._publish = racing_publish
    out = zombie.merge_upsert(_rows(spark, [99], 6, "zomb"), keys=["id"],
                              order_by=["seq"], batch_id=6, mode=mode,
                              writer_id="w")
    assert out.get("skipped"), out
    m = LakeTable(spark, path, num_buckets=4).current_manifest()
    assert m["batch_ids"]["w"] == 7  # never regressed to 6
    got = {r["id"]: r["text"] for r in LakeTable(spark, path).to_df().collect()}
    assert 99 not in got  # the zombie's rows were not applied
    assert got[1] == "live7-1-7"


def test_mor_rebase_refuses_key_type_drift(spark, tmp_path):
    """Two writers race on an EMPTY table with different key types (long vs
    double): the MOR loser must not append delta files bucketed under the
    stale key type — it recomputes, and the retry refuses the drift."""
    path = str(tmp_path / "tbl_drift")
    t1 = LakeTable(spark, path, num_buckets=4)
    t2 = LakeTable(spark, path, num_buckets=4)
    real_publish = t1._publish
    injected = {"done": False}

    def racing_publish(manifest):
        if not injected["done"]:
            injected["done"] = True
            t2.merge_upsert(
                arrow_frame(
                    spark, [(1.0, 1, "w2")],
                    T.StructType.fromDDL("id double, seq long, text string"),
                ),
                keys=["id"], order_by=["seq"], batch_id=0, mode="mor",
                writer_id="w2",
            )
        return real_publish(manifest)

    t1._publish = racing_publish
    out = t1.merge_upsert(
        arrow_frame(
            spark, [(1, 2, "w1")], T.StructType.fromDDL("id long, seq long, text string")
        ),
        keys=["id"], order_by=["seq"], batch_id=0, mode="mor",
        writer_id="w1",
    )
    assert not out.get("skipped")
    # without the guard, w1's delta file buckets id under LONG hashing while
    # the table key is DOUBLE — key 1 would surface TWICE (two buckets).
    # With it, w1 recomputes: one row, w1's higher seq wins, key is double.
    rows = LakeTable(spark, path).to_df().collect()
    assert [r["text"] for r in rows] == ["w1"]
    assert rows[0]["id"] == 1.0


def test_files_and_meta_allowed_restricts_claims():
    """allowed= restricts both the claimed residues and the file list."""
    S, k_parts = 4, 8
    by_index = {
        bucket_salt_to_partition(0, s, k_parts): f"/d/f{s}.parquet" for s in range(S)
    }
    files_all, meta_all = LakeTable._files_and_meta([0], S, k_parts, by_index)
    claimed_all = {r for ent in meta_all["0"].values() for r in ent[1]}
    assert claimed_all == {0, 1, 2, 3}
    files_r, meta_r = LakeTable._files_and_meta(
        [0], S, k_parts, by_index, allowed={0: {1, 3}}
    )
    claimed_r = {r for ent in meta_r["0"].values() for r in ent[1]}
    assert claimed_r == {1, 3}
    assert set(files_r["0"]) < set(files_all["0"])


def test_partial_fold_claims_only_due_residues(spark, tmp_path):
    """Hot granule folds; the fold output's slice_meta must claim only the
    hot granule's residue class, so later folds of cold granules don't
    drag the new base files in (whole-bucket rewrite regression)."""
    path = str(tmp_path / "tbl_partial_fold")
    t = LakeTable(spark, path, num_buckets=1, files_per_bucket=4)
    ids = list(range(200))
    # residue class of each id at depth 4 (same salt function as the table)
    res = {
        r["id"]: r["res"]
        for r in arrow_frame(spark, [(i,) for i in ids], T.StructType.fromDDL("id long"))
        .withColumn(
            "res",
            F.pmod(F.xxhash64(F.col("id"), F.lit("__salt__")), F.lit(4)).cast("int"),
        )
        .collect()
    }
    hot = [i for i in ids if res[i] == 0]
    assert len(hot) > 5
    # base covering ALL residues at S=4
    t.merge_upsert(_rows(spark, ids, 0, "base"), keys=["id"], order_by=["seq"],
                   batch_id=0, mode="cow")
    # two delta batches touching ONLY residue-0 keys, then a fold at k=2
    for b in (1, 2):
        t.merge_upsert(_rows(spark, hot, b, "hot"), keys=["id"], order_by=["seq"],
                       batch_id=b, mode="mor")
    # the due set the fold will rewrite: residue 0 plus whatever the
    # whole-file closure drags in via base-partition collisions — but NOT
    # the full residue set (the fold is genuinely partial)
    m0 = t.current_manifest()
    S_b, due, _base_sel, _delta_sel = t._bucket_granule_plan(m0, "0", 2)
    assert S_b == 4 and 0 in due and set(due) < set(range(4)), (S_b, due)
    t.fold_every = 2
    out = t.fold_due()
    assert not out.get("skipped"), out
    m = t.current_manifest()
    assert not m.get("deltas")  # the hot chain folded
    # new files (this epoch) must claim residues in the due classes only
    epoch = f"epoch={m['version']:010d}"
    new_meta = {
        f: ent
        for f, ent in m["slice_meta"]["0"].items()
        for full in m["files"]["0"]
        if os.path.basename(full) == f and epoch in full
    }
    assert new_meta, m["files"]
    for f, (S_f, residues) in new_meta.items():
        for r in residues:
            assert r % 4 in due, (f, S_f, residues, due)
    # state unchanged: hot keys at seq 2, cold keys at seq 0
    got = {r["id"]: r["seq"] for r in t.to_df().collect()}
    assert all(got[i] == (2 if res[i] == 0 else 0) for i in ids)


def _mkrows(spark, rows):
    return arrow_frame(
        spark, [(int(i), int(s), op, tx) for i, s, op, tx in rows],
        T.StructType.fromDDL("id long, seq long, op string, text string"),
    )


def _ref_diff(t, v_from, v_to):
    """Driver-side reference changelog: full-snapshot before/after states
    compared key by key — the semantics cdc_diff's delta walk must match
    byte-for-byte."""
    def state(v):
        df = t.to_df(drop_deletes=True, version=v)
        return {r["id"]: (r["seq"], r["op"], r["text"]) for r in df.collect()}

    b, a = state(v_from), state(v_to)
    out = {}
    for k in set(b) | set(a):
        if k not in b:
            out[k] = ("insert", None, a[k])
        elif k not in a:
            out[k] = ("delete", b[k], None)
        elif b[k] != a[k]:
            out[k] = ("update", b[k], a[k])
    return out


def test_cdc_diff_delta_walk_matches_full_diff_mixed_modes(spark, tmp_path):
    """cdc_diff over a mixed cow/mor/cow_incremental history must equal the
    full-snapshot reference diff for every (from, to) window."""
    import random

    rng = random.Random(42)
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=8)
    t.fold_every = 2
    modes = ["cow", "mor", "cow_incremental"]
    versions = []
    for b in range(9):
        rows = []
        for _ in range(rng.randint(5, 25)):
            k = rng.randint(0, 120)
            op = "delete" if rng.random() < 0.15 else "upsert"
            rows.append((k, b * 100 + rng.randint(0, 99), op, f"b{b}-k{k}"))
        t.merge_upsert(_mkrows(spark, rows), keys=["id"], order_by=["seq"],
                       batch_id=b, op_col="op", mode=rng.choice(modes))
        versions.append(t.current_manifest()["version"])
    for v_from in (versions[0], versions[3], versions[7], versions[8]):
        got = {
            r["id"]: (
                r["change"],
                None if r["before"] is None else (r["before"]["seq"], r["before"]["op"], r["before"]["text"]),
                None if r["after"] is None else (r["after"]["seq"], r["after"]["op"], r["after"]["text"]),
            )
            for r in t.cdc_diff(v_from).collect()
        }
        assert got == _ref_diff(t, v_from, versions[-1]), f"window {v_from}"


def test_cdc_diff_scans_only_changed_granules(spark, tmp_path):
    """A 3-key update on a 2000-key table must scan the touched buckets'
    files only — O(changed granules), not O(table)."""
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=16)
    t.merge_upsert(
        _mkrows(spark, [(i, 0, "upsert", f"v0-{i}") for i in range(2000)]),
        keys=["id"], order_by=["seq"], batch_id=0, op_col="op",
    )
    v0 = t.current_manifest()["version"]
    t.merge_upsert(_mkrows(spark, [(7, 1, "upsert", "v1-7"),
                                   (11, 1, "upsert", "v1-11"),
                                   (13, 1, "delete", "")]),
                   keys=["id"], order_by=["seq"], batch_id=1, op_col="op",
                   mode="mor")
    diff = {r["id"]: r["change"] for r in t.cdc_diff(v0).collect()}
    assert diff == {7: "update", 11: "update", 13: "delete"}
    plan = t.last_cdc_diff_plan
    assert len(plan["touched"]) <= 3          # at most one bucket per key
    # section-ref prefilter: only the changed buckets' sections were ever
    # LOADED (content-addressed refs prove the rest identical), so even
    # the metadata read is O(changed buckets), and the files enumerated
    # (total_files) are already just the loaded buckets'
    assert plan["buckets_loaded"] <= 3 < plan["buckets_total"], plan
    # untouched windows are free: diff of current vs current plans nothing
    v1 = t.current_manifest()["version"]
    assert t.cdc_diff(v1).count() == 0
    assert t.last_cdc_diff_plan["scanned_files"] == 0


def test_head_resolution_is_o1_at_high_commit_count(spark, tmp_path):
    """10^4 synthetic commits: current_manifest() must resolve HEAD with a
    handful of reads (hint + forward probes), not an O(versions) listing;
    a lagging pointer heals by probing forward."""
    path = str(tmp_path / "tbl_head")
    t = LakeTable(spark, path, num_buckets=2)
    t.merge_upsert(_rows(spark, [1], 0, "x"), keys=["id"], order_by=["seq"],
                   batch_id=0)
    base = t._current_core()
    # synthesize 10_000 successor version files driver-side (same file
    # protocol: a version file is a manifest core with its sections_ref)
    for v in range(1, 10_001):
        m = {**base, "version": v}
        with open(t._manifest_path(v), "w") as fh:
            json.dump(m, fh)
    # fresh pointer at HEAD
    with open(t._pointer_path(), "w") as fh:
        json.dump({**base, "version": 10_000}, fh)
    assert t.current_manifest()["version"] == 10_000
    assert t.last_head_reads <= 3
    # pointer lagging 5 versions (crashed writer / lost pointer race)
    with open(t._pointer_path(), "w") as fh:
        json.dump({**base, "version": 9_995}, fh)
    assert t.current_manifest()["version"] == 10_000
    assert t.last_head_reads <= 8
    # no pointer at all: the O(versions) listing fallback still resolves
    os.remove(t._pointer_path())
    assert t.current_manifest()["version"] == 10_000
    assert t.last_head_reads > 1000


def test_expire_manifests_bounds_log_and_keeps_head(spark, tmp_path):
    path = str(tmp_path / "tbl_expire")
    t = LakeTable(spark, path, num_buckets=2)
    for b in range(6):
        t.merge_upsert(_rows(spark, [1, 2], b, f"b{b}"), keys=["id"],
                       order_by=["seq"], batch_id=b, mode="mor")
    head = t.current_manifest()["version"]
    removed = t.expire_manifests(retain_last=2)
    assert removed == head - 1  # versions 0..head-2 dropped
    assert t.current_manifest()["version"] == head
    assert t.manifest_at(head - 1) is not None
    assert t.manifest_at(0) is None  # expired: time travel window closed
    assert t.to_df(version=0) is None
    # table still fully readable and writable after metadata compaction
    assert {r["id"] for r in t.to_df().collect()} == {1, 2}
    t.merge_upsert(_rows(spark, [3], 9, "post"), keys=["id"], order_by=["seq"],
                   batch_id=9, mode="mor")
    assert {r["id"] for r in t.to_df().collect()} == {1, 2, 3}


def test_disjoint_slice_cow_writers_both_land_without_recompute(spark, tmp_path):
    """r3 verdict item #5: two COW writers touching DISJOINT slices of the
    SAME bucket interleave without recompute — the loser's rebase is
    metadata-only because its consumed files survive and the winner's new
    base files claim non-overlapping granules."""
    path = str(tmp_path / "tbl_slice_cow")
    t = LakeTable(spark, path, num_buckets=1, files_per_bucket=4)
    ids = list(range(400))
    res = {
        r["id"]: r["res"]
        for r in arrow_frame(spark, [(i,) for i in ids], T.StructType.fromDDL("id long"))
        .withColumn(
            "res",
            F.pmod(F.xxhash64(F.col("id"), F.lit("__salt__")), F.lit(4)).cast("int"),
        )
        .collect()
    }
    t.merge_upsert(_rows(spark, ids, 0, "base"), keys=["id"], order_by=["seq"],
                   batch_id=0, mode="cow")

    # base files at depth 4 pair residues {0,2} and {1,3} (partition-index
    # collisions at k_parts=4): writer A touches residue 0, writer B
    # residue 1 — closed granule sets {0,2} vs {1,3}, disjoint
    a_keys = [i for i in ids if res[i] == 0][:40]
    b_keys = [i for i in ids if res[i] == 1][:40]

    tA = LakeTable(spark, path, num_buckets=1, files_per_bucket=4)
    tB = LakeTable(spark, path, num_buckets=1, files_per_bucket=4)
    attempts = {"A": 0, "B": 0}
    for tag, tt in (("A", tA), ("B", tB)):
        orig = tt._merge_upsert_once

        def counted(*args, __tag=tag, __orig=orig, **kw):
            attempts[__tag] += 1
            return __orig(*args, **kw)

        tt._merge_upsert_once = counted

    real_publish = tA._publish
    injected = {"done": False}

    def racing_publish(manifest):
        if not injected["done"]:
            injected["done"] = True
            tB.merge_upsert(_rows(spark, b_keys, 1, "wb"), keys=["id"],
                            order_by=["seq"], batch_id=0, mode="cow",
                            writer_id="wb")
        return real_publish(manifest)

    tA._publish = racing_publish
    outA = tA.merge_upsert(_rows(spark, a_keys, 1, "wa"), keys=["id"],
                           order_by=["seq"], batch_id=0, mode="cow",
                           writer_id="wa")
    assert not outA.get("skipped")
    # ONE compute attempt each: A lost the CAS but rebased metadata-only
    assert attempts == {"A": 1, "B": 1}, attempts
    got = {r["id"]: (r["seq"], r["text"]) for r in
           LakeTable(spark, path).to_df().collect()}
    assert len(got) == 400
    for i in ids:
        if i in a_keys:
            assert got[i] == (1, f"wa-{i}-1")
        elif i in b_keys:
            assert got[i] == (1, f"wb-{i}-1")
        else:
            assert got[i] == (0, f"base-{i}-0")
    # and OVERLAPPING granules still recompute (no silent corruption):
    tC = LakeTable(spark, path, num_buckets=1, files_per_bucket=4)
    tD = LakeTable(spark, path, num_buckets=1, files_per_bucket=4)
    c_keys = a_keys[:10]
    real_publish_c = tC._publish
    injected2 = {"done": False}

    def racing_publish2(manifest):
        if not injected2["done"]:
            injected2["done"] = True
            tD.merge_upsert(_rows(spark, c_keys, 2, "wd"), keys=["id"],
                            order_by=["seq"], batch_id=1, mode="cow",
                            writer_id="wd")
        return real_publish_c(manifest)

    tC._publish = racing_publish2
    tC.merge_upsert(_rows(spark, c_keys, 3, "wc"), keys=["id"],
                    order_by=["seq"], batch_id=1, mode="cow", writer_id="wc")
    got2 = {r["id"]: r["seq"] for r in LakeTable(spark, path).to_df().collect()}
    assert all(got2[i] == 3 for i in c_keys)  # max seq wins after recompute


def test_cow_into_empty_table_rebases_unless_granules_meet(spark, tmp_path):
    """A COW into an empty table commits as a granule plan that consumes
    nothing. On a lost CAS it rebases metadata-only when the racer's base
    files claim other granules of the same bucket, and recomputes when
    they meet its own; either way the state is the LWW oracle's."""
    ids = list(range(400))
    res = {
        r["id"]: r["res"]
        for r in arrow_frame(spark, [(i,) for i in ids], T.StructType.fromDDL("id long"))
        .withColumn(
            "res",
            F.pmod(F.xxhash64(F.col("id"), F.lit("__salt__")), F.lit(4)).cast("int"),
        )
        .collect()
    }
    a_keys = [i for i in ids if res[i] == 0][:40]
    b_keys = [i for i in ids if res[i] == 1][:40]

    def race(path, ours, theirs):
        """Writer A merges ``ours`` (seq 2) into the empty table at
        ``path``; writer B's ``theirs`` (seq 1) commits first, inside A's
        CAS. Returns the compute attempts per writer and the state."""
        tA = LakeTable(spark, path, num_buckets=1, files_per_bucket=4)
        tB = LakeTable(spark, path, num_buckets=1, files_per_bucket=4)
        attempts = {"A": 0, "B": 0}
        for tag, tt in (("A", tA), ("B", tB)):
            orig = tt._merge_upsert_once

            def counted(*args, __tag=tag, __orig=orig, **kw):
                attempts[__tag] += 1
                return __orig(*args, **kw)

            tt._merge_upsert_once = counted
        real_publish = tA._publish
        injected = {"done": False}

        def racing_publish(manifest):
            if not injected["done"]:
                injected["done"] = True
                tB.merge_upsert(_rows(spark, theirs, 1, "wb"), keys=["id"],
                                order_by=["seq"], batch_id=0, mode="cow",
                                writer_id="wb")
            return real_publish(manifest)

        tA._publish = racing_publish
        out = tA.merge_upsert(_rows(spark, ours, 2, "wa"), keys=["id"],
                              order_by=["seq"], batch_id=0, mode="cow",
                              writer_id="wa")
        assert not out.get("skipped")
        state = {r["id"]: r["text"] for r in LakeTable(spark, path).to_df().collect()}
        return attempts, state

    attempts, got = race(str(tmp_path / "disjoint"), a_keys, b_keys)
    assert attempts == {"A": 1, "B": 1}, attempts  # rebased, no recompute
    assert got == {**{i: f"wb-{i}-1" for i in b_keys}, **{i: f"wa-{i}-2" for i in a_keys}}

    attempts, got = race(str(tmp_path / "overlap"), a_keys, a_keys[:10])
    assert attempts == {"A": 2, "B": 1}, attempts  # granules meet: recompute
    assert got == {i: f"wa-{i}-2" for i in a_keys}


def test_pipeline_cow_uses_granular_footprint(spark, tmp_path):
    """process_batch (sink_mode='cow') collects the (bucket, slice64)
    footprint inside its lineage aggregate and merge_upsert rewrites only
    the touched granules; the persisted metrics stay footprint-free."""
    from pyspark.sql import functions as SF
    from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal
    from tap_rest_api_msdk_spark.streaming.metrics import read_metrics
    from tap_rest_api_msdk_spark.streaming.pipeline import (
        PipelineConfig,
        process_batch,
    )

    wal = synth_repo_wal(spark, 4000, n_repos=20, n_paths=50, shredded=True)
    path = str(tmp_path / "t")
    table = LakeTable(spark, path, num_buckets=8, files_per_bucket=4)
    conf = PipelineConfig(stream="s", payload_col="payload", num_buckets=8,
                          sink_mode="cow")
    process_batch(table, conf, wal, 0)
    m0 = table.current_manifest()
    n0 = table.to_df().count()
    # tiny follow-up batch: update ONE key only
    one = wal.orderBy(SF.desc("seq")).limit(1).withColumn(
        "seq", SF.col("seq") + 1_000_000
    )
    process_batch(table, conf, one, 1)
    m1 = table.current_manifest()
    assert table.to_df().count() == n0
    # granular COW: untouched granules' files carried forward — the one
    # updated key touches exactly one (bucket, slice) granule, so most of
    # the base file set survives verbatim
    f0 = {f for fl in m0["files"].values() for f in fl}
    f1 = {f for fl in m1["files"].values() for f in fl}
    assert len(f0 & f1) >= len(f0) - 2, (len(f0), len(f0 & f1))
    # metrics table: no slice_classes column persisted
    cols = read_metrics(spark, path).columns
    assert "slice_classes" not in cols and "event_count" in cols


def test_split_manifests_write_touched_sections_only(spark, tmp_path):
    """Split manifests: the version file holds core + content-addressed
    per-bucket section refs; a commit touching one bucket adds O(1) new
    section files while every other bucket re-references its existing
    section byte-for-byte."""
    import glob

    path = str(tmp_path / "tbl_sections")
    t = LakeTable(spark, path, num_buckets=32)
    t.merge_upsert(_rows(spark, range(3000), 0, "base"), keys=["id"],
                   order_by=["seq"], batch_id=0, mode="cow")
    sdir = os.path.join(path, "manifests", "sections")
    n_after_base = len(os.listdir(sdir))
    with open(t._manifest_path(t.current_manifest()["version"])) as fh:
        core0 = json.load(fh)
    assert "sections_ref" in core0 and "files" not in core0
    refs0 = core0["sections_ref"]

    # single-key update -> exactly one bucket's section changes
    t.merge_upsert(_rows(spark, [7], 1, "upd"), keys=["id"],
                   order_by=["seq"], batch_id=1, mode="mor")
    with open(t._manifest_path(t.current_manifest()["version"])) as fh:
        refs1 = json.load(fh)["sections_ref"]
    changed = [b for b in refs0 if refs0[b] != refs1.get(b)]
    assert len(changed) == 1, changed
    assert len(os.listdir(sdir)) <= n_after_base + 2
    # version file is SMALL (refs, not file lists)
    assert os.path.getsize(t._manifest_path(t.current_manifest()["version"])) < 8192

    # assembled reads are unchanged semantics
    m = t.current_manifest()
    assert sum(len(v) for v in m["files"].values()) >= 32
    got = {r["id"]: r["seq"] for r in t.to_df().collect()}
    assert got[7] == 1 and got[8] == 0 and len(got) == 3000

    # expire + GC: drop old versions, unreferenced sections reclaimed
    # (grace 0 for the test; default spares in-flight writers)
    removed_versions = t.expire_manifests(retain_last=1, grace_seconds=0.0)
    assert removed_versions == 1
    live_refs = set(refs1.values())
    on_disk = {f"sections/{n}" for n in os.listdir(sdir)}
    assert on_disk == live_refs, (on_disk - live_refs, live_refs - on_disk)
    assert {r["id"]: r["seq"] for r in t.to_df().collect()} == got


def test_expired_anchor_raises_not_full_redelivery(spark, tmp_path):
    """Review findings: an incremental window whose ANCHOR manifest was
    expired must raise — silently diffing against an empty snapshot would
    redeliver the whole table as changes (changes_since, the streaming
    source) or misreport every live key as an insert (cdc_diff)."""
    from tap_rest_api_msdk_spark.streaming.laketable import walk_added_files

    path = str(tmp_path / "tbl_expired")
    t = LakeTable(spark, path, num_buckets=4)
    for b in range(5):
        t.merge_upsert(_rows(spark, range(b * 3, b * 3 + 3), b, f"b{b}"),
                       keys=["id"], order_by=["seq"], batch_id=b, mode="mor")
    head = t.current_manifest()["version"]
    t.expire_manifests(retain_last=2, grace_seconds=0.0)

    with pytest.raises(ValueError, match="expired"):
        t.changes_since(0)
    with pytest.raises(ValueError, match="expired"):
        t.cdc_diff(0)
    with pytest.raises(ValueError, match="expired"):
        walk_added_files(path, 0, head)

    # retained windows still work on all three surfaces
    assert t.changes_since(head - 1).count() == 3
    assert t.cdc_diff(head - 1).count() == 3
    assert len(walk_added_files(path, head - 1, head)) >= 1
    # pre-creation anchor (< 0) stays a legitimate full-history read
    t2 = LakeTable(spark, str(tmp_path / "fresh"), num_buckets=4)
    t2.merge_upsert(_rows(spark, [1], 0, "x"), keys=["id"], order_by=["seq"],
                    batch_id=0)
    assert t2.changes_since(-1).count() == 1


def test_gc_sections_reclaims_crashed_tmp_files(spark, tmp_path):
    path = str(tmp_path / "tbl_tmp")
    t = LakeTable(spark, path, num_buckets=2)
    t.merge_upsert(_rows(spark, [1, 2], 0, "x"), keys=["id"], order_by=["seq"],
                   batch_id=0)
    t.merge_upsert(_rows(spark, [3], 1, "y"), keys=["id"], order_by=["seq"],
                   batch_id=1, mode="mor")
    sdir = os.path.join(path, "manifests", "sections")
    orphan = os.path.join(sdir, "deadbeef.json.tmp.12345")
    with open(orphan, "w") as fh:
        fh.write("{}")
    t.expire_manifests(retain_last=1, grace_seconds=0.0)
    assert not os.path.exists(orphan)
    assert t.to_df().count() == 3  # live sections untouched


def test_split_manifest_roundtrip_property(tmp_path):
    """Property: split -> assemble is lossless for arbitrary manifest
    shapes (sections, per-file bytes/owners, shared files, empty
    buckets), and content addressing dedups identical sections."""
    from hypothesis import given, settings, strategies as st

    from tap_rest_api_msdk_spark.streaming.laketable import (
        LakeTable,
        assemble_manifest,
    )

    class Stub(LakeTable):  # no SparkSession needed for metadata plumbing
        def __init__(self, path):
            self.path = path
            os.makedirs(os.path.join(path, "manifests"), exist_ok=True)

    fname = st.integers(0, 30).map(lambda i: f"/d/e/f{i}.parquet")
    bucket = st.integers(0, 9)

    @settings(max_examples=40, deadline=None)
    @given(
        files=st.dictionaries(bucket, st.lists(fname, max_size=4, unique=True), max_size=6),
        deltas=st.dictionaries(bucket, st.lists(fname, max_size=3, unique=True), max_size=6),
        data=st.data(),
    )
    def check(files, deltas, data):
        files = {str(b): v for b, v in files.items()}
        deltas = {str(b): v for b, v in deltas.items()}
        all_bn = {os.path.basename(f) for v in list(files.values()) + list(deltas.values()) for f in v}
        slice_meta = {
            b: {
                os.path.basename(f): [4, sorted(data.draw(st.sets(st.integers(0, 3), min_size=1)))]
                for f in flist
            }
            for b, flist in files.items()
        }
        file_bytes = {bn: data.draw(st.integers(1, 10**9)) for bn in all_bn}
        owners = {}
        for section in (files, deltas):
            for b, flist in section.items():
                for f in flist:
                    owners.setdefault(os.path.basename(f), set()).add(int(b))
        m = {
            "version": 7, "batch_ids": {"w": 3}, "schema": {"t": "s"},
            "files": files, "deltas": deltas, "slice_meta": slice_meta,
            "file_bytes": file_bytes,
            "file_owners": {bn: sorted(bs) for bn, bs in owners.items()},
            "bookmarks": {}, "num_buckets": 10, "keys": ["id"],
            "order_by": ["seq"], "op_col": None, "fold_round": 0,
        }
        t = Stub(str(tmp_path / "p"))
        core = t._split_sections(dict(m))
        assert "files" not in core and "sections_ref" in core
        back = assemble_manifest(t.path, core)
        for k in ("files", "deltas", "slice_meta", "file_bytes", "file_owners", "batch_ids", "version"):
            want = {b: v for b, v in m[k].items() if v} if k in ("files", "deltas", "slice_meta") else m[k]
            assert back[k] == want, (k, back[k], want)

    check()


def test_bloom_key_index_lookup(spark, tmp_path):
    """Per-file key blooms (a key_index table) prune point lookups to ~1
    candidate file; correctness never depends on the index."""
    path = str(tmp_path / "tbl_bloom")
    t = LakeTable(spark, path, num_buckets=8, files_per_bucket=4, key_index=True)

    def rows(data):
        return arrow_frame(
            spark, [(int(i), int(s), op, tx) for i, s, op, tx in data],
            T.StructType.fromDDL("id long, seq long, op string, text string"),
        )

    t.merge_upsert(rows([(i, 0, "upsert", f"v0-{i}") for i in range(4000)]),
                   keys=["id"], order_by=["seq"], batch_id=0, op_col="op",
                   mode="cow")
    t.merge_upsert(rows([(7, 1, "upsert", "v1-7"), (9, 1, "delete", "")]),
                   keys=["id"], order_by=["seq"], batch_id=1, op_col="op",
                   mode="mor")

    out = t.lookup({"id": 7}).collect()
    assert [(r["seq"], r["text"]) for r in out] == [(1, "v1-7")]
    assert t.last_lookup_stats["candidate_files"] < t.last_lookup_stats["bucket_files"]
    assert t.lookup({"id": 9}).collect() == []          # tombstoned
    assert t.lookup({"id": 1234}).collect()[0]["seq"] == 0

    # absent keys: blooms prune essentially all I/O (tolerate rare FPs)
    total = 0
    for k in range(10**6, 10**6 + 20):
        assert t.lookup({"id": k}).collect() == []
        total += t.last_lookup_stats["candidate_files"]
    assert total <= 3, total

    # a fold keeps the index: its output files get blooms too
    t.fold_every = 1
    t.merge_upsert(rows([(42, 2, "upsert", "v2-42")]), keys=["id"],
                   order_by=["seq"], batch_id=2, op_col="op",
                   mode="cow_incremental")
    assert t.lookup({"id": 42}).collect()[0]["text"] == "v2-42"
    assert t.lookup({"id": 7}).collect()[0]["text"] == "v1-7"
    # wrong key set refused
    with pytest.raises(ValueError, match="merge keys"):
        t.lookup({"nope": 1})


def test_lookup_metadata_is_bucket_scoped(spark, tmp_path):
    """Point lookups parse the core version file plus exactly ONE bucket
    section — never the full manifest (section-load accounting via the
    content cache)."""
    import tap_rest_api_msdk_spark.streaming.laketable as LT

    path = str(tmp_path / "tbl_scoped")
    t = LakeTable(spark, path, num_buckets=32, key_index=True)
    t.merge_upsert(_rows(spark, range(3000), 0, "x"), keys=["id"],
                   order_by=["seq"], batch_id=0, mode="cow")
    LT._SECTION_CACHE.clear()
    loads = []
    orig = LT._load_section

    def counting(p):
        loads.append(p)
        return orig(p)

    LT._load_section = counting
    try:
        out = t.lookup({"id": 7}).collect()
    finally:
        LT._load_section = orig
    assert len(out) == 1
    assert len(set(loads)) == 1, loads  # one section for a 32-bucket table
    assert t.last_lookup_stats["sections_loaded"] == 1
