"""The benchmark's closed-loop, single-client workloads.

Each workload generates its WAL from the seed with the package's own
generator (``synth_repo_wal``), hands the engine only that WAL, and drives
the public API: ``run_batch_replay``, ``run_streaming`` and the
``LakeTable`` read surfaces. ``step()`` is one closed-loop operation; the
caller repeats it for the measured window. ``check()`` compares what the
engine produced with the DuckDB oracle.

Sizes are fixed for a 4-core, 15 GiB host: large enough that every step
does the work the workload is meant to stress, small enough that set-up
plus window take about a minute per run.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import time

from pyspark.sql import functions as F

from tap_rest_api_msdk_spark.sources.reader import infer_payload_struct
from tap_rest_api_msdk_spark.sources.wal_synth import synth_repo_wal
from tap_rest_api_msdk_spark.streaming import pipeline
from tap_rest_api_msdk_spark.streaming.laketable import (
    LakeTable,
    all_files_of,
    head_version,
    load_manifest_at,
)
from tap_rest_api_msdk_spark.streaming.pipeline import PipelineConfig, run_batch_replay, run_streaming

from oracle import Oracle
from tracing import dir_files, new_files

NUM_BUCKETS = 16


class BatchLog:
    """Latency and outcome of every ``process_batch`` call (both modes).

    Installed as a wrapper on ``pipeline.process_batch``, which both
    ``run_batch_replay`` and the foreachBatch sink of ``run_streaming``
    resolve from the module at call time."""

    def __init__(self):
        self.records: list[dict] = []

    def install(self) -> None:
        orig = pipeline.process_batch

        def timed(table, conf, batch_df, batch_id):
            t0 = time.time()
            out = orig(table, conf, batch_df, batch_id)
            fold = out.get("fold") or {}
            self.records.append({
                "stream": conf.stream, "seconds": time.time() - t0,
                "skipped": bool(out.get("skipped")), "folded": fold.get("skipped") is False,
            })
            return out

        pipeline.process_batch = timed


def land_slices(df, stage_dir: str, lo: int, n: int, per: int) -> list[str]:
    """Land events ``lo <= seq < lo + n*per`` as ``n`` parquet files of
    ``per`` contiguous events each: the layout ``write_wal_slices`` gives
    (one plain file per micro-batch, in seq order), written by one Spark
    job instead of one job per slice so set-up stays short."""
    tmp = os.path.join(stage_dir, ".tmp")
    (
        df.filter((F.col("seq") >= lo) & (F.col("seq") < lo + n * per))
        .withColumn("__slice", ((F.col("seq") - F.lit(lo)) / F.lit(per)).cast("int"))
        .repartition(n, "__slice")
        .sortWithinPartitions("seq")
        .write.partitionBy("__slice")
        .parquet(tmp)
    )
    out = []
    for i in range(n):
        (part,) = glob.glob(os.path.join(tmp, f"__slice={i}", "part-*.parquet"))
        dst = os.path.join(stage_dir, f"slice-{i:05d}.parquet")
        os.replace(part, dst)
        out.append(dst)
    shutil.rmtree(tmp)
    return out


class Workload:
    name = ""
    json_payload = False
    stream = ""
    MIN_STEPS = 1  # steps a window runs even when they outlast --seconds

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.log = BatchLog()
        self.wal_dir = os.path.join(work, "wal")
        self.oracle: Oracle | None = None

    def setup(self) -> None:
        raise NotImplementedError

    def bind(self, spark) -> None:
        """(Re)bind to a SparkSession, e.g. after a context restart."""
        self.spark = spark
        self.wal = spark.read.parquet(self.wal_dir)

    def has_more(self) -> bool:
        return True

    def step(self) -> dict:
        raise NotImplementedError

    def table_path(self) -> str:
        raise NotImplementedError

    def committed_seq(self) -> int:
        raise NotImplementedError

    def e2e(self, steps: list[dict]) -> dict:
        raise NotImplementedError

    def probe_frame(self):
        """(frame, payload schema) for the isolated flatten probe."""
        raise NotImplementedError

    def make_oracle(self) -> None:
        self.oracle = Oracle(os.path.join(self.wal_dir, "*.parquet"), self.json_payload)

    def table(self) -> LakeTable:
        return LakeTable(self.spark, self.table_path(), num_buckets=NUM_BUCKETS)

    def stored_bytes_per_key(self) -> float:
        """Bytes of the live snapshot's data files per live key (files
        superseded by folds stay on disk until vacuum; they are history,
        not the table)."""
        files = all_files_of(self.table().current_manifest())
        live = self.oracle.live_keys(self.committed_seq())
        return sum(os.path.getsize(f) for f in files) / max(1, live)

    def check(self) -> dict:
        """Per-key sha256(content) match against the oracle, plus the
        stream bookmark against the highest committed seq."""
        cut = self.committed_seq()
        table = self.table()
        actual = (
            table.to_df()
            .select("repo", "path", F.sha2(F.col("content"), 256).alias("h"))
            .toPandas()
        )
        rate = self.oracle.match_rate(actual, cut)
        bm = table.bookmarks().get(self.stream)
        ok = rate == 1.0 and bm == cut
        return {"sha256_match_rate": rate, "bookmark": bm, "expected_bookmark": cut,
                "ok": ok, "attempted": 1, "failed": 0 if ok else 1}


class BulkReplay(Workload):
    """Backfill: a JSON WAL replayed in a few large slices into an empty
    copy-on-write table with dynamic schema discovery."""

    name = "bulk_replay"
    json_payload = True
    stream = "bulk"
    EVENTS = 80_000
    SLICES = 2  # the boundary sits at evolve_at: slice 2 brings the new fields
    WARM_REPS = 1  # the first replay pays class loading and compilation
    # the host's speed drifts over seconds: five replays (about 20 s) give a
    # median that one slow stretch does not move
    MIN_STEPS = 5

    def setup(self) -> None:
        synth_repo_wal(
            self.spark, self.EVENTS, n_repos=5000, n_paths=2000, seed=self.seed,
            evolve_at=self.EVENTS // 2, partitions=4,
        ).write.parquet(self.wal_dir)
        self.bind(self.spark)
        self.make_oracle()
        self.reps = 0
        for _ in range(self.WARM_REPS):
            self.step()

    def _slices(self) -> list[tuple]:
        step = self.EVENTS // self.SLICES
        bounds = [-1] + [step * (i + 1) - 1 for i in range(self.SLICES - 1)] + [self.EVENTS - 1]
        return list(zip(bounds[:-1], bounds[1:]))

    def table_path(self) -> str:
        return os.path.join(self.work, f"table_{self.reps - 1}")

    def committed_seq(self) -> int:
        return self.EVENTS - 1

    def step(self) -> dict:
        if self.reps:
            shutil.rmtree(self.table_path(), ignore_errors=True)
        path = os.path.join(self.work, f"table_{self.reps}")
        self.reps += 1
        conf = PipelineConfig(stream=self.stream, num_buckets=NUM_BUCKETS)
        t0 = time.time()
        with self.tracer.span("pipeline.run_batch_replay"):
            run_batch_replay(self.spark, self.wal, path, conf, slices=self._slices())
        dt = time.time() - t0
        files = dir_files(path)
        return {"seconds": dt, "events": self.EVENTS, "batches": self.SLICES,
                "written_bytes": sum(files.values()), "written_files": len(files)}

    def e2e(self, steps: list[dict]) -> dict:
        rep = statistics.median(s["seconds"] for s in steps)
        return {"throughput_per_s": self.EVENTS / rep, "op_p50_s": rep,
                "stored_bytes_per_key": self.stored_bytes_per_key()}

    def probe_frame(self):
        lo, hi = self._slices()[0]
        df = self.wal.filter((F.col("seq") > lo) & (F.col("seq") <= hi))
        return df, infer_payload_struct(df, "payload")


class SteadyCdc(Workload):
    """Production streaming regime: a pre-shredded WAL over a small key
    space, bootstrapped into a COW table by its own stream, then tailed one
    file per micro-batch into ``cow_incremental``. Per-batch driver work,
    manifest IO, delta writes and folds dominate.

    Every check also runs one consumer read round on the table (snapshot
    count, ``read_since`` of the last batch window, ``cdc_diff`` of the
    last commits, point lookups), each read checked against the oracle."""

    name = "steady_cdc"
    stream = "steady"
    KEYS = dict(n_repos=50, n_paths=200)  # 10k keys: most events are updates
    BOOT_EVENTS = 40_000
    BATCH_EVENTS = 4_000
    # the warm-up covers the cold first batches; ending it mid-cycle leaves
    # five pending deltas per granule for the read round
    WARM_FILES = 5
    # folds land on every 10th batch: a step of one fold cycle does the
    # same mix of plain and fold commits wherever it starts
    STEP_FILES = 10
    # three cycles (about 20 s) per window: the host's speed drifts over
    # seconds, and latency still falls slowly while the JVM compiles
    MIN_STEPS = 3
    SLICES = 75  # warm-up, the untraced and the traced window, room to spare
    DIFF_COMMITS = 5
    LOOKUPS = 2

    def setup(self) -> None:
        total = self.BOOT_EVENTS + self.SLICES * self.BATCH_EVENTS
        synth_repo_wal(self.spark, total, seed=self.seed, shredded=True, partitions=4,
                       **self.KEYS).write.parquet(self.wal_dir)
        self.bind(self.spark)
        self.tpath = os.path.join(self.work, "table")
        # the bootstrap commits under its own stream: the streaming query's
        # batch ids restart at 0 and a shared per-stream ledger would skip them
        boot = PipelineConfig(stream="bootstrap", num_buckets=NUM_BUCKETS, sink_mode="cow")
        run_batch_replay(self.spark, self.wal.filter(F.col("seq") < self.BOOT_EVENTS),
                         self.tpath, boot)
        self.drained_to = self.BOOT_EVENTS - 1
        self.conf = PipelineConfig(stream=self.stream, num_buckets=NUM_BUCKETS,
                                   sink_mode="cow_incremental")
        self.land = os.path.join(self.work, "land")
        os.makedirs(self.land)
        self.pending = land_slices(self.wal, os.path.join(self.work, "stage"),
                                   self.BOOT_EVENTS, self.SLICES, self.BATCH_EVENTS)
        self.ckpt = os.path.join(self.work, "checkpoint")
        self.make_oracle()
        self.rng = random.Random(self.seed)
        self.drain(self.WARM_FILES)

    def table_path(self) -> str:
        return self.tpath

    def committed_seq(self) -> int:
        return self.drained_to

    def has_more(self) -> bool:
        return len(self.pending) >= self.STEP_FILES

    def drain(self, n_files: int) -> dict:
        """Land ``n_files`` slices and drain them with one availableNow
        query (one micro-batch per file)."""
        now = time.time()
        for i, src in enumerate(self.pending[:n_files]):
            dst = os.path.join(self.land, os.path.basename(src))
            os.replace(src, dst)
            # the file source orders files by modification time
            os.utime(dst, (now + i * 0.01, now + i * 0.01))
        del self.pending[:n_files]
        t0 = time.time()
        with self.tracer.span("pipeline.run_streaming"):
            run_streaming(self.spark, self.land, self.wal.schema, self.tpath, self.conf,
                          checkpoint_dir=self.ckpt, max_files_per_trigger=1,
                          available_now=True)
        dt = time.time() - t0
        self.drained_to += n_files * self.BATCH_EVENTS
        return {"seconds": dt, "events": n_files * self.BATCH_EVENTS, "batches": n_files}

    def step(self) -> dict:
        before = dir_files(self.tpath)
        out = self.drain(self.STEP_FILES)
        added = new_files(before, dir_files(self.tpath))
        out.update(written_bytes=sum(added.values()), written_files=len(added))
        return out

    def e2e(self, steps: list[dict]) -> dict:
        n = sum(s["batches"] for s in steps)
        commits = [r["seconds"] for r in self.log.records if r["stream"] == self.stream][-n:]
        return {
            "throughput_per_s": statistics.median(s["events"] / s["seconds"] for s in steps),
            "op_p50_s": statistics.median(commits),
            "stored_bytes_per_key": self.stored_bytes_per_key(),
        }

    def probe_frame(self):
        df = self.wal.filter(F.col("seq") < self.BATCH_EVENTS * 5)
        return df, self.wal.schema["payload"].dataType

    def check(self) -> dict:
        out = super().check()
        deltas = (self.table().current_manifest() or {}).get("deltas") or {}
        out["pending_delta_files"] = sum(len(v) for v in deltas.values())
        r = self.read_round()
        out["ok"] = out["ok"] and r["failed"] == 0
        out["attempted"] += r["attempted"]
        out["failed"] += r["failed"]
        out.update(read_s=r["read_s"], plans=r["plans"])
        return out

    def read_round(self) -> dict:
        """One consumer read round, each read checked against the oracle."""
        t, cut, o = self.table(), self.drained_to, self.oracle
        diff_from = head_version(self.tpath) - self.DIFF_COMMITS
        diff_cut = load_manifest_at(self.tpath, diff_from)["bookmarks"][self.stream]
        since_min = cut - self.BATCH_EVENTS + 1
        read_s: dict[str, list] = {}
        plans: dict[str, list] = {}

        def timed(name, fn):
            t0 = time.time()
            with self.tracer.span(f"laketable.{name}"):
                res = fn()
            read_s.setdefault(name, []).append(time.time() - t0)
            return res

        bad = timed("to_df_count", lambda: t.to_df().count()) != o.live_keys(cut)
        since = timed("read_since", lambda: t.read_since(since_min)
                      .select("repo", "path", "seq").collect())
        plans["since"] = [dict(t.last_read_plan)]
        bad += {tuple(r) for r in since} != o.since(cut, since_min)
        diff = timed("cdc_diff", lambda: t.cdc_diff(diff_from)
                     .select("repo", "path", "change").collect())
        plans["diff"] = [{k: t.last_cdc_diff_plan.get(k)
                          for k in ("buckets_loaded", "buckets_total")}]
        bad += {tuple(r) for r in diff} != o.diff(diff_cut, cut)
        expect = o.rows(cut)
        pool = sorted(expect)
        plans["lookup"] = []
        for _ in range(self.LOOKUPS):
            key = self.rng.choice(pool)
            rows = timed("lookup", lambda: t.lookup({"repo": key[0], "path": key[1]})
                         .select("seq", F.sha2(F.col("content"), 256).alias("h")).collect())
            plans["lookup"].append(dict(t.last_lookup_stats))
            seq, live, h = expect[key]
            bad += [(r["seq"], r["h"]) for r in rows] != ([(seq, h)] if live else [])
        return {"attempted": 3 + self.LOOKUPS, "failed": int(bad), "read_s": read_s,
                "plans": plans}


WORKLOADS = {w.name: w for w in (BulkReplay, SteadyCdc)}
