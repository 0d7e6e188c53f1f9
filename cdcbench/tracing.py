"""Spans and counters recorded around calls into the engine's layers.

The engine itself carries no tracing. For a traced phase the benchmark
replaces a few public entry points of each layer (module attributes and
class methods) with timing wrappers, and puts the originals back when the
phase ends. Every call that crosses one of those boundaries becomes a span
``{id, name, start, end, parent, batch_id, thread}``; spans stay in memory
and are written as JSONL once the run ends.

Spark's own event log (enabled for the traced run through
``get_spark(extra_conf=...)``) supplies what only the JVM can see: job
submissions, task run time, shuffle bytes and spill. ``EventLog`` reads it
back and attributes each job to the innermost benchmark span that was open
when Spark submitted it.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # the span opened by the main thread: foreachBatch callbacks run on
        # a py4j callback thread whose own stack is empty, and their spans
        # belong under the drain that triggered them
        self._root: list[int] = []
        self._open_batches = 0
        self._patches: list[tuple] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, batch_id=None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._root[-1] if self._root else None)
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent, "batch_id": batch_id,
               "thread": threading.get_ident(), "start": time.time()}
        main = threading.current_thread() is threading.main_thread()
        stack.append(sid)
        if main:
            self._root.append(sid)
        if name == "pipeline.process_batch":
            with self._lock:
                self._open_batches += 1
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if main:
                self._root.pop()
            if name == "pipeline.process_batch":
                with self._lock:
                    self._open_batches -= 1
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, only_in_batch: bool = False) -> None:
        if self.enabled and (not only_in_batch or self._open_batches > 0):
            with self._lock:
                self.counts[name] += 1

    # -- instrumentation --------------------------------------------------
    def patch(self, owner, attr: str, name: str, batch_arg: int | None = None,
              count_only: bool = False, only_in_batch: bool = False):
        """Replace ``owner.attr`` by a wrapper that records a span (or only
        a call count, optionally only inside ``process_batch``)."""
        orig = getattr(owner, attr)
        tracer = self

        if count_only:
            def wrapper(*a, **kw):
                tracer.count(name, only_in_batch=only_in_batch)
                return orig(*a, **kw)
        else:
            def wrapper(*a, **kw):
                bid = a[batch_arg] if batch_arg is not None and len(a) > batch_arg else None
                with tracer.span(name, batch_id=bid):
                    return orig(*a, **kw)

        self.replace(owner, attr, wrapper)

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr`` to ``new`` until ``unpatch()``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def write_jsonl(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")

    # -- analysis ---------------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it covered by its children."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(span["id"]))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, span["start"]), min(e, span["end"])
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered


def dir_files(path: str) -> dict:
    """{relative path: size} of every regular file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except OSError:
                pass  # removed while listing (a racing cleanup)
    return out


def new_files(before: dict, after: dict) -> dict:
    """Files that appeared (or changed size) between two listings."""
    return {k: v for k, v in after.items() if before.get(k) != v}


class EventLog:
    """Job/task aggregates from a Spark JSON event log."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if not paths:
            raise RuntimeError(f"no Spark event log under {log_dir}")
        for p in paths:
            with open(p) as fh:
                for line in fh:
                    self._ingest(json.loads(line))

    def _ingest(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            self.jobs[jid] = {"submit": ev.get("Submission Time", 0) / 1000.0}
            for sid in ev.get("Stage IDs", []):
                self.stage_job[sid] = jid
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            self.tasks.append({
                "stage": ev.get("Stage ID"),
                "launch": info.get("Launch Time", 0) / 1000.0,
                "run_ms": tm.get("Executor Run Time", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            })

    def jobs_between(self, t0: float, t1: float) -> list[int]:
        return [j for j, v in self.jobs.items() if t0 <= v["submit"] <= t1]

    def tasks_between(self, t0: float, t1: float) -> list[dict]:
        return [t for t in self.tasks if t0 <= t["launch"] <= t1]

    def tasks_of_jobs(self, job_ids) -> list[dict]:
        js = set(job_ids)
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in js]

    def by_span(self, spans: list[dict]) -> dict:
        """Job and task aggregates keyed by job description, where a job's
        description is the innermost benchmark span open when Spark
        submitted it (from any thread: foreachBatch and the pipeline's
        lineage thread submit jobs off the main thread)."""
        def innermost(ts):
            best = None
            for s in spans:
                if s["start"] <= ts <= s["end"] and (
                    best is None or s["start"] >= best["start"]
                ):
                    best = s
            return best["name"] if best else "(outside spans)"

        agg: dict = defaultdict(Counter)
        tasks_by_job = defaultdict(list)
        for t in self.tasks:
            tasks_by_job[self.stage_job.get(t["stage"])].append(t)
        for jid, j in self.jobs.items():
            key = innermost(j["submit"])
            a = agg[key]
            a["jobs"] += 1
            for t in tasks_by_job.get(jid, []):
                a["tasks"] += 1
                a["task_run_s"] += t["run_ms"] / 1000.0
                a["shuffle_write_bytes"] += t["shuffle_write"]
                a["spill_bytes"] += t["spill"]
        return {k: dict(v) for k, v in sorted(agg.items())}

    def merge_stage_skew(self, job_ids) -> float:
        """max/median task run time in the widest shuffle-reading stage of
        the given jobs (the LWW merge stage of a replay)."""
        by_stage = defaultdict(list)
        for t in self.tasks_of_jobs(job_ids):
            if t["shuffle_read"] > 0:
                by_stage[t["stage"]].append(t)
        if not by_stage:
            return 0.0
        stage = max(by_stage, key=lambda s: sum(t["shuffle_read"] for t in by_stage[s]))
        runs = [max(t["run_ms"], 1) for t in by_stage[stage]]
        return max(runs) / statistics.median(runs)
