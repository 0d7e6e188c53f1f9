"""CDC ingest benchmark for tap_rest_api_msdk_spark.

Run from the repository root:

    python3 cdcbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

One closed-loop client drives one workload (see ``workloads.py``) on
``local[N]``, N = the CPUs this process may run on. ``--trace 0`` measures
the end-to-end metrics with tracing off. ``--trace 1`` starts Spark with its
event log on, runs the window once without and once with spans around every
layer boundary, and reports the per-layer metrics plus the span overhead
(traced vs untraced window). Every run checks the engine's
output against the DuckDB oracle. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; metric names and units
come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-mem", required=True,
                    help="driver JVM heap (local mode runs every task in it)")
    ap.add_argument("--local-dir", required=True,
                    help="Spark shuffle/spill directory, relative to the working directory")
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def start_spark(cores: int, event_log: str | None = None):
    from tap_rest_api_msdk_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep the driver JVM's temp files inside the run's directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tempfile.gettempdir()} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("cdcbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat from the state on (index 0 = field 3)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2:].split()


def descendants(root: int) -> dict[int, str]:
    """pid -> start time of every live process below ``root``."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _proc_stat(int(d))
            if f is not None:
                kids.setdefault(int(f[1]), []).append((int(d), f[19]))
    out: dict[int, str] = {}
    todo = [root]
    while todo:
        for pid, start in kids.get(todo.pop(), []):
            if pid not in out:
                out[pid] = start
                todo.append(pid)
    return out


def _alive(pid: int, start: str) -> bool:
    # a zombie whose other threads still run (a JVM in its shutdown hooks)
    # reads "Z" too, so only a vanished or reused pid counts as ended
    f = _proc_stat(pid)
    return f is not None and f[19] == start


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the Spark JVM and wait until every process started under this
    one has ended. ``spark.stop()`` leaves the gateway JVM running; it only
    exits once its stdin closes, which otherwise happens after this process
    has already exited."""
    import subprocess

    from pyspark import SparkContext

    started = descendants(os.getpid())
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid, start in started.items():
                if _alive(pid, start):
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
        deadline = time.time() + timeout / 3
        while time.time() < deadline:
            for pid in list(started):
                try:  # reap our own children; others are reaped by init
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            started = {p: s for p, s in started.items() if _alive(p, s)}
            if not started:
                return
            time.sleep(0.05)
    raise RuntimeError(f"processes did not end: {sorted(started)}")


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus the driver Python."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0


def gc_ms(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


class Phase:
    """One measured window of closed-loop steps."""

    def __init__(self, w, seconds: float):
        mark = len(w.log.records)
        self.steps: list[dict] = []
        self.failed = 0
        self.t0 = time.time()
        while w.has_more() and (
            len(self.steps) < w.MIN_STEPS or time.time() - self.t0 < seconds
        ):
            try:
                self.steps.append(w.step())
            except Exception:  # an operation failed: count it, stop the loop
                traceback.print_exc()
                self.failed += 1
                break
        self.t1 = time.time()
        self.batches = [r for r in w.log.records[mark:] if not r["skipped"]]
        self.e2e = w.e2e(self.steps) if self.steps else {}

    @property
    def attempted(self) -> int:
        return sum(s["batches"] for s in self.steps) + self.failed


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _dur(s):
    return s["end"] - s["start"]


def install_tracing(tracer):
    """Wrap the public entry points of each layer for the traced phase."""
    from tap_rest_api_msdk_spark.sources import reader
    from tap_rest_api_msdk_spark.streaming import pipeline
    from tap_rest_api_msdk_spark.streaming.bookmarks import BookmarkStore
    from tap_rest_api_msdk_spark.streaming.laketable import LakeTable

    from tracing import dir_files, new_files

    tracer.patch(pipeline, "process_batch", "pipeline.process_batch", batch_arg=3)
    # process_batch imports infer_payload_struct from the module per call
    tracer.patch(reader, "infer_payload_struct", "sources.infer_payload_struct")
    tracer.patch(pipeline, "flatten_dataframe", "functions.flatten_dataframe")
    tracer.patch(pipeline, "append_metrics_rows", "metrics.append_metrics_rows")
    tracer.patch(BookmarkStore, "get", "bookmarks.get")
    tracer.patch(LakeTable, "merge_upsert", "laketable.merge_upsert")
    # every manifest read (current_manifest included) goes through _current_core
    tracer.patch(LakeTable, "_current_core", "laketable.manifest_reads",
                 count_only=True, only_in_batch=True)

    orig_fold = LakeTable.fold_due

    def fold_due(self, *a, **kw):
        data = os.path.join(self.path, "data")
        before = dir_files(data)
        with tracer.span("laketable.fold_due") as rec:
            out = orig_fold(self, *a, **kw)
        if out.get("skipped") is False:
            rec.update(folded=True, bytes=sum(new_files(before, dir_files(data)).values()))
        return out

    tracer.replace(LakeTable, "fold_due", fold_due)


def flatten_probe(w) -> float:
    """Rows/s of an isolated flatten_dataframe -> noop sink over one batch
    (median of three)."""
    from tap_rest_api_msdk_spark.functions.flatten import flatten_dataframe

    df, schema = w.probe_frame()
    df = df.cache()
    rows = df.count()
    keep = [c for c in df.columns if c != "payload"]
    times = []
    for _ in range(3):
        t0 = time.time()
        flatten_dataframe(df, "payload", schema, keep_cols=keep).write.format(
            "noop").mode("overwrite").save()
        times.append(time.time() - t0)
    df.unpersist()
    return rows / statistics.median(times)


def layer_metrics(w, phase: Phase, tracer, ev, cores: int, gc_delta_ms: int,
                  probe_rows_per_s: float, check: dict) -> dict:
    """Per-layer metrics of the traced window; ``check`` is the oracle
    check that followed it (read plans, pending deltas)."""
    plans = check.get("plans", {})
    batches = tracer.named("pipeline.process_batch")
    nb = len(batches)
    events = sum(s.get("events", 0) for s in phase.steps)
    merges = tracer.named("laketable.merge_upsert")
    folds = [s for s in tracer.named("laketable.fold_due") if s.get("folded")]

    def jobs_in(spans):
        return {j for s in spans for j in ev.jobs_between(s["start"], s["end"])}

    batch_jobs = jobs_in(batches)
    window_tasks = ev.tasks_between(phase.t0, phase.t1)
    stream_spans = tracer.named("pipeline.run_streaming")
    stream_over = sum(
        _dur(s) - sum(_dur(c) for c in tracer.children(s["id"])
                      if c["name"] == "pipeline.process_batch")
        for s in stream_spans
    )
    return {
        "sources.infer_s_per_batch":
            sum(map(_dur, tracer.named("sources.infer_payload_struct"))) / nb if nb else 0.0,
        "functions.flatten_rows_per_s": probe_rows_per_s,
        "functions.flatten_plan_s": _mean([_dur(s) for s in tracer.named("functions.flatten_dataframe")]),
        "operators.shuffle_bytes_per_event":
            sum(t["shuffle_write"] for t in ev.tasks_of_jobs(batch_jobs)) / events if events else 0.0,
        "operators.merge_task_skew": ev.merge_stage_skew(jobs_in(merges)),
        "operators.spill_bytes": float(sum(t["spill"] for t in window_tasks)),
        "pipeline.batch_self_s": _mean([tracer.self_time(s) for s in batches]),
        "pipeline.jobs_per_batch": len(batch_jobs) / nb if nb else 0.0,
        "pipeline.stream_overhead_s_per_batch": stream_over / nb if stream_spans and nb else 0.0,
        "laketable.merge_upsert_s": _mean([
            _dur(s) - sum(_dur(c) for c in tracer.children(s["id"])
                          if c["name"] == "laketable.fold_due")
            for s in merges
        ]),
        "laketable.manifest_reads_per_batch":
            tracer.counts["laketable.manifest_reads"] / nb if nb else 0.0,
        "laketable.fold_s": _mean([_dur(s) for s in folds]),
        "laketable.fold_bytes_rewritten": _mean([s["bytes"] for s in folds]),
        "laketable.bytes_written_per_event":
            sum(s.get("written_bytes", 0) for s in phase.steps) / events if events else 0.0,
        "laketable.files_written_per_batch":
            sum(s.get("written_files", 0) for s in phase.steps) / nb if nb else 0.0,
        "laketable.pending_delta_files": float(check.get("pending_delta_files", 0)),
        "laketable.since_files_scanned_frac": _mean([
            p["files_scanned"] / p["files_total"] for p in plans.get("since", []) if p["files_total"]
        ]),
        "laketable.cdc_diff_buckets_loaded_frac": _mean([
            p["buckets_loaded"] / p["buckets_total"] for p in plans.get("diff", [])
            if p.get("buckets_total")
        ]),
        "laketable.lookup_candidate_files": _mean([
            p["candidate_files"] for p in plans.get("lookup", [])
        ]),
        "bookmarks.get_s": _mean([_dur(s) for s in tracer.named("bookmarks.get")]),
        "metrics.append_s": _mean([_dur(s) for s in tracer.named("metrics.append_metrics_rows")]),
        "spark.executor_busy_frac":
            sum(t["run_ms"] for t in window_tasks) / 1000.0 / (cores * (phase.t1 - phase.t0)),
        "spark.gc_frac": gc_delta_ms / 1000.0 / (phase.t1 - phase.t0),
    }


def detail_metrics(phase: Phase, read_s: dict) -> dict:
    """Workload-specific latencies, untraced: commits of the window and
    one consumer read round after it."""
    commits = [r["seconds"] for r in phase.batches]
    return {
        "commit_p50_s": _median(commits),
        "fold_commit_p50_s": _median([r["seconds"] for r in phase.batches if r["folded"]]),
        "snapshot_read_s": _median(read_s.get("to_df_count", [])),
        "since_read_s": _median(read_s.get("read_since", [])),
        "cdc_diff_s": _median(read_s.get("cdc_diff", [])),
        "lookup_p50_s": _median(read_s.get("lookup", [])),
    }


def run(args, spec) -> dict:
    from tracing import EventLog, Tracer
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = args.driver_mem
    local_root = os.path.abspath(args.local_dir)
    local = os.path.join(local_root, f"run-{os.getpid()}")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    base = os.path.join(HERE, ".work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    tracer = Tracer()
    spark = w = None
    try:
        evdir = os.path.join(work, "eventlog")
        t_start = time.time()
        spark = start_spark(cores, event_log=evdir if args.trace else None)
        w = WORKLOADS[args.workload](spark, work, args.seed, tracer)
        w.log.install()
        w.setup()
        setup_s = time.time() - t_start

        a = Phase(w, args.seconds)
        checks = [w.check()]
        e2e = dict(a.e2e, setup_s=setup_s)
        rss = peak_rss_mb(spark)
        attempted, failed = a.attempted, a.failed
        metrics = e2e
        if args.trace:
            # the check's read round is the process's first (cold); a second
            # one gives the warm, untraced read latencies
            warm_reads = w.read_round() if hasattr(w, "read_round") else {}
            checks.append(warm_reads)
            tracer.enabled = True
            install_tracing(tracer)
            gc0 = gc_ms(spark)
            try:
                b = Phase(w, args.seconds)
                gc_delta = gc_ms(spark) - gc0
            finally:
                tracer.unpatch()
                tracer.enabled = False
            probe = flatten_probe(w)
            checks.append(w.check())
            attempted, failed = attempted + b.attempted, failed + b.failed
            spark.stop()
            spark = None
            ev = EventLog(evdir)
            metrics = layer_metrics(w, b, tracer, ev, cores, gc_delta, probe, checks[-1])
            metrics.update(detail_metrics(a, warm_reads.get("read_s", {})))
            metrics["peak_rss_mb"] = rss
            metrics["trace.overhead_throughput_frac"] = (
                1 - b.e2e["throughput_per_s"] / e2e["throughput_per_s"] if b.steps else 0.0)
            metrics["trace.overhead_op_p50_frac"] = (
                b.e2e["op_p50_s"] / e2e["op_p50_s"] - 1 if b.steps else 0.0)
            metrics["replay_scaling_eff_1_to_N"] = 0.0
            if args.workload == "bulk_replay":
                spark = start_spark(1)
                w.bind(spark)
                w.step()  # a fresh context runs its first replay slower
                one = w.step()
                one_rate = one["events"] / one["seconds"]
                metrics["replay_scaling_eff_1_to_N"] = (
                    e2e["throughput_per_s"] / one_rate / cores)
            out_dir = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}")
            tracer.write_jsonl(os.path.join(out_dir, "spans.jsonl"))
            with open(os.path.join(out_dir, "jobs_by_span.json"), "w") as fh:
                json.dump(ev.by_span(tracer.spans), fh, indent=1)
            with open(os.path.join(out_dir, "summary.json"), "w") as fh:
                json.dump({"untraced": e2e, "traced": b.e2e, "checks": checks}, fh,
                          indent=1, default=str)
        attempted += sum(c.get("attempted", 0) for c in checks)
        failed += sum(c.get("failed", 0) for c in checks)
        print(json.dumps({"checks": checks}, default=str), file=sys.stderr)
        want = spec["per_layer"] if args.trace else spec["end_to_end"]
        missing = sorted(set(want) - set(metrics))
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in want.items()},
        }
    finally:
        try:
            if spark is not None:
                spark.stop()
        except Exception:  # e.g. a py4j call cut by SIGTERM; the JVM is stopped below
            traceback.print_exc()
        if w is not None and w.oracle is not None:
            w.oracle.close()
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(local, ignore_errors=True)
        try:
            os.rmdir(local_root)
        except OSError:
            pass  # not empty: another run's directory is still there


def main(argv=None) -> int:
    args = parse_args(argv)
    # the package under test lives at the checkout root (the working
    # directory); the benchmark's own modules live next to this file
    sys.path[:0] = [os.getcwd(), HERE]
    try:
        spec = load_spec()
        import duckdb  # noqa: F401  (the oracle)
        import pyspark  # noqa: F401
        import tap_rest_api_msdk_spark  # noqa: F401  (the system under test)
    except (OSError, ImportError, KeyError, ValueError) as e:
        print(f"cdcbench: cannot run here: {e}", file=sys.stderr)
        return 2
    if args.workload not in spec["workloads"]:
        print(f"cdcbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # a SIGTERM unwinds through run()'s clean-up like an error does
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args, spec)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
