"""Benchmark of the loader, the sink and the curation operators.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 15 --trace 0

Workloads: ``cdc_upsert``, ``append_scan``, ``curate`` (see README.md
beside this file). The inputs are made from ``--seed``; the measured
window lasts ``--seconds``. With ``--trace 0`` the last line of stdout
is the result with the end-to-end metrics; with ``--trace 1`` public
functions of each layer are wrapped in spans and the result carries
the per-layer metrics instead. The line before the result is the host
context of the run. Spans, metrics and context are also written to
``.perfbench_out/`` in the checkout. All state lives under
``.perfbench_run/`` in the checkout and is deleted on exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_BASE = os.path.join(ROOT, ".perfbench_run")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

# Fixed so that runs compare: set-based iteration order in the program
# and the session shape. Both are recorded in the run's context.
HASH_SEED = "0"
CORES = 2
SESSION_CONF = {
    "spark.sql.shuffle.partitions": "4",
    "spark.driver.memory": "2g",
    "spark.ui.showConsoleProgress": "false",
}
# set-up of the workload's data and table is repeated this many times
# (each into fresh directories) and its median is reported in setup_s
SETUP_REPEATS = 3


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def reexec_if_needed(run_dir: str) -> None:
    """Re-run this interpreter with the fixed hash seed and every temp
    directory (Python's and the JVM's) inside the run directory. The
    process is replaced, not forked."""
    tmp = os.path.join(run_dir, "tmp")
    if os.environ.get("PYTHONHASHSEED") == HASH_SEED and os.environ.get("TMPDIR") == tmp:
        return
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ, PYTHONHASHSEED=HASH_SEED, TMPDIR=tmp,
               PYTHONDONTWRITEBYTECODE="1")
    os.execve(sys.executable, [sys.executable, *sys.argv], env)


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: host speed context."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t


def code_rev() -> dict:
    """The git revision when the checkout is a git repository, and a
    digest of the program's source files in any case."""
    rev = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as fh:
            ref = fh.read().strip()
        rev = ref
        if ref.startswith("ref: "):
            rev = ref[5:]
            p = os.path.join(ROOT, ".git", rev)
            if os.path.exists(p):
                with open(p) as fh:
                    rev = fh.read().strip()
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "rs_streamloader_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return {"git_rev": rev, "source_sha256": h.hexdigest()[:16]}


def start_session(run_dir: str):
    """The program's own session factory, with every directory Spark
    writes to inside the run directory. Returns the session, the
    config it was given and the seconds the factory took."""
    from rs_streamloader_spark import session

    local = os.path.join(run_dir, "local")
    os.makedirs(local, exist_ok=True)
    conf = dict(
        SESSION_CONF,
        **{
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -Xms2g -XX:-UsePerfData"
            ),
        },
    )
    t = time.perf_counter()
    spark = session.get_session(
        app_name="perfbench", master=f"local[{CORES}]", extra_conf=conf
    )
    return spark, conf, time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def streaming_listener(tracer):
    """A listener recording each micro-batch's phase durations."""
    from pyspark.sql.streaming import StreamingQueryListener

    class PhaseListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            tracer.spans.append(
                {"name": "streaming.progress", "op": tracer.op,
                 "duration_ms": dict(event.progress.durationMs)}
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return PhaseListener()


def install_spans(tracer, spark) -> None:
    from rs_streamloader_spark import loader
    from rs_streamloader_spark.sinks import native
    from rs_streamloader_spark.streaming import ingest

    p = tracer.patch
    p(loader, "to_dataframe", "sources.to_dataframe")
    p(loader, "write_manifest", "staging.write_manifest")
    p(loader, "delete_stage", "staging.delete_stage")

    def staged(rec, stage):
        rec["stage_files"] = len(stage.files)
        rec["stage_bytes"] = sum(
            os.path.getsize(f.removeprefix("file:")) for f in stage.files
        )

    p(loader, "write_stage", "staging.write_stage", record=staged)
    p(loader.Loader, "upsert", "loader.upsert")
    p(loader.Loader, "trunc_insert", "loader.trunc_insert")
    p(native.NativeTableSink, "upsert", "sink.upsert", details=True, fs_diff=True)
    p(native.NativeTableSink, "insert_batch", "sink.insert_batch", fs_diff=True)
    p(native.NativeTableSink, "compact", "sink.compact", fs_diff=True)
    p(native.NativeTableSink, "snapshot", "sink.snapshot")
    p(native.SnapshotPin, "read", "sink.read")
    p(ingest.StreamingLoader, "run_available", "streaming.run_available")
    spark.streams.addListener(streaming_listener(tracer))


def layer_metrics(tracer, ops: list, k: int) -> dict:
    """Per-layer metrics from the spans of the first ``k`` measured
    ops: medians per call for times and per-call counts, totals over
    the ``k`` ops for call counts."""
    from tracing import median_of, self_times
    from workloads import CURATE_CHAIN

    spans = tracer.measured(k)
    timed = [s for s in spans if "end" in s]
    selfs = self_times(timed)

    def named(n):
        return [s for s in timed if s["name"] == n]

    def med(n, key):
        return median_of([s[key] for s in named(n)])

    def dur(n):
        return median_of([s["end"] - s["start"] for s in named(n)])

    loaders = [s for s in timed if s["name"].startswith("loader.")]
    m = {
        "loader.self_s": median_of([selfs[s["id"]] for s in loaders]),
        "loader.jobs": median_of([s["jobs"] for s in loaders]),
        "sources.to_dataframe_s": dur("sources.to_dataframe"),
        "staging.write_stage_s": dur("staging.write_stage"),
        "staging.write_stage_jobs": med("staging.write_stage", "jobs"),
        "staging.stage_files": med("staging.write_stage", "stage_files"),
        "staging.stage_bytes": med("staging.write_stage", "stage_bytes"),
        "staging.write_manifest_s": dur("staging.write_manifest"),
        "staging.delete_stage_s": dur("staging.delete_stage"),
        "sink.upsert_s": dur("sink.upsert"),
        "sink.upsert_jobs": med("sink.upsert", "jobs"),
        "sink.upsert_tasks": med("sink.upsert", "tasks"),
        "sink.upsert_buckets_touched": med("sink.upsert", "buckets_touched"),
        "sink.upsert_bytes_written": med("sink.upsert", "bytes_written"),
        "sink.upsert_files_written": med("sink.upsert", "files_written"),
        "sink.insert_batch_s": dur("sink.insert_batch"),
        "sink.insert_batch_jobs": med("sink.insert_batch", "jobs"),
        "sink.insert_batch_files_written": med("sink.insert_batch", "files_written"),
        "sink.compact_s": dur("sink.compact"),
        "sink.compact_calls": len(named("sink.compact")),
        "sink.compact_bytes_rewritten": med("sink.compact", "bytes_written"),
        "sink.snapshot_s": dur("sink.snapshot"),
        "sink.read_s": dur("sink.read"),
        "sink.read_files": median_of([o.info["read_files"] for o in ops[:k]]),
        "sink.version_dirs": median_of([o.info["version_dirs"] for o in ops[:k]]),
        "streaming.run_available_s": dur("streaming.run_available"),
        "streaming.batches": median_of([o.info.get("batches", 0) for o in ops[:k]]),
    }
    progress = [s["duration_ms"] for s in spans if s["name"] == "streaming.progress"]
    for phase, key in (
        ("trigger_ms", "triggerExecution"),
        ("add_batch_ms", "addBatch"),
        ("get_batch_ms", "getBatch"),
        ("query_planning_ms", "queryPlanning"),
        ("wal_commit_ms", "walCommit"),
        ("commit_offsets_ms", "commitOffsets"),
    ):
        # a trigger that finds no new file reports no addBatch phase
        m[f"streaming.{phase}"] = median_of(
            [d[key] for d in progress if "addBatch" in d and key in d]
        )
    for q in CURATE_CHAIN:
        b, e = named(f"{q}.build"), named(f"{q}.exec")
        m[f"{q}.build_s"] = dur(f"{q}.build")
        m[f"{q}.exec_s"] = dur(f"{q}.exec")
        both = b + e
        for key in ("jobs", "stages", "tasks", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "run_ms", "cpu_ms",
                    "gc_ms"):
            m[f"{q}.{key}"] = sum(s[key] for s in both) / max(1, len(b))
        m[f"{q}.skew"] = max([s["skew"] for s in both], default=0.0)
    root = named("op")
    m["spark.jobs"] = med("op", "jobs")
    m["spark.tasks"] = med("op", "tasks")
    m["spark.shuffle_bytes"] = median_of(
        [s["shuffle_read_bytes"] + s["shuffle_write_bytes"] for s in root]
    )
    m["spark.gc_ms"] = med("op", "gc_ms")
    return m


def main(argv) -> int:
    if not (
        os.path.isdir(os.path.join(ROOT, "rs_streamloader_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    run_dir = os.path.join(RUN_BASE, f"{args.workload}-{os.getpid()}")
    reexec_if_needed(run_dir)
    # a terminated run still stops Spark and deletes its state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path[:0] = [ROOT, HERE]
    try:
        return measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(RUN_BASE)
        except OSError:
            pass


def measure(args, run_dir: str) -> int:
    from tracing import Tracer, walk_sizes, written
    from workloads import WORKLOADS

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "loadavg_start": os.getloadavg(),
        "cpu_probe_s_start": cpu_probe(),
        "pythonhashseed": os.environ.get("PYTHONHASHSEED"),
        **code_rev(),
    }
    tracer = None
    spark, conf, get_session_s = start_session(run_dir)
    session_s = time.perf_counter() - T_START
    context["session_conf"] = {
        "master": f"local[{CORES}]",
        **{k: v for k, v in conf.items() if not k.endswith((".dir", "Options"))},
    }
    status = 1
    try:
        wl_cls = WORKLOADS[args.workload]
        if args.trace:
            tracer = Tracer(spark)
            install_spans(tracer, spark)
        wl = wl_cls(spark, args.seed, run_dir, tracer)
        prep = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t)
        if tracer is not None:
            tracer.table_root = wl.table_root
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(prep) + warm_s

        ops, failed, written_bytes = [], 0, 0
        w0 = time.perf_counter()
        for _ in range(wl.op_count(args.seconds)):
            before = walk_sizes(wl.table_root)
            if tracer is not None:
                tracer.op = len(ops)
            t = time.perf_counter()
            try:
                if tracer is not None:
                    with tracer.span("op", details=True):
                        res = wl.op()
                else:
                    res = wl.op()
            except Exception:
                traceback.print_exc()
                failed += 1
                ops.append(None)
                continue
            finally:
                if tracer is not None:
                    tracer.op = None
            res.info["op_s"] = time.perf_counter() - t
            written_bytes += written(before, walk_sizes(wl.table_root))[0]
            failed += 0 if res.ok else 1
            ops.append(res)
        window = time.perf_counter() - w0
        ok_final, live_rows = wl.finish()
        done = [o for o in ops if o is not None]
        table_bytes = sum(v[0] for v in walk_sizes(wl.table_root).values())
        e2e = {
            "setup_s": (setup_s, "s"),
            "op_s_p50": (statistics.median(o.info["op_s"] for o in done), "s"),
            "write_s_p50": (statistics.median(o.write_s for o in done), "s"),
            "read_s_p50": (statistics.median(o.read_s for o in done), "s"),
            "rows_per_s": (sum(o.rows for o in done) / window, "rows/s"),
            "write_amp": (written_bytes / sum(o.in_bytes for o in done), "ratio"),
            "bytes_per_row": (table_bytes / live_rows, "B/row"),
        }
        context.update(
            ops=len(ops),
            per_op={
                "op_s": [o.info["op_s"] for o in done],
                "write_s": [o.write_s for o in done],
                "read_s": [o.read_s for o in done],
            },
            window_s=window,
            setup_parts_s={"session": session_s, "prepare": prep, "warm_up": warm_s},
            loadavg_end=os.getloadavg(),
            cpu_probe_s_end=cpu_probe(),
        )
        if getattr(wl, "planted", None):
            context["planted"] = wl.planted
        if tracer is not None:
            layers = layer_metrics(tracer, done, wl.trace_ops)
            layers["session.get_session_s"] = get_session_s
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        correct = ok_final and failed == 0
        result = {
            "correct": correct,
            "attempted": len(ops),
            "failed": failed + (0 if ok_final else 1),
            "metrics": metrics,
        }
        save(args, context, {k: v for k, (v, _) in e2e.items()}, tracer)
        print(json.dumps({"context": context}))
        print(json.dumps(result))
        status = 0
    finally:
        if tracer is not None:
            tracer.unpatch()
        stop_session(spark)
    return status


def _unit(name: str) -> str:
    tail = name.rsplit(".", 1)[-1]
    if tail.endswith("_s"):
        return "s"
    if tail.endswith("_ms"):
        return "ms"
    if "bytes" in tail:
        return "B"
    if tail == "skew":
        return "ratio"
    return "count"


def save(args, context: dict, e2e: dict, tracer) -> None:
    """Write the run's record to ``.perfbench_out/``. A traced run also
    writes its spans and the tracing overhead: its end-to-end figures
    against those of the latest untraced run of the same workload."""
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    record = {"context": context, "end_to_end": e2e}
    if tracer is not None:
        base = os.path.join(OUT_DIR, f"{args.workload}-latest-trace0.json")
        if os.path.exists(base):
            with open(base) as fh:
                plain = json.load(fh)["end_to_end"]
            record["tracing_overhead"] = {
                k: e2e[k] / plain[k] - 1.0 for k in e2e if plain.get(k)
            }
        with open(stem + "-spans.json", "w") as fh:
            json.dump(tracer.spans, fh)
    for path in (stem + ".json",) + (
        () if tracer else (os.path.join(OUT_DIR, f"{args.workload}-latest-trace0.json"),)
    ):
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
