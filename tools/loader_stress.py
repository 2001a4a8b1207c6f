#!/usr/bin/env python
"""Scale-stress the batch Loader's own data path (VERDICT r10 item 1).

Every catalog query has 10x/100x stress rows, but the Loader's M3
contract — "per-batch upsert cost tracks the batch's touched-bucket
volume, not table size" (reference RedshiftLoader.ts:369-384;
sinks/native.py bucketed REPLACE deltas) — was only ever asserted
functionally (tests/test_bucketed_sink.py) and measured at bench scale
(stream_upsert_loader_replay). This tool measures it:

  for k in {1, 10, 100}  (events: 100k / 1M / 10M rows):
    - seed a BUCKETED native table via Loader.trunc_insert, with the
      bucket count scaled to hold rows-per-bucket constant (the real
      deployment posture: you size buckets to the table);
    - drive 3 successive Loader.upsert(dedupe='last') rounds with a
      FIXED 50-key batch and record per-round wall time, Spark jobs
      (the rise in the scheduler's next job id) and how many buckets
      the REPLACE delta actually touched;
    - drive one Loader.insert round (ADDITIVE delta — O(batch) by
      construction) with 50 brand-new keys;
    - do the same seed + one upsert against a default (one-bucket)
      sink — the whole-table-rewrite contrast that shows what the
      bucket count is buying (the ``one_bucket`` section).

``--skew`` measures the hot-bucket case instead: at the largest scale
given in ``--ks`` whose source exists, it seeds the bucketed table and
drives SKEW_ROUNDS upserts of a SKEW_KEYS-key batch whose keys are
SKEW_HOT_SHARE in bucket 0, recording each round's seconds, Spark jobs
and the files the delta wrote into the hot bucket.

Expected shape (and what the artifact records): bucketed upsert time is
governed by min(batch_keys, num_buckets) x bucket_size — constant once
buckets outnumber batch keys — while the one-bucket upsert grows
~linearly with the table, and the job count per upsert does not grow
at all.

Usage:

    python tools/loader_stress.py [OUT.json] [--ks 1,10] [--work DIR]
        [--src10 DIR] [--src100 DIR] [--skew]
    python tools/loader_stress.py --reads [OUT.json] [--work DIR]

``--src10``/``--src100`` name the k=10/k=100 replicas of the base
(``tools/scale_stress.py gen``); a scale whose replica is missing is
recorded as an error and skipped.

``--reads`` measures the read side of appends instead: it appends
READ_DELTAS additive deltas to a 4-, a 16- and a 64-bucket table and,
after each, builds a pinned read and records the plan-build seconds and
the Spark jobs the build ran (Spark lists the files of more than 32
input paths in a job). It prints the JSON and writes it only to an
OUT.json given on the command line, as does ``--skew``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

_TOOLS_DIR = os.path.dirname(os.path.abspath(__file__))
_REPO_ROOT = os.path.dirname(_TOOLS_DIR)
for _p in (_REPO_ROOT, _TOOLS_DIR):
    if _p not in sys.path:
        sys.path.insert(0, _p)

from pyspark.sql import functions as F  # noqa: E402

BATCH_KEYS = 50  # fixed batch size at every scale — the whole point
UPSERT_ROUNDS = 3
# constant ~10k rows/bucket: the "size buckets to the table" posture
BUCKETS = {1: 10, 10: 100, 100: 1000}
SRC = {
    1: None,  # filled from env/base below
    10: "/tmp/rs_sl_sf1",
    100: "/tmp/rs_sl_sf10",
}
WORK = "/tmp/rs_sl_loader_stress"


def _events(spark, src_dir: str):
    from rs_streamloader_spark.session import _read_parquet_nanos_safe

    return _read_parquet_nanos_safe(
        spark, os.path.join(src_dir, "events.parquet")
    ).select("event_id", "ts", "user_id", "event_type", "value")


def _batch(events, round_no: int, new_keys: bool = False, keys: int | None = None):
    """Deterministic fixed-size batch: the ``keys`` (default
    BATCH_KEYS) smallest event_ids (present at every scale — replicas
    offset keys upward), values perturbed per round so each upsert is
    a real change. With new_keys, shift ids past any replica's range
    to exercise the additive-append path instead."""
    b = (
        events.orderBy("event_id")
        .limit(keys or BATCH_KEYS)
        .withColumn("value", F.col("value") + F.lit(float(round_no)))
        .withColumn("event_type", F.lit(f"stress_r{round_no}"))
    )
    if new_keys:
        b = b.withColumn(
            "event_id", F.col("event_id") + F.lit(10_000_000_000_000)
        )
    return b


def _loader(spark, sink, stage_root: str, body):
    from rs_streamloader_spark.loader import Loader

    return Loader(
        spark,
        options={
            "table": "wh.events_stress",
            "id_field": "event_id",
            "staging_format": "parquet",
            "s3_cleanup": "ALWAYS",
        },
        staging_root=stage_root,
        sink=sink,
        body=body,
    )


def _jobs_and_secs(spark, fn):
    """(result, wall seconds, Spark jobs) of ``fn()``. Jobs are the
    rise in the scheduler's next job id, which job groups and status
    store eviction cannot disturb."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = int(dag.nextJobId())
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0, int(dag.nextJobId()) - j0


def _timed_upsert(spark, loader) -> tuple[float, int]:
    """(wall seconds, Spark jobs) of one ``upsert(dedupe='last')``."""
    _, secs, jobs = _jobs_and_secs(spark, lambda: loader.upsert(dedupe="last"))
    return round(secs, 2), jobs


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _newest_commit(table_root: str, kind: str) -> str | None:
    from rs_streamloader_spark.sinks.native import _version_of

    best: tuple[int, str] | None = None
    for name in os.listdir(table_root):
        v = _version_of(name)
        if v and v[1] == kind and (best is None or v[0] > best[0]):
            best = (v[0], name)
    return None if best is None else os.path.join(table_root, best[1])


def _touched_buckets(table_root: str) -> tuple[int | None, int | None]:
    """(bucket subdirs, bytes) of the newest REPLACE delta commit — the
    physical evidence of how much table the upsert rewrote. Wall time
    at 100k-10M rows is overhead-dominated on local[32]; rewritten
    BYTES is the number that becomes wall time at 100 TB."""
    ddir = _newest_commit(table_root, "delta")
    if ddir is None:
        return None, None
    nb = sum(1 for n in os.listdir(ddir) if n.startswith("__b="))
    return nb, _dir_bytes(ddir)


def run(spark, base_sf: str, ks=(1, 10, 100)) -> dict:
    from rs_streamloader_spark.sinks.native import NativeTableSink

    SRC[1] = base_sf
    out: dict = {"batch_keys": BATCH_KEYS, "bucketed": {}, "one_bucket": {}}
    for k in ks:
        src = SRC[k]
        if not os.path.isdir(src):
            out["bucketed"][f"k{k}"] = {"err": f"missing scaled dir {src}"}
            continue
        events = _events(spark, src)
        n_rows = events.count()
        root = os.path.join(WORK, f"k{k}")
        shutil.rmtree(root, ignore_errors=True)

        # ---- bucketed table ------------------------------------------
        tbl = os.path.join(root, "tbl")
        sink = NativeTableSink(
            spark, tbl, num_buckets=BUCKETS[k], bucket_by="event_id"
        )
        t0 = time.perf_counter()
        _loader(spark, sink, os.path.join(root, "st_seed"), events).trunc_insert()
        seed_s = round(time.perf_counter() - t0, 2)

        upserts, jobs, touched, rewritten = [], [], [], []
        for r in range(1, UPSERT_ROUNDS + 1):
            ld = _loader(spark, sink, os.path.join(root, f"st_u{r}"), _batch(events, r))
            secs, njobs = _timed_upsert(spark, ld)
            upserts.append(secs)
            jobs.append(njobs)
            nb, nbytes = _touched_buckets(tbl)
            touched.append(nb)
            rewritten.append(nbytes)

        t0 = time.perf_counter()
        _loader(
            spark, sink, os.path.join(root, "st_ins"), _batch(events, 9, True)
        ).insert()
        insert_s = round(time.perf_counter() - t0, 2)
        final_rows = sink.read().count()

        out["bucketed"][f"k{k}"] = {
            "table_rows": n_rows,
            "num_buckets": BUCKETS[k],
            "seed_s": seed_s,
            "upsert_s": upserts,
            "upsert_jobs": jobs,
            "buckets_touched": touched,
            "upsert_rewritten_bytes": rewritten,
            "table_bytes": _dir_bytes(tbl),
            "insert_s": insert_s,
            "final_rows": final_rows,
            "rows_ok": final_rows == n_rows + BATCH_KEYS,
        }
        print(f"[bucketed k={k}] {out['bucketed'][f'k{k}']}", flush=True)

        # ---- one-bucket contrast (whole-table rewrite) --------------
        one_tbl = os.path.join(root, "one_bucket")
        one = NativeTableSink(spark, one_tbl)
        t0 = time.perf_counter()
        _loader(spark, one, os.path.join(root, "st_fseed"), events).trunc_insert()
        fseed_s = round(time.perf_counter() - t0, 2)
        ld = _loader(spark, one, os.path.join(root, "st_fu"), _batch(events, 1))
        fup_s, fup_jobs = _timed_upsert(spark, ld)
        _, fbytes = _touched_buckets(one_tbl)
        out["one_bucket"][f"k{k}"] = {
            "table_rows": n_rows,
            "seed_s": fseed_s,
            "upsert_s": [fup_s],
            "upsert_jobs": [fup_jobs],
            "upsert_rewritten_bytes": [fbytes],
        }
        print(f"[one_bucket k={k}] {out['one_bucket'][f'k{k}']}", flush=True)
        shutil.rmtree(root, ignore_errors=True)

    # headline ratios: table grew 10x between k=10 and k=100 — bucketed
    # upsert should hold ~constant, the whole-table rewrite should not
    try:
        b10 = min(out["bucketed"]["k10"]["upsert_s"])
        b100 = min(out["bucketed"]["k100"]["upsert_s"])
        f10 = out["one_bucket"]["k10"]["upsert_s"][0]
        f100 = out["one_bucket"]["k100"]["upsert_s"][0]
        out["upsert_time_ratio_k10_to_k100"] = {
            "bucketed": round(b100 / max(b10, 1e-9), 2),
            "one_bucket": round(f100 / max(f10, 1e-9), 2),
        }
        bb10 = min(out["bucketed"]["k10"]["upsert_rewritten_bytes"])
        bb100 = min(out["bucketed"]["k100"]["upsert_rewritten_bytes"])
        fb10 = out["one_bucket"]["k10"]["upsert_rewritten_bytes"][0]
        fb100 = out["one_bucket"]["k100"]["upsert_rewritten_bytes"][0]
        out["upsert_rewritten_bytes_ratio_k10_to_k100"] = {
            "bucketed": round(bb100 / max(bb10, 1), 2),
            "one_bucket": round(fb100 / max(fb10, 1), 2),
        }
    except (KeyError, IndexError, TypeError):
        pass
    return out


SKEW_KEYS = 5000
SKEW_HOT_SHARE = 0.9
SKEW_ROUNDS = 5


def run_skew(spark, base_sf: str, ks) -> dict:
    """Hot-bucket upserts at the largest scale in ``ks`` whose source
    exists: SKEW_HOT_SHARE of a SKEW_KEYS-key batch hashes to bucket 0,
    the rest spreads over the other buckets. Every round rewrites the
    same keys with new values, so each delta holds the same rows."""
    from rs_streamloader_spark.sinks.native import NativeTableSink

    SRC[1] = base_sf
    k = max(k for k in ks if SRC[k] and os.path.isdir(SRC[k]))
    events = _events(spark, SRC[k])
    buckets = BUCKETS[k]
    bucket = F.pmod(F.hash(F.col("event_id").cast("string")), F.lit(buckets))
    hot_n = int(SKEW_KEYS * SKEW_HOT_SHARE)
    keys = (
        events.where(bucket == 0).orderBy("event_id").limit(hot_n)
        .unionByName(
            events.where(bucket != 0).orderBy("event_id").limit(SKEW_KEYS - hot_n)
        )
        .cache()
    )
    root = os.path.join(WORK, f"skew_k{k}")
    shutil.rmtree(root, ignore_errors=True)
    tbl = os.path.join(root, "tbl")
    sink = NativeTableSink(spark, tbl, num_buckets=buckets, bucket_by="event_id")
    _loader(spark, sink, os.path.join(root, "st_seed"), events).trunc_insert()
    out: dict = {
        "k": k,
        "num_buckets": buckets,
        "batch_keys": SKEW_KEYS,
        "hot_share": SKEW_HOT_SHARE,
        "upsert_s": [],
        "upsert_jobs": [],
        "hot_bucket_files": [],
    }
    for r in range(SKEW_ROUNDS):
        body = keys.withColumn("value", F.col("value") + F.lit(float(r)))
        ld = _loader(spark, sink, os.path.join(root, f"st_{r}"), body)
        secs, jobs = _timed_upsert(spark, ld)
        hot = os.path.join(_newest_commit(tbl, "delta"), "__b=0")
        out["upsert_s"].append(secs)
        out["upsert_jobs"].append(jobs)
        out["hot_bucket_files"].append(
            sum(1 for f in os.listdir(hot) if f.endswith(".parquet"))
        )
    out["table_rows"] = sink.read().count()
    out["median_s"] = sorted(out["upsert_s"])[SKEW_ROUNDS // 2]
    keys.unpersist()
    shutil.rmtree(root, ignore_errors=True)
    print(f"[skew k={k}] {out}", flush=True)
    return out


READ_BUCKETS = (4, 16, 64)
READ_DELTAS = 16
READ_REPEATS = 5  # pinned reads timed at the last delta count


def run_reads(spark) -> dict:
    """Plan-build cost of a pinned read as additive deltas pile up: a
    base of 64 rows per bucket, then READ_DELTAS appends of 16 new rows
    per bucket; after each append one ``snapshot().read()`` is built,
    and at the last count READ_REPEATS more are built and the median
    taken. Row counts are checked once at the end, outside the
    timing."""
    from rs_streamloader_spark.sinks.native import NativeTableSink

    def rows(lo, n):
        return spark.range(lo, lo + n).select("id", (F.col("id") * 7).alias("value"))

    out: dict = {"deltas": READ_DELTAS, "tables": {}}
    for buckets in READ_BUCKETS:
        root = os.path.join(WORK, f"reads_b{buckets}")
        shutil.rmtree(root, ignore_errors=True)
        sink = NativeTableSink(
            spark, os.path.join(root, "tbl"), num_buckets=buckets, bucket_by="id"
        )
        sink.trunc_insert(rows(0, 64 * buckets))
        expected = 64 * buckets
        per_delta = []
        for d in range(1, READ_DELTAS + 1):
            sink.insert(rows(1_000_000 * d, 16 * buckets))
            expected += 16 * buckets
            with sink.snapshot() as pin:
                _, secs, jobs = _jobs_and_secs(spark, pin.read)
            per_delta.append({"deltas": d, "build_s": round(secs, 3), "jobs": jobs})
        builds = []
        with sink.snapshot() as pin:
            for _ in range(READ_REPEATS):
                df, secs, jobs = _jobs_and_secs(spark, pin.read)
                builds.append((secs, jobs))
            got = df.count()
        if got != expected:
            raise RuntimeError(f"{buckets} buckets: read {got} rows, want {expected}")
        builds.sort()
        median_s = round(builds[len(builds) // 2][0], 3)
        jobs = max(j for _, j in builds)
        out["tables"][f"b{buckets}"] = {
            "num_buckets": buckets,
            "build_s_median": median_s,
            "jobs": jobs,
            "per_delta": per_delta,
        }
        print(f"[reads b={buckets}] build {median_s}s, {jobs} jobs", flush=True)
        shutil.rmtree(root, ignore_errors=True)
    return out


def run_batch_size_sweep(spark, src: str, k: int = 10) -> dict:
    """The OTHER axis of the M3 contract: fix the table (k=10 replica,
    1M rows, 100 buckets) and sweep the BATCH — upsert cost must grow
    with batch size (specifically with min(batch_keys, num_buckets) ×
    bucket size in rewritten bytes), which together with the
    table-size sweep pins 'cost tracks batch, not table' from both
    directions."""
    from rs_streamloader_spark.sinks.native import NativeTableSink

    events = _events(spark, src)
    out: dict = {}
    for keys in (10, 100, 1000, 10000):
        root = os.path.join(WORK, f"bs{keys}")
        shutil.rmtree(root, ignore_errors=True)
        tbl = os.path.join(root, "tbl")
        sink = NativeTableSink(
            spark, tbl, num_buckets=BUCKETS[k], bucket_by="event_id"
        )
        _loader(spark, sink, os.path.join(root, "st_seed"), events).trunc_insert()
        body = _batch(events, 1, keys=keys)
        t0 = time.perf_counter()
        _loader(spark, sink, os.path.join(root, "st_u"), body).upsert(
            dedupe="last"
        )
        nb, nbytes = _touched_buckets(tbl)
        out[f"keys{keys}"] = {
            "upsert_s": round(time.perf_counter() - t0, 2),
            "buckets_touched": nb,
            "rewritten_bytes": nbytes,
        }
        print(f"[batch-sweep keys={keys}] {out[f'keys{keys}']}", flush=True)
        shutil.rmtree(root, ignore_errors=True)
    return out


def main() -> None:
    global WORK
    ap = argparse.ArgumentParser(description="Loader upsert scale stress")
    ap.add_argument("out", nargs="?", default=None)
    ap.add_argument("--ks", default="1,10,100", help="scales to run")
    ap.add_argument("--work", default=WORK, help="directory for the tables and stages")
    ap.add_argument("--src10", default=SRC[10], help="k=10 replica dir")
    ap.add_argument("--src100", default=SRC[100], help="k=100 replica dir")
    ap.add_argument(
        "--reads", action="store_true",
        help="measure pinned-read plan builds over many deltas instead",
    )
    ap.add_argument(
        "--skew", action="store_true",
        help="measure hot-bucket upserts instead",
    )
    args = ap.parse_args()
    WORK, SRC[10], SRC[100] = args.work, args.src10, args.src100
    from rs_streamloader_spark.session import get_session

    spark = get_session(app_name="rs_sl_loader_stress")
    spark.sparkContext.setLogLevel("ERROR")
    if args.reads:
        result = run_reads(spark)
        print(json.dumps(result, sort_keys=True))
        if args.out:
            with open(args.out, "w") as fh:
                json.dump(result, fh, indent=1, sort_keys=True)
                fh.write("\n")
        return
    if args.out is None and not args.skew:
        args.out = os.path.join(_REPO_ROOT, "SCALE_STRESS_r11_loader.json")
    base_sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ks = tuple(int(k) for k in args.ks.split(","))
    if args.skew:
        result = run_skew(spark, base_sf, ks)
        print(json.dumps(result, sort_keys=True))
    else:
        result = run(spark, base_sf, ks)
        if os.path.isdir(SRC[10]):
            result["batch_size_sweep_k10"] = run_batch_size_sweep(spark, SRC[10])
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
