"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]``; the configs below are chosen so
the same code scales to a multi-executor cluster: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), broadcast
threshold generous for the small dimension tables, Arrow enabled for
the Pandas-UDF paths.
"""

from __future__ import annotations

import logging
import os
import sys
import threading
from collections import OrderedDict

from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)
_ENV_WARNED: set[tuple[str, str]] = set()


def env_int(name: str, default: int, lo: int | None = None) -> int:
    """Integer env knob ``name``: ``default`` when unset or malformed,
    ``lo`` when set below it. A fallback or a clamp logs one warning
    per (knob, value) and never raises, so a bad value cannot crash a
    module import."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    try:
        value = int(raw)
    except ValueError:
        value, msg = default, "ignoring malformed %s=%r; using %d"
    else:
        if lo is None or value >= lo:
            return value
        value, msg = lo, "%s=%r is below the floor; using %d"
    if (name, raw) not in _ENV_WARNED:
        _ENV_WARNED.add((name, raw))
        _LOG.warning(msg, name, raw, value)
    return value


def _cpus() -> int:
    """``SPARK_GRAFT_CPUS``: the local master's core count and the
    default shuffle width (32 when unset or malformed, at least 1)."""
    return env_int("SPARK_GRAFT_CPUS", 32, lo=1)


DEFAULT_SHUFFLE_PARTITIONS = _cpus()

# executor Python workers inherit PYTHONPATH (not the driver's
# sys.path); make our package importable for Pandas-UDF operators
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _PKG_ROOT not in sys.path:
    sys.path.insert(0, _PKG_ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in [_PKG_ROOT, os.environ.get("PYTHONPATH", "")] if p
)


def get_session(
    app_name: str = "rs_streamloader_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_cpus()}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # DataFrame call-site capture (spark.python.sql.dataFrameDebugging,
        # default on) wraps EVERY PySpark DataFrame/Column API call in up
        # to 3 extra py4j round-trips + a Python stack walk purely to
        # enrich error messages with the Python call site. Plan
        # CONSTRUCTION is pure driver-side py4j chatter at any cluster
        # size, and profiling showed it was ~35% of sub-second catalog
        # query cost, ~40% of it this wrapper (A/B: 3.47s -> 2.25s build
        # over a fixed 30-query tail sample, min-of-2x3 alternating
        # processes). Production posture: fast plans, plain stack traces.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def spread(df, multiple: int = 1):
    """Repartition a narrow input to the session's default parallelism
    before a heavy per-row fan-out (shingling, signature hashing, block
    replication).

    No-op when the scan already yields at least that many splits —
    which any real-scale table does — so this only kicks in for small
    inputs where the expansion would otherwise run on a few cores.

    The width probe is max(file count, scan bytes ÷
    ``spark.sql.files.maxPartitionBytes``) — both driver-side plan
    metadata, NOT ``df.rdd.getNumPartitions()``: converting to an RDD
    builds the physical plan's lineage on the driver per call — a
    sneaky repeated cost when operators compose (ADVICE r2). The size
    term matters because file count alone under-reports splits of
    large splittable files: 8 × 2 GB parquet files already scan as
    ~128 splits, and a bare file-count probe would bolt a full-input
    repartition shuffle onto exactly the big inputs that least need
    one. Non-file sources report zero files and get spread, same as
    the narrow case they are."""
    spark = df.sparkSession
    sc = spark.sparkContext
    target = sc.defaultParallelism * multiple
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plans
        n_files = 0
    est_splits = n_files
    if 0 < n_files < target:
        try:
            raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            size_bytes = raw if isinstance(raw, int) else int(raw.toString())
            max_pb = _parse_bytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
            )
            est_splits = max(n_files, -(-size_bytes // max_pb))
        except Exception:  # stats unavailable: fall back to file count
            pass
    if est_splits < target:
        return df.repartition(target)
    return df


_SIZE_SUFFIX = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _parse_bytes(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728', '128m',
    '134217728b', '1g')."""
    s = v.strip().lower()
    for suffix in ("kb", "mb", "gb", "tb", "b", "k", "m", "g", "t"):
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * _SIZE_SUFFIX[suffix[0]])
    return int(s)


# RLock, not Lock: stage builders COMPOSE (the jaccard pair graph's
# build() calls stage_cached for the shingle stage) — a non-reentrant
# lock deadlocks the nested acquisition on the same thread
_STAGE_CACHE: OrderedDict = OrderedDict()
_STAGE_LOCK = threading.RLock()
# Capacity must exceed the catalog's distinct stage count (18 as of
# r15) or a full sweep GUARANTEES mid-run evictions: an evicted stage
# is silently rebuilt inside whichever query touches it next (r15
# measured the replay_events rebuild re-paying the nanos-fallback
# probe mid-bench). 32 = headroom over the 18 live keys; env-tunable
# for memory-constrained deployments, still LRU-bounded so a
# long-lived session spanning many sf_dirs cannot pin unbounded
# executor storage.
def _stage_cache_max() -> int:
    """Parse SPARK_GRAFT_STAGE_CACHE_MAX defensively (ADVICE r15): a
    non-integer value falls back to the default instead of crashing
    module import, and the floor of 18 (the catalog's live stage-key
    count) keeps a too-small override from reintroducing the
    guaranteed mid-sweep eviction documented above. Both log a
    warning."""
    return env_int("SPARK_GRAFT_STAGE_CACHE_MAX", 32, lo=18)


_STAGE_CACHE_MAX = _stage_cache_max()


def stage_cached(spark: SparkSession, sf_dir: str, key: str, build):
    """Memoize a ``.cache()``-ed DataFrame per (application, sf_dir,
    stage key). Operator families that share an expensive intermediate
    (the dedup family's shingle table, the similarity family's
    normed-embedding table) register it here, so a catalog sweep — the
    driver's correctness pass, bench.py — computes it once instead of
    once per query. On a long-lived cluster this is the shared curation
    stage: one materialized intermediate feeding several consumers.

    Entries are LRU-bounded at {_STAGE_CACHE_MAX}: evicted stages are
    unpersisted so a long-lived session spanning many sf_dirs cannot
    pin unbounded executor storage, and the check-then-build runs under
    a lock so concurrent callers cannot double-build and leak a
    persisted copy (ADVICE r2)."""
    k = (spark.sparkContext.applicationId, sf_dir, key)
    with _STAGE_LOCK:
        df = _STAGE_CACHE.get(k)
        if df is not None:
            _STAGE_CACHE.move_to_end(k)
            return df
        df = build().cache()  # lazy: materializes on first action, not here
        _STAGE_CACHE[k] = df
        while len(_STAGE_CACHE) > _STAGE_CACHE_MAX:
            _, old = _STAGE_CACHE.popitem(last=False)
            try:
                old.unpersist()
            except Exception:
                pass  # a dead session's cache entries are already gone
        return df


# external memo registries cleared alongside the stage cache: families
# whose shared unit is not one cacheable DataFrame (e.g. the unigram
# trainer's pair of checkpointed tables) register their dict here so
# "cold per-operator timing" means cold for them too
_EXTERNAL_STAGE_CACHES: list = []


def register_stage_cache(d: dict) -> None:
    _EXTERNAL_STAGE_CACHES.append(d)


def clear_stage_cache(unpersist: bool = True) -> None:
    """Drop every memoized stage (optionally unpersisting) — used by
    bench runs that need cold per-operator timings."""
    with _STAGE_LOCK:
        while _STAGE_CACHE:
            _, df = _STAGE_CACHE.popitem(last=False)
            if unpersist:
                try:
                    df.unpersist()
                except Exception:
                    pass
        for d in _EXTERNAL_STAGE_CACHES:
            d.clear()
        _TABLE_CACHE.clear()


# Analyzed-plan memo for the base tables: building a parquet
# DataFrame costs a file listing + footer schema resolution every
# call (~0.2s/table measured at sf0.1), and every catalog query
# constructs its inputs through load_tables — so a 474-query sweep
# paid that setup thousands of times (guide §1.2: per-task work after
# algorithm; this is per-QUERY work that isn't work at all). The memo
# plays the role a metastore catalog plays on a real cluster: table
# METADATA (path set + schema) resolves once per (application,
# sf_dir, table). No data is cached or persisted — the returned plan
# re-scans parquet on every action, exactly as before.
_TABLE_CACHE: OrderedDict = OrderedDict()
_TABLE_CACHE_MAX = 256
# name -> (appId, sf_dir) the temp view currently points at: view
# re-registration costs ~30ms of catalog round-trips per table, so
# skip it when the view already points at exactly this table
_VIEW_REG: dict = {}


def clear_table_cache() -> None:
    """Drop the table-plan memo (paired with clear_stage_cache for
    cold-session semantics; also the escape hatch for a caller that
    rewrites a table directory in place mid-session)."""
    with _STAGE_LOCK:
        _TABLE_CACHE.clear()
        _VIEW_REG.clear()


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read the given parquet tables from ``sf_dir`` and register each
    as a temp view; returns a dict of DataFrames.

    The testdata's ``events.ts`` is parquet TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects; we read it as long nanos
    (``nanosAsLong``) and rebuild a microsecond timestamp (the values
    are micro-aligned, so this matches DuckDB's own NANOS→micros
    conversion exactly)."""
    out = {}
    app_id = spark.sparkContext.applicationId
    for name in names:
        key = (app_id, sf_dir, name)
        with _STAGE_LOCK:
            df = _TABLE_CACHE.get(key)
            if df is not None:
                _TABLE_CACHE.move_to_end(key)
        if df is None:
            df = _read_parquet_nanos_safe(
                spark, os.path.join(sf_dir, f"{name}.parquet")
            )
            with _STAGE_LOCK:
                _TABLE_CACHE[key] = df
                while len(_TABLE_CACHE) > _TABLE_CACHE_MAX:
                    _TABLE_CACHE.popitem(last=False)
        with _STAGE_LOCK:
            stale = _VIEW_REG.get(name) != key
            if stale:
                _VIEW_REG[name] = key
        if stale:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def _read_parquet_nanos_safe(spark: SparkSession, path: str):
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    try:
        df = spark.read.parquet(path)
        df.schema  # force schema resolution
    except AnalysisException as exc:
        if "TIMESTAMP(NANOS" not in str(exc):
            raise
        # left set for the session: the scan consults it at execution time
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    for field in df.schema.fields:
        # nanos columns surface as LongType under nanosAsLong; rebuild
        # micro timestamps (testdata convention: the column is 'ts').
        # TIMESTAMP_NTZ, matching how Spark reads the other tables'
        # (isAdjustedToUTC=false) timestamps — keeps every query
        # independent of the session timezone.
        if isinstance(field.dataType, LongType) and field.name == "ts":
            df = df.withColumn(
                field.name,
                F.expr(
                    f"timestampadd(MICROSECOND, CAST({field.name} div 1000 AS BIGINT),"
                    f" TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df
