"""Batch-replay wrappers that run the STREAMING operators as
driver-checkable catalog queries (VERDICT r2 item 5).

Each wrapper materializes a bounded input (the events table, plus a
far-future sentinel row where watermark-gated emission needs the
watermark pushed past the real data), replays it through the actual
Structured Streaming operator under ``trigger(availableNow=True)``,
lands the append-mode output in a scratch parquet dir via
``foreachBatch``, and returns that result as a batch DataFrame. The
operators under test are the real ones from
:mod:`rs_streamloader_spark.streaming` — not batch re-implementations —
so the DuckDB oracles check the streaming semantics end-to-end:
state + watermark + timeout must reproduce the declarative SQL answer.

The sentinel trick: with an event-time watermark, a session closes
(or an outer join emits its NULL side) only once the watermark passes
the point where no admissible event could still change the result.
A sentinel row 15 days after ``max(ts)`` advances the final watermark
past every real row, so the availableNow run's trailing no-data batch
flushes ALL real output; the sentinel's own state stays unemitted
(the watermark never passes it) and is filtered by its negative key.

Scratch I/O lives under ``$TMPDIR/rs_sl/<appId>/replay_<tag>/<sf>``
(``session.scratch_dir``) and is rewritten per run; volume is one copy
of the events table per query.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rs_streamloader_spark.operators.registry import register
from rs_streamloader_spark.session import (
    _read_parquet_nanos_safe,
    env_int,
    scratch_dir,
)
from rs_streamloader_spark.streaming.joins import attribution_join_outer
from rs_streamloader_spark.streaming.stateful import SESSION_GAP_S, sessionize_stateful
from rs_streamloader_spark.streaming.windows import streaming_dedup

_SENTINEL_USER = -1

# fallback shuffle/state-store width for replay runs when the input
# size probe fails (see _replay_width). Right for the JVM-side
# stateful operators (stream-stream join, dedup), whose per-partition
# state work is trivial and whose cost is store open/commit cycles;
# the applyInPandasWithState replay overrides back to the session
# width because its per-batch work is Python per-group processing,
# which NEEDS the parallelism (measured 8.2s at 32 partitions vs
# 12.8s at 4).
REPLAY_SHUFFLE_PARTITIONS = 4

# scale-adaptive width target (guide §2: derive partitioning from
# input size, never pin a constant tuned for one machine): one
# shuffle/state partition per this many input bytes, floored at 1,
# capped at the session width. A stateful streaming query pays one
# state-store open/commit cycle per partition PER stateful operator
# PER micro-batch, so over-wide stores dominate kilobyte-scale
# micro-batches (r16 A/B over 7 replays, interleaved min-of-3:
# width 4 = 54.6s vs width 1 = 45.0s at sf0.1, where the probe
# derives 1); at deployment scale the same derivation widens toward
# the session default because the staged input is TB-sized. A
# malformed override falls back to 64 MiB with a logged warning.
def _replay_partition_bytes() -> int:
    return env_int("SPARK_GRAFT_REPLAY_PARTITION_BYTES", 64 * 1024 * 1024)


_REPLAY_PARTITION_BYTES = _replay_partition_bytes()


def _replay_width(spark: SparkSession, inputs) -> int:
    """Derive the replay's shuffle/state-store width from the staged
    input volume: ceil(total optimized-plan bytes / target bytes per
    partition), floored at 1 and capped at the session width. The size
    probe is driver-side plan metadata (the ``spread()`` probe
    precedent) — no job runs. Falls back to the pinned
    REPLAY_SHUFFLE_PARTITIONS when stats are unavailable."""
    try:
        total = 0
        for df in inputs:
            raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            total += raw if isinstance(raw, int) else int(raw.toString())
        session_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
        return max(1, min(session_w, -(-total // _REPLAY_PARTITION_BYTES)))
    except Exception:
        return REPLAY_SHUFFLE_PARTITIONS


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with ``ts`` cast NTZ → TIMESTAMP: event-time watermarks
    require an instant type. The wrappers cast outputs back to NTZ, a
    wall-clock round-trip that is exact because the data (plus the
    +15d sentinel) stays inside Jan–Feb, clear of any DST transition
    in whatever the session timezone is.

    Cached as a shared stage: all three replay wrappers scan events,
    and each input-staging write would otherwise re-run the
    TIMESTAMP(NANOS) fallback read (a caught failure + rescan — ~5s
    at sf0.1) once per stream side; measured, input staging dominated
    the replay wall-clock 17s-vs-4s over the streaming job itself."""
    from rs_streamloader_spark.session import stage_cached

    def build() -> DataFrame:
        df = _read_parquet_nanos_safe(spark, os.path.join(sf_dir, "events.parquet"))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))

    return stage_cached(spark, sf_dir, "replay_events", build)


def _sentinel_ts(events: DataFrame):
    """max(ts) + 15 days — one scalar aggregate on the driver (bounded:
    a single value, never row data)."""
    return events.agg(
        F.expr("timestampadd(DAY, 15, max(ts))").alias("s")
    ).first()["s"]


def _replay(
    spark: SparkSession,
    tag: str,
    sf_dir: str,
    inputs: dict[str, DataFrame],
    build,
    shuffle_partitions: int | None = None,
    output_mode: str = "append",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Write ``inputs`` as parquet sources, run ``build(streams)`` with
    availableNow, land the output to scratch parquet, read it back.

    ``output_mode="complete"`` switches the landing write to overwrite
    (each micro-batch re-emits the full result; the final overwrite is
    the answer) — legal only for bounded-state aggregations.
    ``max_files_per_trigger`` rate-limits the file source so a replay
    exercises REAL multi-batch incremental state instead of one big
    batch."""
    base = scratch_dir(spark, f"replay_{tag}", sf_dir)
    streams = {}
    for name, df in inputs.items():
        path = os.path.join(base, f"in_{name}")
        # NO coalesce(1): availableNow ingests every file in the batch
        # regardless, event-time logic is order-independent, and a
        # coalesce over union(cached scan, one-row sentinel relation)
        # measured 5.9s where the parallel write takes 0.7s
        df.write.parquet(path)
        reader = spark.readStream.schema(df.schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        streams[name] = reader.parquet(path)
    out = os.path.join(base, "out")
    land_mode = "overwrite" if output_mode == "complete" else "append"
    # a stateful streaming query instantiates one state-store partition
    # per shuffle partition PER stateful operator PER micro-batch — at
    # the session default (32 here, 200 on a real cluster) a bounded
    # replay pays ~32 store open/commit cycles × batches for kilobytes
    # of state. Derive the width from the staged input volume
    # (_replay_width: input-size-adaptive, 1 at kilobyte scale, the
    # session width at deployment scale).
    _run_available_now(
        spark,
        build(streams),
        os.path.join(base, "ckpt"),
        lambda bdf, _bid: bdf.write.mode(land_mode).parquet(out),
        shuffle_partitions or _replay_width(spark, inputs.values()),
        output_mode=output_mode,
    )
    return spark.read.parquet(out)


def _run_available_now(
    spark: SparkSession,
    stream_df: DataFrame,
    ckpt: str,
    land,
    shuffle_partitions: int,
    output_mode: str = "append",
) -> None:
    """The one availableNow runner of every replay: run ``stream_df``
    to the end of its input with ``land(bdf, batch_id)`` as the
    foreachBatch body, at ``shuffle_partitions`` wide. The query
    captures the width at start; the session's own width is restored
    when the query ends, also when a batch fails (that failure reaches
    the caller). On a stateless file scan (the sliced replays)
    ``output_mode`` changes nothing: every mode runs one micro-batch
    per staged slice (see ``_stage_sliced``)."""
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.foreachBatch(land)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _stage_sliced(
    df: DataFrame,
    slice_col: str,
    slice_values,
    in_path: str,
    flatten: bool = False,
) -> DataFrame:
    """Stage a replay's sliced input and return the stream that reads
    it ONE SLICE PER MICRO-BATCH: each slice is one file, the files'
    mtimes ascend in the order ``slice_values`` gives (FileStreamSource
    orders by mtime with no tiebreak — tests/test_multibatch_replay.py),
    and the stream reads them under ``maxFilesPerTrigger=1``. The two
    halves are one contract, so they live in one function.

    One write stages every slice (r15 opt): the repartition-by-value
    puts each slice in one task and partitionBy lands it as that dir's
    single file, replacing the per-slice filter+coalesce(1) append loop
    that re-scanned (and for the ntile-sliced replays re-sorted) the
    input once per slice.

    ``flatten=True`` moves the staged files out of their partition
    dirs into ``in_path`` root: a partitioned layout APPENDS the
    partition column to every micro-batch even when the reader schema
    omits it (measured), so replays whose stream schema must not carry
    the slice column get root-level files holding exactly the
    partitionBy-stripped data columns — the same bytes-on-disk shape
    the old drop-then-write loop produced. The stream's schema is
    ``df``'s, minus the slice column when flattened."""
    import time as _time

    df.repartition(slice_col).write.partitionBy(slice_col).parquet(in_path)
    base_mtime = _time.time() - len(slice_values) - 60
    for pos, v in enumerate(slice_values, start=1):
        slc_dir = os.path.join(in_path, f"{slice_col}={v}")
        if not os.path.isdir(slc_dir):
            # a slice value with zero rows gets no partition dir; the
            # old per-slice loop wrote an empty file and moved on —
            # skip it the same way (ADVICE r15: modulo-sliced replays
            # can hit this at tiny scale)
            continue
        # only the visible data file: Hadoop's hidden .crc siblings
        # must stay hidden (a rename dropping the leading dot would
        # surface them to the file source as unreadable inputs). The
        # unpack fails loudly if a slice ever lands as two files,
        # which would make it two micro-batches.
        (name,) = [
            n for n in os.listdir(slc_dir) if not n.startswith((".", "_"))
        ]
        full = os.path.join(slc_dir, name)
        if flatten:
            dest = os.path.join(in_path, f"s{pos:04d}_{name}")
            os.rename(full, dest)
            shutil.rmtree(slc_dir)
            full = dest
        os.utime(full, (base_mtime + pos, base_mtime + pos))
    schema = df.drop(slice_col).schema if flatten else df.schema
    return (
        df.sparkSession.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_path)
    )


_DEDUP_ORACLE = """
    SELECT event_id, user_id, event_type, ts, value FROM events
"""


@register("streaming_dedup_replay", oracle=_DEDUP_ORACLE)
def streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` replay: the input is the
    events table UNION ALL itself — the at-least-once redelivery shape
    the operator exists for — and the streaming dedup must recover
    exactly the original table (event_id is unique in the testdata).
    The watermark delay (90 days) exceeds the data span, so every
    duplicate falls inside the dedup horizon."""
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    out = _replay(
        spark,
        "dedup",
        sf_dir,
        {"events": ev.unionAll(ev)},
        lambda s: streaming_dedup(s["events"], keys=("event_id",), watermark="90 days"),
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "value",
    )


_SESSION_ORACLE = f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w > INTERVAL {SESSION_GAP_S} SECOND
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
             ) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
"""


@register("sessionize_stateful_replay", oracle=_SESSION_ORACLE)
def sessionize_stateful_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``applyInPandasWithState`` sessionization replay over the whole
    events table: the sentinel pushes the final watermark 15 days past
    the data, so every real session times out and emits before the
    availableNow run terminates. The oracle is the classic SQL
    sessionization (lag → gap flag → running session id → group), so a
    hash match proves the stateful path — per-key segment state,
    event-time timeouts, in-batch gap splitting — reproduces the
    declarative answer."""
    ev = _events(spark, sf_dir).select("user_id", "ts")
    sentinel_ts = _sentinel_ts(ev)
    sentinel = spark.createDataFrame(
        [(_SENTINEL_USER, sentinel_ts)], ev.schema
    )
    out = _replay(
        spark,
        "sessionize",
        sf_dir,
        {"events": ev.unionByName(sentinel)},
        lambda s: sessionize_stateful(s["events"]),
        # Python per-group state processing: keep the session's full
        # width (see REPLAY_SHUFFLE_PARTITIONS)
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


_ATTRIBUTION_ORACLE = """
    WITH c AS (
      SELECT user_id, ts AS click_ts, event_id AS click_id
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.purchase_id, p.purchase_ts, c.click_id, c.click_ts
    FROM p LEFT JOIN c
      ON c.user_id = p.user_id
     AND c.click_ts <= p.purchase_ts
     AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
"""


@register("attribution_join_outer_replay", oracle=_ATTRIBUTION_ORACLE)
def attribution_join_outer_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER attribution replay: clicks and
    purchases split out of the events table into two streams. Matched
    rows emit as they join; organic (click-less) purchases emit with
    NULL click columns only after the watermark passes their join
    window — the sentinel rows (one per stream, distinct negative
    users so they cannot match each other) advance both stream
    watermarks past all real data, flushing every organic purchase.
    The oracle is the equivalent batch LEFT JOIN with the same
    two-sided time bound."""
    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    sentinel_ts = _sentinel_ts(ev)

    def side(event_type: str, sentinel_user: int) -> DataFrame:
        rows = ev.filter(F.col("event_type") == event_type).select(
            "user_id", "ts", "event_id"
        )
        sentinel = spark.createDataFrame(
            [(sentinel_user, sentinel_ts, sentinel_user)], rows.schema
        )
        return rows.unionByName(sentinel)

    out = _replay(
        spark,
        "attribution",
        sf_dir,
        {"clicks": side("click", -1), "purchases": side("purchase", -2)},
        lambda s: attribution_join_outer(s["clicks"], s["purchases"]),
    )
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        "purchase_id",
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "click_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
    )


_TUMBLING_ORACLE = """
    SELECT DATE_TRUNC('hour', ts) AS window_start,
           DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM("value"), 2) AS total_value
    FROM events GROUP BY 1, 2, 3
"""


def _landed_tumbling_counts(
    spark: SparkSession, sf_dir: str, tag: str
) -> DataFrame:
    """Shared streaming stage for the tumbling-count consumers: run
    the watermarked hourly ``tumbling_window_agg`` under availableNow
    with the sentinel flush, land the append output, and return it
    with the sentinel filtered and window bounds cast back to NTZ.
    Each caller passes its own ``tag`` so the runs stay separately
    measured (and scratch dirs never collide)."""
    from rs_streamloader_spark.streaming.windows import tumbling_window_agg

    ev = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    sentinel_ts = _sentinel_ts(ev)
    sentinel = spark.createDataFrame(
        [(-1, sentinel_ts, -1, "__sentinel", 0.0)], ev.schema
    )
    out = _replay(
        spark,
        tag,
        sf_dir,
        {"events": ev.unionByName(sentinel)},
        lambda s: tumbling_window_agg(s["events"]),
    )
    return out.filter(F.col("event_type") != "__sentinel").select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n_events",
        "total_value",
    )


@register("tumbling_window_replay", oracle=_TUMBLING_ORACLE)
def tumbling_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation replay: append-mode
    emits a window only once the watermark passes its end, so the
    sentinel (15 days past the data, a reserved event_type) flushes
    every real window; its own window stays unemitted in state and is
    filtered by type. Spark's epoch-aligned ``window('1 hour')``
    equals the oracle's DATE_TRUNC('hour', ts) bucketing, so the
    compare is exact — a window emitted early (before its watermark
    closed) or double-emitted across micro-batches would break the
    count/sum hash."""
    return _landed_tumbling_counts(spark, sf_dir, "tumbling")


_SLIDING_ORACLE = """
    WITH w AS (
      SELECT UNNEST(list_transform(range(0, 4),
             k -> make_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) * 900
                                  - k * 900) * 1000000)))
             AS window_start, ts
      FROM events
    )
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           COUNT(*) AS n_events
    FROM w
    WHERE ts < window_start + INTERVAL 1 HOUR
    GROUP BY 1, 2
"""


@register("sliding_window_replay", oracle=_SLIDING_ORACLE)
def sliding_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 hour / 15 min) aggregation replay: every
    event lands in exactly 4 overlapping windows; the oracle
    enumerates the same 4 epoch-aligned starts per event. The
    sentinel's own windows end after the final watermark and stay
    unemitted, so no output filter is needed — its 15-day offset
    keeps it out of every real window."""
    from rs_streamloader_spark.streaming.windows import sliding_window_agg

    ev = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    sentinel_ts = _sentinel_ts(ev)
    sentinel = spark.createDataFrame(
        [(-1, sentinel_ts, -1, "__sentinel", 0.0)], ev.schema
    )
    out = _replay(
        spark,
        "sliding",
        sf_dir,
        {"events": ev.unionByName(sentinel)},
        lambda s: sliding_window_agg(s["events"]),
    )
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "n_events",
    )


_NATIVE_GAP_S = 30 * 60

_SESSION_WINDOW_ORACLE = f"""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL {_NATIVE_GAP_S} SECOND
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
             ) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {_NATIVE_GAP_S} SECOND AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
"""


@register("session_window_replay", oracle=_SESSION_WINDOW_ORACLE)
def session_window_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native JVM ``session_window`` aggregation replay — the
    built-in-operator sibling of ``sessionize_stateful_replay``
    (which drives the same semantics through Python
    ``applyInPandasWithState``). Spark merges an event's window
    [ts, ts+gap) into a session while consecutive windows OVERLAP, so
    a gap of exactly {_NATIVE_GAP_S}s splits (end-exclusive) — the
    oracle's lag-split uses >= accordingly, where the stateful twin's
    uses >; and the native session_end is last_event + gap, not
    last_event. In append mode a session emits only once the
    watermark passes its end, so the sentinel row 15 days out flushes
    every real session; its own session stays in state and is
    filtered by its negative key.

    State scale: one (user, open-session) aggregate per key in the
    state store — numRowsTotal is bounded by active sessions within
    the watermark horizon, and the JVM path has no per-batch Python
    worker round-trip, which is why this replay runs at the pinned
    narrow state-store width (REPLAY_SHUFFLE_PARTITIONS) like the
    other JVM-stateful replays."""
    from rs_streamloader_spark.streaming.windows import session_window_agg

    ev = _events(spark, sf_dir).select("user_id", "ts")
    sentinel_ts = _sentinel_ts(ev)
    sentinel = spark.createDataFrame([(_SENTINEL_USER, sentinel_ts)], ev.schema)
    out = _replay(
        spark,
        "session_window",
        sf_dir,
        {"events": ev.unionByName(sentinel)},
        lambda s: session_window_agg(
            s["events"], gap=f"{_NATIVE_GAP_S} seconds"
        ),
    )
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )


_STREAM_STATIC_ORACLE = """
    SELECT DATE_TRUNC('hour', e.ts) AS window_start,
           DATE_TRUNC('hour', e.ts) + INTERVAL 1 HOUR AS window_end,
           c.c_mktsegment AS segment,
           e.event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(e."value"), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2, 3, 4
"""


@register("stream_static_join_replay", oracle=_STREAM_STATIC_ORACLE)
def stream_static_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment replay: the events stream inner-joins
    the STATIC customer dimension per micro-batch (broadcast hash
    join, no join state), then a watermarked hourly window aggregates
    per (segment, event_type). The flush sentinel's user key (-1)
    matches no dimension row, so the inner join drops it — but its
    event time still advances the watermark (the watermark node sits
    upstream of the join), closing and emitting every real window.
    The oracle is the equivalent batch join + DATE_TRUNC group; a
    stream-side shuffle of the static join, double-emitted windows,
    or a watermark that failed to advance through the dropped
    sentinel would all break the compare."""
    from rs_streamloader_spark.session import load_tables
    from rs_streamloader_spark.streaming.joins import stream_static_enrich_agg

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_type", "value")
    sentinel_ts = _sentinel_ts(ev)
    sentinel = spark.createDataFrame(
        [(_SENTINEL_USER, sentinel_ts, "__sentinel", 0.0)], ev.schema
    )
    dim = load_tables(spark, sf_dir, "customer")["customer"]
    out = _replay(
        spark,
        "stream_static",
        sf_dir,
        {"events": ev.unionByName(sentinel)},
        lambda s: stream_static_enrich_agg(s["events"], dim),
    )
    return out.select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "segment",
        "event_type",
        "n_events",
        "total_value",
    )


# ---------------------------------------------------------------------------
# Streaming CDC upsert through the bucketed native sink
# ---------------------------------------------------------------------------

_CDC_SLICES = 6
_CDC_BUCKETS = 8

_CDC_UPSERT_ORACLE = """
    SELECT user_id, ts AS last_ts, event_id AS last_event_id,
           value AS last_value
    FROM (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
"""


@register("stream_upsert_loader_replay", oracle=_CDC_UPSERT_ORACLE)
def stream_upsert_loader_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert end-to-end THROUGH THE LOADER: the events
    stream, time-sliced into {n} files and replayed one file per
    micro-batch (``maxFilesPerTrigger=1``), foreachBatch-upserts into
    a BUCKETED native table keyed on user_id with ``dedupe='last'`` —
    the reference's keyed-upsert load mode (RedshiftLoader.ts:369-384)
    driven by Structured Streaming instead of a one-shot body. The
    final table must equal "latest event per user" — checked against
    the declarative oracle, which makes every piece load-bearing:
    batch sequencing, per-batch dedupe, bucket-pruned rewrite, and the
    versioned-commit read.

    Correctness across batches: slices are contiguous in (ts,
    event_id) order and arrive oldest-first, so the sink's
    new-row-wins upsert composes to exactly the (ts, event_id)-max row
    per key — the live-CDC arrival order, same contract as
    tests/test_multibatch_replay.py.

    Scale posture: each micro-batch's upsert rewrites ONLY the buckets
    containing that batch's keys (the hash-bucketed layout's delta
    commit — sinks/native.py), which is the sink behavior that
    matters at 100 TB: per-batch write cost tracks batch size, not
    table size."""
    from pyspark.sql.window import Window as W

    from rs_streamloader_spark.sinks.native import NativeTableSink

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    base = scratch_dir(spark, "replay_cdc_upsert", sf_dir)
    # contiguous (ts, event_id) slices, staged oldest-first with
    # explicitly increasing mtimes (FileStreamSource orders by mtime
    # with no tiebreak — see tests/test_multibatch_replay.py).
    # HARNESS-ONLY single-partition sort, not a product plan: the
    # unpartitioned ntile FABRICATES the micro-batch arrival order, and
    # contiguity in (ts, event_id) is load-bearing — slices must arrive
    # oldest-first for new-row-wins upserts to compose to the per-key
    # (ts, event_id) max, so hash-band slicing is not a valid
    # substitute. The measured operator is the streaming upsert, which
    # never sees this sort. Staged in ONE write (flattened: the stream
    # schema must not carry the slice column) — see _stage_sliced.
    sliced = ev.withColumn(
        "__slice",
        F.ntile(_CDC_SLICES).over(W.orderBy("ts", "event_id")),
    )
    stream = _stage_sliced(
        sliced,
        "__slice",
        range(1, _CDC_SLICES + 1),
        os.path.join(base, "in"),
        flatten=True,
    )
    table_root = os.path.join(base, "table")
    sink = NativeTableSink(
        spark, table_root, num_buckets=_CDC_BUCKETS, bucket_by="user_id"
    )

    def land(bdf: DataFrame, _bid: int) -> None:
        # column order (user_id, ts, event_id, value): dedupe='last'
        # ranks the non-key columns left-to-right, so the in-batch
        # winner is the (ts, event_id) max — value never breaks a tie
        # because (ts, event_id) is unique
        sink.upsert(
            bdf.select("user_id", "ts", "event_id", "value"),
            id_field="user_id",
            dedupe="last",
        )

    _run_available_now(
        spark,
        stream,
        os.path.join(base, "ckpt"),
        land,
        _replay_width(spark, [ev]),
    )
    # wall-clock round-trip back to NTZ (exact: Jan–Feb data, no DST
    # transition — same contract as the other replay wrappers)
    return sink.read().select(
        "user_id",
        F.col("ts").cast("timestamp_ntz").alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


# ---------------------------------------------------------------------------
# Streaming windowed counts + batch top-k composition
# ---------------------------------------------------------------------------

_TOPK_PER_WINDOW = 3

_STREAM_TOPK_ORACLE = f"""
    WITH c AS (
      SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, event_type) AS rnk,
             SUM(n_events) OVER (PARTITION BY window_start) AS tot
      FROM c
    )
    SELECT window_start, event_type, n_events,
           rnk AS rank,
           ROUND(CAST(n_events AS DOUBLE) / tot, 6) AS share
    FROM r WHERE rnk <= {_TOPK_PER_WINDOW}
"""


@register("stream_topk_replay", oracle=_STREAM_TOPK_ORACLE)
def stream_topk_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-then-batch composition: the watermarked hourly
    tumbling count stream lands per (window, type) rows, and the
    top-{k}-per-window ranking plus share-of-window runs as a BATCH
    window over the landed output — the standard split for "trending
    now" dashboards, because ranking windows are not a legal streaming
    operator (rank retraction on late data is unbounded). The oracle
    checks the fused end-to-end answer, so early- or double-emitted
    streaming windows break the hash exactly as in
    ``tumbling_window_replay``.

    Scale posture: the streaming half shuffles on (window, type) with
    watermark-bounded state; the batch half windows over the
    |windows|×|types| aggregate, never raw events."""
    from pyspark.sql.window import Window as W

    c = _landed_tumbling_counts(spark, sf_dir, "stream_topk").select(
        "window_start", "event_type", "n_events"
    )
    w_rank = W.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    w_tot = W.partitionBy("window_start")
    return (
        c.withColumn("rank", F.row_number().over(w_rank))
        .withColumn("tot", F.sum("n_events").over(w_tot))
        .where(F.col("rank") <= _TOPK_PER_WINDOW)
        .select(
            "window_start",
            "event_type",
            "n_events",
            "rank",
            F.round(F.col("n_events").cast("double") / F.col("tot"), 6).alias(
                "share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Streaming HLL register maintenance (complete-mode bounded aggregation)
# ---------------------------------------------------------------------------


def _hll_oracle_registers() -> str:
    from rs_streamloader_spark.operators.stats import _HLL_M, _hll_fields_sql

    b, rho = _hll_fields_sql()
    return f"""
    WITH hr AS (
      SELECT {b} AS bucket, {rho} AS rho FROM events
    )
    SELECT CAST(bucket AS INTEGER) AS bucket, CAST(MAX(rho) AS INTEGER) AS m
    FROM hr GROUP BY bucket
    """


@register("stream_hll_registers_replay", oracle=_hll_oracle_registers())
def stream_hll_registers_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL register maintenance: the distinct-user sketch's
    64 registers maintained as a COMPLETE-mode streaming aggregation
    (register-wise MAX of the rank statistic), replayed under
    availableNow — the final register file must equal the batch build
    bit-for-bit (the oracle is the batch register SQL). This is the
    streaming face of the mergeability property ``hll_union_sources``
    demonstrates for batch: a live distinct-count dashboard keeps
    constant state per source regardless of stream cardinality.

    Scale posture: the streaming state is EXACTLY {m} registers (MAX
    is idempotent and order-independent — safe under any micro-batch
    slicing); complete-mode re-emission per batch writes {m} rows, not
    data volume. No watermark is needed because the aggregate never
    grows past the register file."""
    from rs_streamloader_spark.operators.stats import _hll_cols

    ev = _events(spark, sf_dir).select("user_id")
    bucket, rho = _hll_cols()

    def build(streams):
        s = streams["events"]
        return (
            s.select(bucket.alias("bucket"), rho.cast("int").alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("m"))
        )

    out = _replay(
        spark, "hll_regs", sf_dir, {"events": ev}, build,
        output_mode="complete",
    )
    return out.select(F.col("bucket").cast("int"), F.col("m").cast("int"))


# ---------------------------------------------------------------------------
# Late-data audit: out-of-order delivery vs the watermark, predicted
# ---------------------------------------------------------------------------

_LATE_N_SLICES = 6
# slice 3 (by event time) arrives LAST: everything in it lands after
# slices 4-6 advanced the watermark past (some of) its windows
_LATE_ARRIVAL_ORDER = (1, 2, 4, 5, 6, 3)
_LATE_WATERMARK = "1 hour"


@register(
    "stream_late_data_audit_replay",
    oracle=f"""
    WITH sliced AS (
      SELECT event_type, ts, "value",
             NTILE({_LATE_N_SLICES}) OVER (ORDER BY ts, event_id) AS slice
      FROM events
    ),
    arr AS (
      SELECT * FROM (VALUES
        {", ".join(f"({s}, {p + 1})" for p, s in enumerate(_LATE_ARRIVAL_ORDER))}
      ) AS m(slice, pos)
    ),
    with_pos AS (
      SELECT s.event_type, s.ts, s."value", a.pos
      FROM sliced s JOIN arr a ON a.slice = s.slice
    ),
    batch_max AS (
      SELECT pos, MAX(ts) AS mx FROM with_pos GROUP BY pos
    ),
    wm AS (
      -- watermark in force DURING batch p: max event time of the
      -- batches that already finished, FLOORED TO MILLISECONDS
      -- (Spark's EventTimeStats tracks max event time in ms), minus
      -- the delay
      SELECT p.pos,
             MAKE_TIMESTAMP((EPOCH_US(MAX(b.mx)) // 1000) * 1000)
               - INTERVAL 1 HOUR AS wm_before
      FROM (SELECT DISTINCT pos FROM arr) p
      LEFT JOIN batch_max b ON b.pos < p.pos
      GROUP BY p.pos
    ),
    admitted AS (
      SELECT w.event_type, DATE_TRUNC('hour', w.ts) AS window_start, w."value"
      FROM with_pos w JOIN wm ON wm.pos = w.pos
      WHERE wm.wm_before IS NULL
         OR DATE_TRUNC('hour', w.ts) + INTERVAL 1 HOUR > wm.wm_before
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM("value"), 2) AS total_value
    FROM admitted GROUP BY 1, 2, 3
    """,
)
def stream_late_data_audit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data semantics, PREDICTED: the events table is delivered
    as {n} time-contiguous micro-batches with the third slice arriving
    LAST, so by the time it shows up the watermark (1 hour) has passed
    most of its windows and Spark must DROP those rows. The oracle
    simulates the watermark protocol in SQL — per arrival position,
    watermark = max event time of finished batches minus the delay; a
    row is admitted iff its window end is still above it — so the
    compare pins the engine's exact late-data contract, not just the
    happy path (every other replay delivers in order and loses
    nothing).

    Scale posture: the streaming job is the same watermarked hourly
    tumbling aggregate as ``tumbling_window_replay`` (bounded state);
    the delivery permutation is mtime-ordered single-file batches
    under maxFilesPerTrigger=1. Cross-engine determinism: slice
    assignment pins ties by (ts, event_id); admitted-set membership
    is exact timestamp arithmetic; the one float column follows the
    tumbling replay's ROUND(SUM, 2) convention."""
    from pyspark.sql.window import Window as W

    from rs_streamloader_spark.streaming.windows import tumbling_window_agg

    ev = _events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    base = scratch_dir(spark, "replay_late_audit", sf_dir)
    # HARNESS-ONLY single-partition sort (see stream_upsert_loader_replay):
    # the unpartitioned ntile fabricates time-contiguous arrival slices,
    # which the watermark-protocol oracle depends on — the measured
    # operator is the watermarked aggregate, not this input prep.
    sliced = ev.withColumn(
        "__slice", F.ntile(_LATE_N_SLICES).over(W.orderBy("ts", "event_id"))
    )
    # the sentinel is one more slice, staged after the permuted six:
    # it arrives last and flushes every surviving window at the end
    sentinel_slice = _LATE_N_SLICES + 1
    sentinel = spark.createDataFrame(
        [(-1, _sentinel_ts(ev), -1, "__sentinel", 0.0, sentinel_slice)],
        sliced.schema,
    )
    stream = _stage_sliced(
        sliced.unionByName(sentinel),
        "__slice",
        _LATE_ARRIVAL_ORDER + (sentinel_slice,),
        os.path.join(base, "in"),
        flatten=True,
    )
    out = os.path.join(base, "out")
    _run_available_now(
        spark,
        tumbling_window_agg(stream, watermark=_LATE_WATERMARK),
        os.path.join(base, "ckpt"),
        lambda bdf, _bid: bdf.write.mode("append").parquet(out),
        _replay_width(spark, [ev]),
    )
    landed = spark.read.parquet(out)
    return landed.filter(F.col("event_type") != "__sentinel").select(
        F.col("window_start").cast("timestamp_ntz").alias("window_start"),
        F.col("window_end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n_events",
        "total_value",
    )


# ---------------------------------------------------------------------------
# Streaming windowed mix-drift (PSI per window vs the corpus mix)
# ---------------------------------------------------------------------------

_STREAM_PSI_ORACLE = """
    WITH c AS (
      SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    wtot AS (
      SELECT window_start, CAST(SUM(n_events) AS BIGINT) AS wn FROM c
      GROUP BY 1
    ),
    gtot AS (
      SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS gn FROM c
      GROUP BY 1
    ),
    n AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM c),
    terms AS (
      -- densified over the bounded type set: a type absent from a
      -- window contributes with the 0.5-count Laplace floor
      SELECT w.window_start, g.event_type, w.wn, g.gn,
             COALESCE(c.n_events, 0) AS cnt,
             CAST(ROUND(
               ((COALESCE(c.n_events, 0) + 0.5e0) / (w.wn + 0.5e0)
                - (CAST(g.gn AS DOUBLE) + 0.5e0) / (total + 0.5e0))
               * LN(((COALESCE(c.n_events, 0) + 0.5e0) / (w.wn + 0.5e0))
                    / ((CAST(g.gn AS DOUBLE) + 0.5e0) / (total + 0.5e0)))
               * 1000000000) AS BIGINT) AS t_nano
      FROM wtot w
      CROSS JOIN gtot g
      CROSS JOIN n
      LEFT JOIN c ON c.window_start = w.window_start
                 AND c.event_type = g.event_type
    )
    SELECT window_start,
           CAST(SUM(t_nano) AS BIGINT) AS psi_nano,
           ROUND(SUM(t_nano) / 1e9, 6) AS psi,
           (SUM(t_nano) > 200000000) AS drifted
    FROM terms GROUP BY window_start
"""


@register("stream_mix_psi_replay", oracle=_STREAM_PSI_ORACLE)
def stream_mix_psi_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-then-batch mix-drift monitor: the watermarked hourly
    tumbling counts land from the stream, and each window's event-type
    MIX is scored against the corpus-wide mix with a Laplace-floored
    PSI (the per-window twin of ``drift_psi_daily`` — the monitor a
    streaming pipeline actually pages on, here composed the only
    legal way since the global reference mix cannot be a streaming
    aggregate of itself). PSI > 0.2 (the conventional alert level,
    frozen as an exact nano-integer compare) flags the window.

    Scale posture: the streaming half is the SHARED landed tumbling
    stage (watermark-bounded state, one shuffle on (window, type));
    the batch half densifies over the bounded |windows|×|types| grid
    with broadcast totals, nano-rounds each PSI term BEFORE the
    per-window exact sum, and never touches raw events. Late/double
    window emission breaks the count grid and therefore the hash, as
    in ``tumbling_window_replay``.

    Reference surface: none (novel extension, SURVEY.md §2.4
    streaming row / §2.5 quality family)."""
    c = _landed_tumbling_counts(spark, sf_dir, "mix_psi").select(
        "window_start", "event_type", "n_events"
    )
    return _mix_psi_from_counts(c)


def _mix_psi_from_counts(c: DataFrame) -> DataFrame:
    """Batch half of ``stream_mix_psi_replay`` over a landed
    (window_start, event_type, n_events) table — factored so the
    formula is pinnable on constructed counts without a streaming
    run."""
    wtot = c.groupBy("window_start").agg(
        F.sum("n_events").cast("bigint").alias("wn")
    )
    gtot = c.groupBy("event_type").agg(
        F.sum("n_events").cast("bigint").alias("gn")
    )
    n = c.agg(F.sum("n_events").cast("bigint").alias("total"))
    grid = wtot.join(F.broadcast(gtot)).join(F.broadcast(n))
    terms = grid.join(
        c, ["window_start", "event_type"], "left"
    ).select(
        "window_start",
        F.expr(
            "CAST(ROUND("
            "((COALESCE(n_events, 0) + 0.5e0) / (wn + 0.5e0)"
            " - (CAST(gn AS DOUBLE) + 0.5e0) / (total + 0.5e0))"
            " * LN(((COALESCE(n_events, 0) + 0.5e0) / (wn + 0.5e0))"
            " / ((CAST(gn AS DOUBLE) + 0.5e0) / (total + 0.5e0)))"
            " * 1000000000) AS BIGINT)"
        ).alias("t_nano"),
    )
    return terms.groupBy("window_start").agg(
        F.sum("t_nano").cast("bigint").alias("psi_nano"),
        F.expr("ROUND(SUM(t_nano) / 1e9, 6)").alias("psi"),
        F.expr("SUM(t_nano) > 200000000").alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Streaming cross-run incremental dedup through the native sink (r13)
# ---------------------------------------------------------------------------

_INC_DD_SLICES = 4


def _inc_dedup_replay_oracle() -> str:
    """Declarative simulation of the batch-sequenced protocol: the
    store starts as the even-doc signatures; odd docs arrive in
    ``(doc_id div 2) % {n}`` slice order, and slice s's candidates are
    the store plus every odd doc from a STRICTLY EARLIER slice (each
    batch's signatures are upserted only after its decisions land)."""
    from rs_streamloader_spark.operators.dedup import (
        _INC_MATCH_MIN,
        _SHINGLE_SQL,
        _minhash_mins_sql,
        _sig_match_sql,
        N_BANDS,
        N_MINHASH,
    )

    rows = N_MINHASH // N_BANDS
    mins = _minhash_mins_sql()
    bands = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, slc, {b} AS band_idx, "
        f"MD5({' || '.join(f'h{b * rows + r}' for r in range(rows))}) AS band_val"
        f" FROM tagged"
        for b in range(N_BANDS)
    )
    n_match = _sig_match_sql()
    return f"""
    WITH s AS ({_SHINGLE_SQL}),
    sig AS (SELECT doc_id, {mins} FROM s GROUP BY doc_id),
    tagged AS (
      SELECT *, CASE WHEN doc_id % 2 = 0 THEN -1
                ELSE CAST((doc_id // 2) % {_INC_DD_SLICES} AS INTEGER)
                END AS slc
      FROM sig
    ),
    bands AS (
      {bands}
    ),
    cand AS (
      SELECT DISTINCT i.doc_id AS inc_doc, i.slc AS inc_slc,
             t.doc_id AS store_doc
      FROM bands i JOIN bands t
        ON i.band_idx = t.band_idx AND i.band_val = t.band_val
      WHERE i.slc >= 0 AND (t.slc = -1 OR t.slc < i.slc)
    ),
    scored AS (
      SELECT c.inc_doc, c.store_doc, {n_match} AS n_match
      FROM cand c
      JOIN tagged i ON i.doc_id = c.inc_doc
      JOIN tagged t ON t.doc_id = c.store_doc
    ),
    best AS (
      SELECT inc_doc, store_doc, n_match,
             ROW_NUMBER() OVER (PARTITION BY inc_doc
                                ORDER BY n_match DESC, store_doc) AS rn
      FROM scored
    )
    SELECT i.doc_id, i.slc,
           b.store_doc AS matched_doc,
           CAST(COALESCE(b.n_match, 0) AS INTEGER) AS n_match,
           ROUND(COALESCE(b.n_match, 0) / {N_MINHASH}.0, 6) AS est_jaccard,
           COALESCE(b.n_match, 0) >= {_INC_MATCH_MIN} AS is_dup
    FROM (SELECT doc_id, slc FROM tagged WHERE slc >= 0) i
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.inc_doc = i.doc_id
    """


@register("stream_incremental_dedup_replay", oracle=_inc_dedup_replay_oracle())
def stream_incremental_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run incremental dedup DRIVEN BY STRUCTURED STREAMING —
    the continuous-ingestion composition of ``dedup_incremental_
    minhash`` (operators/dedup.py): the even-doc minhash signature
    store is persisted through the Loader staged-upsert path into a
    bucketed native table; the odd docs arrive as a file stream in
    ``(doc_id div 2) % {n}`` slices under ``maxFilesPerTrigger=1``,
    and EACH micro-batch (a) computes its own signatures from raw
    text, (b) writes its dedup decisions against the store AS OF its
    arrival (the table read back from disk — state, not lineage), and
    (c) upserts its signatures into the store for the NEXT batch.
    Sequencing is load-bearing: a doc's candidates are the initial
    store plus strictly-earlier slices, and the declarative oracle
    simulates exactly that protocol, so batch ordering, the per-batch
    decision-before-upsert discipline, and the bucket-pruned rewrites
    are all checked end-to-end.

    Scale posture: per-batch work is O(batch) (shingle→signature agg,
    shuffle-hash band join against the store, bucket-pruned upsert);
    the store holds one 16-column signature row per ingested doc —
    O(docs) state, never O(tokens)."""
    from rs_streamloader_spark.loader import Loader
    from rs_streamloader_spark.operators.dedup import (
        _incremental_decision,
        _shingles,
        _sigs_of_shingles,
    )
    from rs_streamloader_spark.session import load_tables
    from rs_streamloader_spark.sinks.native import NativeTableSink

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    base = scratch_dir(spark, "replay_inc_dedup", sf_dir)
    sink = NativeTableSink(
        spark, os.path.join(base, "store"), num_buckets=16, bucket_by="doc_id"
    )

    def land_sigs(df: DataFrame, stage: str) -> None:
        loader = Loader(
            spark,
            options={
                "table": "wh.sig_store",
                "id_field": "doc_id",
                "staging_format": "parquet",
                "copy_settings": {"format": "PARQUET"},
            },
            sink=sink,
            staging_root=os.path.join(base, stage),
        )
        loader.add_source(df)
        loader.upsert()

    # run 0: the already-ingested store
    land_sigs(
        _sigs_of_shingles(_shingles(docs.where(F.col("doc_id") % 2 == 0))),
        "stage_run0",
    )

    # stage the incoming stream: one file per slice, oldest-first
    # mtimes, one write (_stage_sliced)
    inc = docs.where(F.col("doc_id") % 2 == 1).withColumn(
        "slc",
        F.expr(f"CAST((doc_id div 2) % {_INC_DD_SLICES} AS INT)"),
    )
    stream = _stage_sliced(
        inc, "slc", range(_INC_DD_SLICES), os.path.join(base, "in")
    )

    out_dir = os.path.join(base, "decisions")

    def land_batch(bdf: DataFrame, bid: int) -> None:
        # (a) this batch's signatures from raw text — O(batch) work
        sig_b = _sigs_of_shingles(
            _shingles(bdf.select("doc_id", "text"))
        ).localCheckpoint(eager=True)
        # (b) decisions against the store AS OF arrival (decision
        # write MUST precede the upsert — the protocol under test)
        dec = _incremental_decision(sig_b, sink.read())
        dec.join(bdf.select("doc_id", "slc"), "doc_id").select(
            "doc_id", "slc", "matched_doc", "n_match", "est_jaccard", "is_dup"
        ).write.mode("append").parquet(out_dir)
        # (c) the handoff: this batch joins the store
        land_sigs(sig_b, f"stage_b{bid}")

    _run_available_now(
        spark,
        stream,
        os.path.join(base, "ckpt"),
        land_batch,
        _replay_width(spark, [inc]),
    )
    return spark.read.parquet(out_dir).select(
        "doc_id", "slc", "matched_doc", "n_match", "est_jaccard", "is_dup"
    )


# ---------------------------------------------------------------------------
# 17th replay: multimodal quality screen decoded per micro-batch
# ---------------------------------------------------------------------------

_MM_SCREEN_SLICES = 4


def _mm_screen_oracle() -> str:
    from rs_streamloader_spark.operators.multimodal import QS_ORACLE

    return f"""
    WITH scr AS ({QS_ORACLE})
    SELECT doc_id,
           CAST(doc_id % {_MM_SCREEN_SLICES} AS INTEGER) AS slc,
           mime, metric, keep,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) OVER (
                  PARTITION BY doc_id % {_MM_SCREEN_SLICES}, mime
                ) AS BIGINT) AS batch_kept,
           CAST(COUNT(*) OVER (
                  PARTITION BY doc_id % {_MM_SCREEN_SLICES}, mime
                ) AS BIGINT) AS batch_total
    FROM scr
    """


@register("stream_multimodal_screen_replay", oracle=_mm_screen_oracle())
def stream_multimodal_screen_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal DECODE IN-STREAM (VERDICT r13 next-round #6) — the
    joint quality screen (operators/multimodal.py: real BMP/WAV/Y4M
    decode + per-modality keep/drop rules) run PER MICRO-BATCH over a
    file stream of document payload rows under
    ``maxFilesPerTrigger=1``: each batch lands its per-doc verdicts
    PLUS the per-batch-per-modality admission tallies
    (batch_kept/batch_total) an ingestion monitor logs — so the
    micro-batch boundary is observable in the result and the oracle
    must reproduce the batch partitioning, not just the union of
    verdicts. This covers the decode-under-backpressure path the
    batch family bypasses: the Arrow-batched mapInPandas decode stage
    rides inside ``foreachBatch`` exactly as a production landing job
    would.

    Slices are the deterministic ``doc_id % {_MM_SCREEN_SLICES}``
    split, one file per slice, mtime-ordered so FileStreamSource
    delivers them as distinct micro-batches.

    Scale posture: per-batch work is O(batch) map-only decode plus a
    per-mime 3-group aggregate; no state store (the screen is
    stateless — the point is the decode path, not windowing), so
    backpressure tuning is purely maxFilesPerTrigger/file sizing."""
    from rs_streamloader_spark.operators.multimodal import _quality_rows
    from rs_streamloader_spark.session import load_tables

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "text")
        .where(F.length("text") > 0)
        .withColumn(
            "slc", F.expr(f"CAST(doc_id % {_MM_SCREEN_SLICES} AS INT)")
        )
    )
    base = scratch_dir(spark, "replay_mm_screen", sf_dir)

    # one file per slice, oldest-first mtimes, one write — the
    # incremental-dedup staging shape (_stage_sliced)
    stream = _stage_sliced(
        docs, "slc", range(_MM_SCREEN_SLICES), os.path.join(base, "in")
    )

    out_dir = os.path.join(base, "verdicts")

    def land_batch(bdf: DataFrame, _bid: int) -> None:
        scr = bdf.select("doc_id", "text").mapInPandas(
            _quality_rows,
            schema="doc_id bigint, mime string, metric bigint, keep boolean",
        )
        tally = scr.groupBy("mime").agg(
            F.sum(F.col("keep").cast("bigint")).alias("batch_kept"),
            F.count(F.lit(1)).cast("bigint").alias("batch_total"),
        )
        scr.join(bdf.select("doc_id", "slc"), "doc_id").join(
            tally, "mime"
        ).select(
            "doc_id", "slc", "mime", "metric", "keep",
            "batch_kept", "batch_total",
        ).write.mode("append").parquet(out_dir)

    _run_available_now(
        spark,
        stream,
        os.path.join(base, "ckpt"),
        land_batch,
        _replay_width(spark, [docs]),
    )
    return spark.read.parquet(out_dir).select(
        "doc_id", "slc", "mime", "metric", "keep", "batch_kept", "batch_total"
    )


# ---------------------------------------------------------------------------
# 18th replay: mergeable quantile sketch maintained by the stream
# ---------------------------------------------------------------------------

_QSK_BINS = 64
_QSK_BIN_CENTS = 1000  # frozen $10 bins over [0, $640); top bin clamps
_QSK_QS = ((1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99"))


def _qsketch_oracle() -> str:
    qs_values = ", ".join(f"({n}, {d}, '{l}')" for n, d, l in _QSK_QS)
    return f"""
    WITH v AS (
      SELECT LEAST({_QSK_BINS - 1},
                   CAST(ROUND("value" * 100) AS BIGINT) // {_QSK_BIN_CENTS})
               AS bin
      FROM events WHERE "value" IS NOT NULL
    ),
    hist AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY bin),
    cum AS (
      SELECT bin, cnt,
             SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER () AS n
      FROM hist
    ),
    qs AS (SELECT * FROM (VALUES {qs_values}) AS t(q_num, q_den, q_label))
    SELECT q.q_label,
           CAST(MIN(c.n) AS BIGINT) AS n,
           CAST(MIN(c.bin) AS INTEGER) AS est_bin,
           CAST(MIN(c.bin) * {_QSK_BIN_CENTS} AS BIGINT) AS est_lo_cents,
           CAST((MIN(c.bin) + 1) * {_QSK_BIN_CENTS} AS BIGINT) AS est_hi_cents
    FROM qs q JOIN cum c
      ON c.cum >= (c.n * q.q_num + q.q_den - 1) // q.q_den
     AND c.cum - c.cnt < (c.n * q.q_num + q.q_den - 1) // q.q_den
    GROUP BY q.q_label
    """


@register("stream_quantile_sketch_replay", oracle=_qsketch_oracle())
def stream_quantile_sketch_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming QUANTILE sketch maintenance — the quantile face of
    the mergeability story ``stream_hll_registers_replay`` tells for
    distinct counts: a fixed {bins}-bin equi-width count histogram
    (frozen ${w} bins — a streaming sketch must fix its domain BEFORE
    the data, unlike the batch audit that reads min/max first) is
    maintained as a COMPLETE-mode streaming aggregation, and the
    landed register file yields p50/p90/p99 bracket estimates whose
    exact integer rank math the oracle reproduces from the same
    frozen binning. Counts are associative and order-independent, so
    the result is invariant to micro-batch slicing — the property
    that lets a live latency/value dashboard keep O(bins) state at
    any stream volume.

    Scale posture: streaming state is exactly {bins} counters;
    complete-mode re-emission writes {bins} rows per batch, never
    data volume; the quantile pick is a bounded batch-side window
    over the landed register file."""
    ev = _events(spark, sf_dir).where(F.col("value").isNotNull()).select("value")

    def build(streams):
        s = streams["events"]
        return (
            s.select(
                F.expr(
                    f"LEAST({_QSK_BINS - 1},"
                    f" CAST(ROUND(value * 100) AS BIGINT)"
                    f" div {_QSK_BIN_CENTS})"
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    hist = _replay(
        spark, "qsketch", sf_dir, {"events": ev}, build,
        output_mode="complete",
    )
    from pyspark.sql.window import Window as W

    cum = hist.select(
        "bin",
        "cnt",
        F.sum("cnt")
        .over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("cnt").over(W.partitionBy()).alias("n"),
    )
    qs = spark.createDataFrame(
        list(_QSK_QS), "q_num int, q_den int, q_label string"
    )
    rank = "(n * q_num + q_den - 1) div q_den"
    return (
        F.broadcast(qs)
        .join(cum, F.expr(f"cum >= {rank} AND cum - cnt < {rank}"))
        .groupBy("q_label")
        .agg(
            F.min("n").cast("bigint").alias("n"),
            F.min("bin").cast("int").alias("est_bin"),
            (F.min("bin") * _QSK_BIN_CENTS).cast("bigint").alias("est_lo_cents"),
            ((F.min("bin") + 1) * _QSK_BIN_CENTS)
            .cast("bigint")
            .alias("est_hi_cents"),
        )
    )


stream_quantile_sketch_replay.__doc__ = stream_quantile_sketch_replay.__doc__.format(
    bins=_QSK_BINS, w=_QSK_BIN_CENTS // 100
)


# ---------------------------------------------------------------------------
# 19th replay: table MAINTENANCE under a live snapshot pin
# ---------------------------------------------------------------------------

_MAINT_SLICES = 6
_MAINT_BUCKETS = 8


def _maint_oracle() -> str:
    """Declarative simulation of the maintenance protocol: batch k
    appends time-slice k (NTILE over (ts, event_id) — unique, so the
    slicing is cross-engine deterministic); after every batch the
    pinned reader must still see exactly slice 1 (pin_intact TRUE)
    and vacuum must defer (TRUE); the post-release row reclaims
    (deferred FALSE) with the pinned columns gone NULL."""
    return f"""
    WITH sliced AS (
      SELECT user_id,
             NTILE({_MAINT_SLICES}) OVER (ORDER BY ts, event_id) AS s
      FROM events
    ),
    ks AS (SELECT UNNEST(RANGE(1, {_MAINT_SLICES} + 1)) AS k)
    SELECT CAST(k AS BIGINT) AS batch_seq,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM sliced WHERE s <= k) AS live_rows,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM sliced WHERE s = 1) AS pinned_rows,
           TRUE AS pin_intact,
           TRUE AS vacuum_deferred
    FROM ks
    UNION ALL
    SELECT CAST({_MAINT_SLICES} + 1 AS BIGINT),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sliced),
           CAST(NULL AS BIGINT), CAST(NULL AS BOOLEAN), FALSE
    """


@register("stream_maintenance_pin_replay", oracle=_maint_oracle())
def stream_maintenance_pin_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction + vacuum racing a PINNED reader across a live
    stream (VERDICT r14 next-round #7): the events stream, sliced
    into {n} files and replayed one per micro-batch, APPENDS into a
    bucketed native table via ``insert_batch`` (additive deltas).
    After batch 1 a reader takes ``snapshot()`` and holds it for the
    whole run; every subsequent batch then runs the maintenance a
    100 TB deployment schedules concurrently with ingestion —
    ``compact()`` (folds the accumulated additive deltas into a
    replace delta: REAL bucket rewrites, not a no-op) and
    ``vacuum()`` — and lands a per-batch reader verdict:

    - ``pin_intact``: the pinned lazy read still returns EXACTLY the
      batch-1 state (row count + event_id checksum re-verified
      through the pin's frozen paths) even though compaction has
      re-homed those rows into newer versions,
    - ``vacuum_deferred``: vacuum reclaimed nothing while the pin
      lives (the deferral contract, observed via its return value),
    - ``live_rows``: the live read meanwhile advances batch by batch.

    The pin heartbeats via ``renew()`` each batch (the r15 mtime-TTL
    contract) — a reader outliving any fixed TTL keeps its files.
    After the stream, the pin releases and the final row shows
    vacuum actually reclaiming (deferred=FALSE): deferral is a lease,
    not a leak. The oracle replays the whole protocol declaratively
    from the events table.

    Scale posture: per-batch maintenance I/O is O(live additive
    bytes) (the LSM fold), never O(table); verdict reads are one
    count-distinct + one 2-column sum over the pinned paths; the
    replay's landed output is {n}+1 tiny rows."""
    from pyspark.sql.window import Window as W

    from rs_streamloader_spark.sinks.native import NativeTableSink

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id")
    base = scratch_dir(spark, "replay_maint_pin", sf_dir)
    # harness-only single-partition sort fabricating arrival order
    # (same contract as stream_upsert_loader_replay — the measured
    # operator is the maintenance protocol, which never sees it).
    # Staged in ONE write, flattened: the stream schema must not
    # carry the slice column (_stage_sliced).
    sliced = ev.withColumn(
        "__slice",
        F.ntile(_MAINT_SLICES).over(W.orderBy("ts", "event_id")),
    )
    stream = _stage_sliced(
        sliced,
        "__slice",
        range(1, _MAINT_SLICES + 1),
        os.path.join(base, "in"),
        flatten=True,
    )

    table_root = os.path.join(base, "table")
    sink = NativeTableSink(
        spark, table_root, num_buckets=_MAINT_BUCKETS, bucket_by="user_id"
    )

    state: dict = {"pin": None, "sig": None}
    verdicts: list[tuple] = []

    def _signature(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count("*").alias("n"),
            F.sum("event_id").alias("eid"),
        ).first()
        return int(row["n"]), int(row["eid"] or 0)

    def _signatures(pinned: DataFrame, live: DataFrame):
        """Both reader verdicts in ONE Spark job: union the pinned and
        live reads under a side tag and aggregate per side — the same
        two (count, sum) signatures, minus one scheduler round-trip
        per micro-batch (they were two sequential .first() jobs)."""
        rows = (
            pinned.select(F.lit(0).alias("side"), "event_id")
            .unionByName(live.select(F.lit(1).alias("side"), "event_id"))
            .groupBy("side")
            .agg(F.count("*").alias("n"), F.sum("event_id").alias("eid"))
            .collect()
        )
        by = {int(r["side"]): (int(r["n"]), int(r["eid"] or 0)) for r in rows}
        return by.get(0, (0, 0)), by.get(1, (0, 0))

    def land(bdf: DataFrame, bid: int) -> None:
        sink.insert_batch(bdf.select("user_id", "ts", "event_id"), bid)
        if state["pin"] is None:
            state["pin"] = sink.snapshot()
            state["sig"] = _signature(state["pin"].read())
        else:
            # scheduled maintenance between micro-batches, under pin
            sink.compact()
            reclaimed = sink.vacuum()
            state["pin"].renew()  # heartbeat: TTL clock resets
            (pu, peid), (lu, _leid) = _signatures(
                state["pin"].read(), sink.read()
            )
            verdicts.append(
                (
                    bid + 1,
                    lu,
                    pu,
                    (pu, peid) == state["sig"],
                    reclaimed == 0,
                )
            )
            return
        lu, _ = _signature(sink.read())
        verdicts.append(
            (1, lu, state["sig"][0], True, sink.vacuum() == 0)
        )

    _run_available_now(
        spark,
        stream,
        os.path.join(base, "ckpt"),
        land,
        _replay_width(spark, [ev]),
    )

    # release the lease: the deferred garbage must now actually go
    state["pin"].release()
    reclaimed_after = sink.vacuum()
    lu, _ = _signature(sink.read())
    verdicts.append(
        (_MAINT_SLICES + 1, lu, None, None, reclaimed_after == 0)
    )
    return spark.createDataFrame(
        verdicts,
        "batch_seq bigint, live_rows bigint, pinned_rows bigint,"
        " pin_intact boolean, vacuum_deferred boolean",
    )


stream_maintenance_pin_replay.__doc__ = stream_maintenance_pin_replay.__doc__.format(
    n=_MAINT_SLICES
)


# ---------------------------------------------------------------------------
# 20th replay: mixed-format ingest routing in-stream
# ---------------------------------------------------------------------------

_ROUTER_SLICES = 5


def _router_replay_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id,
             CAST(doc_id % {_ROUTER_SLICES} AS BIGINT) AS batch_seq,
             CASE doc_id % 3 WHEN 0 THEN 'html'
                             WHEN 1 THEN 'md'
                             ELSE 'json' END AS fmt,
             CAST(LENGTH(text) AS BIGINT) AS n_chars
      FROM documents WHERE LENGTH(text) > 0
    )
    SELECT batch_seq, fmt,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_recovered
    FROM d GROUP BY batch_seq, fmt
    """


@register("stream_format_router_replay", oracle=_router_replay_oracle())
def stream_format_router_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r15 mixed-format ingest front door IN-STREAM: a file
    stream of document rows under ``maxFilesPerTrigger=1`` where each
    micro-batch synthesizes its payloads, SNIFFS each record's format
    and dispatches to the matching extractor (HTML walk / CommonMark
    walk / JSON pull — operators/webtext._route_extract riding inside
    ``foreachBatch``), then lands the per-batch-per-format admission
    tally via ``insert_batch`` (batchId-keyed, so a replayed batch
    lands exactly once). chars_recovered totals the byte-exact
    extraction output, so a mis-sniff or extraction loss in ANY batch
    breaks the per-batch rollup the oracle predicts.

    Slices are the deterministic ``doc_id % {_ROUTER_SLICES}`` split
    (batch tallies are order-independent, so the slice key needs no
    time contiguity), mtime-ordered so FileStreamSource delivers one
    slice per micro-batch.

    Scale posture: per-batch work is O(batch) map-only parsing plus a
    3-group tally; the landed table carries ≤ 3·{_ROUTER_SLICES}
    fixed-width rows; no state store."""
    from rs_streamloader_spark.operators.webtext import _route_extract
    from rs_streamloader_spark.session import load_tables
    from rs_streamloader_spark.sinks.native import NativeTableSink

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "text")
        .where(F.length("text") > 0)
        .withColumn(
            "slc", F.expr(f"CAST(doc_id % {_ROUTER_SLICES} AS INT)")
        )
    )
    base = scratch_dir(spark, "replay_fmt_router", sf_dir)
    stream = _stage_sliced(
        docs, "slc", range(_ROUTER_SLICES), os.path.join(base, "in")
    )
    sink = NativeTableSink(spark, os.path.join(base, "tallies"))

    def land_batch(bdf: DataFrame, bid: int) -> None:
        routed = bdf.select("doc_id", "text").mapInPandas(
            _route_extract,
            schema=(
                "doc_id bigint, fmt string, n_chars_extracted bigint,"
                " text_md5 string"
            ),
        )
        tally = (
            routed.join(bdf.select("doc_id", "slc"), "doc_id")
            .groupBy("slc", "fmt")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars_extracted")
                .cast("bigint")
                .alias("chars_recovered"),
            )
            .select(
                F.col("slc").cast("bigint").alias("batch_seq"),
                "fmt",
                "n_docs",
                "chars_recovered",
            )
        )
        sink.insert_batch(tally, bid)

    _run_available_now(
        spark,
        stream,
        os.path.join(base, "ckpt"),
        land_batch,
        _replay_width(spark, [docs]),
    )
    return sink.read().select(
        "batch_seq", "fmt", "n_docs", "chars_recovered"
    )


_WARC_SLICES = 6


def _warc_replay_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id,
             CAST(doc_id % {_WARC_SLICES} AS BIGINT) AS batch_seq,
             doc_id % 17 = 3 AS is_fault,
             CAST(LENGTH(text) AS BIGINT) AS n_chars
      FROM documents WHERE LENGTH(text) > 0
    )
    SELECT batch_seq,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN is_fault THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated,
           CAST(SUM(CASE WHEN is_fault THEN 0 ELSE 1 END) AS BIGINT)
             AS n_clean_recovered,
           CAST(SUM(CASE WHEN is_fault THEN 0 ELSE n_chars END)
                AS BIGINT) AS chars_clean
    FROM d GROUP BY batch_seq
    """


@register("stream_warc_ingest_replay", oracle=_warc_replay_oracle())
def stream_warc_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 21st replay: WARC capture ingestion IN-STREAM — the shape a
    live crawl feed actually takes (captures arrive continuously;
    interrupted writes arrive WITH them). Each micro-batch under
    ``maxFilesPerTrigger=1`` synthesizes its captures (the
    ``doc_id % 17`` slice tail-truncated mid-payload), walks the
    ISO-28500 framing, flags short declared-length reads, verifies
    clean captures recover the document byte-exactly through all
    three layers, and lands the per-batch admission/quarantine tally
    via ``insert_batch`` (batchId-keyed — a replayed batch lands
    exactly once). The oracle predicts every batch's split from the
    fault rule, so a parser that misses a short read in ANY batch, or
    a recovery break, or a double-landed batch each break a row.

    Scale posture: per-batch work is O(batch) map-only capture
    parsing; the landed table holds {_WARC_SLICES} fixed-width rows;
    no state store — the quarantine discipline lives in the
    exactly-once landing protocol."""
    from rs_streamloader_spark.operators.webtext import (
        _extract_warc_faults,
    )
    from rs_streamloader_spark.session import load_tables
    from rs_streamloader_spark.sinks.native import NativeTableSink

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .select("doc_id", "source", "text")
        .where(F.length("text") > 0)
        .withColumn(
            "slc", F.expr(f"CAST(doc_id % {_WARC_SLICES} AS INT)")
        )
    )
    base = scratch_dir(spark, "replay_warc_ingest", sf_dir)
    stream = _stage_sliced(
        docs, "slc", range(_WARC_SLICES), os.path.join(base, "in")
    )
    sink = NativeTableSink(spark, os.path.join(base, "tallies"))

    def land_batch(bdf: DataFrame, bid: int) -> None:
        parsed = bdf.select("doc_id", "source", "text").mapInPandas(
            _extract_warc_faults,
            schema=(
                "doc_id bigint, source string, n_records_parsed bigint,"
                " is_truncated boolean, clean_recovered boolean"
            ),
        )
        tally = (
            parsed.join(
                bdf.select(
                    "doc_id",
                    "slc",
                    F.length("text").cast("bigint").alias("n_chars"),
                ),
                "doc_id",
            )
            .groupBy("slc")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum(F.when(F.col("is_truncated"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_truncated"),
                F.sum(F.when(F.col("clean_recovered"), 1).otherwise(0))
                .cast("bigint")
                .alias("n_clean_recovered"),
                F.sum(
                    F.when(
                        F.col("clean_recovered"), F.col("n_chars")
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("chars_clean"),
            )
            .select(
                F.col("slc").cast("bigint").alias("batch_seq"),
                "n_docs",
                "n_truncated",
                "n_clean_recovered",
                "chars_clean",
            )
        )
        sink.insert_batch(tally, bid)

    _run_available_now(
        spark,
        stream,
        os.path.join(base, "ckpt"),
        land_batch,
        _replay_width(spark, [docs]),
    )
    return sink.read().select(
        "batch_seq", "n_docs", "n_truncated", "n_clean_recovered",
        "chars_clean",
    )


_DRIFT_SLICES = 5
_DRIFT_BINS = 64
_DRIFT_BIN_CENTS = 1000  # $10 bins over [0, $640); top bin clamps
_DRIFT_ALERT_BINS2 = 20  # noise-normalized alert level, bins^2 units


def _drift_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT NTILE({_DRIFT_SLICES}) OVER (ORDER BY ts, event_id)
               AS slice,
             LEAST({_DRIFT_BINS} - 1, GREATEST(0,
               CAST(FLOOR(value * 100 / {_DRIFT_BIN_CENTS}) AS BIGINT)))
               AS bin
      FROM events
    ),
    slices AS (SELECT DISTINCT slice FROM e),
    bins AS (SELECT UNNEST(range({_DRIFT_BINS})) AS bin),
    h AS (SELECT slice, bin, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
    g AS (
      SELECT s.slice, b.bin, COALESCE(h.cnt, 0) AS cnt
      FROM slices s CROSS JOIN bins b
      LEFT JOIN h ON h.slice = s.slice AND h.bin = b.bin
    ),
    g2 AS (
      SELECT slice, bin, cnt,
             COALESCE(SUM(cnt) OVER (PARTITION BY bin ORDER BY slice
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cnt_hist
      FROM g
    ),
    c AS (
      SELECT slice, bin,
             SUM(cnt) OVER (PARTITION BY slice ORDER BY bin) AS cum_s,
             SUM(cnt_hist) OVER (PARTITION BY slice ORDER BY bin)
               AS cum_h,
             SUM(cnt) OVER (PARTITION BY slice) AS n_s,
             SUM(cnt_hist) OVER (PARTITION BY slice) AS n_h
      FROM g2
    ),
    w AS (
      SELECT slice,
             CAST(MAX(n_s) AS BIGINT) AS n_events,
             CAST(MAX(n_h) AS BIGINT) AS n_history,
             CAST((1000000 * SUM(ABS(cum_s * n_h - cum_h * n_s)))
                  // (MAX(n_s) * MAX(n_h)) AS BIGINT) AS w1_micro
      FROM c WHERE n_h > 0 GROUP BY slice
    )
    SELECT CAST(slice AS BIGINT) AS batch_seq,
           n_events, n_history, w1_micro,
           CAST(w1_micro AS HUGEINT) * w1_micro * n_events * n_history
             > CAST({_DRIFT_ALERT_BINS2} AS HUGEINT) * 1000000000000
               * (n_events + n_history) AS drift_alert
    FROM w
    """


@register("stream_drift_monitor_replay", oracle=_drift_oracle())
def stream_drift_monitor_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 22nd replay: a streaming DISTRIBUTION-DRIFT monitor — each
    micro-batch's value distribution is compared against the
    ACCUMULATED history by exact 1-D Wasserstein distance over a
    frozen 64-bin histogram, and a noise-normalized alert fires when
    W1² · (n_s·n_h)/(n_s+n_h) exceeds {_DRIFT_ALERT_BINS2} bins²
    (raw W1 shrinks as 1/√n, so a fixed raw threshold either always
    fires at small batches or never at large ones — the normalized
    statistic is scale-free, and BOTH verdict branches are live at
    both compare scales, measured before the threshold froze). The
    history state is an append-only batch-tagged histogram LOG in the
    native sink — per-batch 64-bin partials landed batchId-keyed, so
    a foreachBatch retry can never fold a batch twice (the classic
    IVM double-merge bug a read-modify-write formulation invites);
    the pre-batch history is the aggregate of strictly-earlier
    partials read back from disk. Verdicts land batchId-keyed too. The
    oracle replays the slice-sequenced protocol declaratively:
    history-before-batch via a per-bin running window, the same
    integer cross-multiplied CDF terms, the same alert compare.

    Scale posture: per-batch work is one map-side-combinable 64-bin
    histogram whose ≤{_DRIFT_BINS}-row result is collected (bounded BY
    CONSTRUCTION — bin ∈ [0, {_DRIFT_BINS}), the MMR/WordPiece bounded-
    collect precedent), the prior-history read-back collected the same
    way, and the exact integer W1 + cross-multiplied CDF fold runs
    driver-side on Python ints (arbitrary precision — the DECIMAL(38)
    guards are subsumed); state is O(bins) regardless of stream length
    — the mergeable-histogram property that makes the monitor viable
    on an unbounded 100 TB stream. The r15 optimization pass replaced
    the 4 per-batch Spark jobs (seq scalar, densify localCheckpoint,
    history-total scalar, join+window W1 aggregate) with those 2
    bounded collects — protocol unchanged: the history still comes
    from the DISK read-back of strictly-earlier batchId-keyed partials,
    and both landings still ride ``insert_batch``.
    First batch has no history and lands no verdict row."""
    from pyspark.sql.window import Window as W

    from rs_streamloader_spark.sinks.native import NativeTableSink

    ev = _events(spark, sf_dir).select("ts", "event_id", "value")
    base = scratch_dir(spark, "replay_drift_mon", sf_dir)
    # harness-only single-partition sort fabricating arrival order
    # (the measured operator is the drift protocol, which never sees
    # it — same contract as stream_maintenance_pin_replay). Staged in
    # ONE write (_stage_sliced) instead of {_DRIFT_SLICES} sequential
    # filter+coalesce(1) scans of the sorted frame.
    sliced = ev.withColumn(
        "slc", F.ntile(_DRIFT_SLICES).over(W.orderBy("ts", "event_id"))
    )
    stream = _stage_sliced(
        sliced, "slc", range(1, _DRIFT_SLICES + 1), os.path.join(base, "in")
    )

    hist_store = NativeTableSink(spark, os.path.join(base, "hist"))
    verdicts = NativeTableSink(spark, os.path.join(base, "verdicts"))

    def land(bdf: DataFrame, bid: int) -> None:
        # ONE job: the batch's ≤{bins}-row histogram (bounded by
        # construction) + the slice tag, collected to the driver
        rows = (
            bdf.groupBy(
                F.expr(
                    f"LEAST({_DRIFT_BINS} - 1, GREATEST(0,"
                    f" CAST(FLOOR(value * 100 / {_DRIFT_BIN_CENTS})"
                    " AS BIGINT)))"
                ).alias("bin")
            )
            .agg(F.count("*").alias("cnt"), F.max("slc").alias("mslc"))
            .collect()
        )
        # a NULL value bins to NULL: drop it, as the old
        # bins-join densify silently did (ADVICE r15)
        rows = [r for r in rows if r["bin"] is not None]
        if not rows:  # a truly empty batch folds nothing
            return
        seq = int(max(r["mslc"] for r in rows))
        cnts = {int(r["bin"]): int(r["cnt"]) for r in rows}
        dense = spark.createDataFrame(
            [(seq, b, cnts.get(b, 0)) for b in range(_DRIFT_BINS)],
            "src_batch bigint, bin bigint, cnt bigint",
        )
        # history = the aggregate of every PRIOR batch's landed
        # histogram, read back FROM DISK and collected (≤ bins rows).
        # The per-batch histograms land batchId-keyed (below), so a
        # foreachBatch RETRY folds nothing twice — the review-caught
        # IVM double-merge hazard of the previous read-modify-write
        # formulation. FileNotFoundError is the one legitimate "no
        # history yet" signal (a never-committed store); any other
        # read failure must surface loudly, never silently reset the
        # accumulated history.
        try:
            hist_cnts = {
                int(r["bin"]): int(r["cnt"])
                for r in (
                    hist_store.read()
                    .where(F.col("src_batch") < F.lit(seq))
                    .groupBy("bin")
                    .agg(F.sum("cnt").alias("cnt"))
                    .collect()
                )
            }
            n_h = sum(hist_cnts.values())
        except FileNotFoundError:
            hist_cnts, n_h = {}, 0
        if n_h > 0:
            # exact integer W1 on the two dense 64-bin vectors —
            # Python ints are arbitrary precision, so the cross-
            # multiplied CDF terms that needed DECIMAL(38) in-plan
            # are exact here by construction
            n_s = sum(cnts.values())
            cum_s = cum_h = acc = 0
            for b in range(_DRIFT_BINS):
                cum_s += cnts.get(b, 0)
                cum_h += hist_cnts.get(b, 0)
                acc += abs(cum_s * n_h - cum_h * n_s)
            w1_micro = (1000000 * acc) // (n_s * n_h)
            verdict = spark.createDataFrame(
                [(seq, n_s, n_h, w1_micro)],
                "batch_seq bigint, n_events bigint, n_history bigint,"
                " w1_micro bigint",
            ).withColumn(
                "drift_alert",
                F.expr(
                    "CAST(w1_micro AS DECIMAL(38,0)) * w1_micro"
                    " * n_events * n_history"
                    f" > CAST({_DRIFT_ALERT_BINS2} AS DECIMAL(38,0))"
                    " * 1000000000000 * (n_events + n_history)"
                ),
            )
            verdicts.insert_batch(verdict, bid)
        # land THIS batch's histogram batchId-keyed: the history log
        # is append-only mergeable partials (O(bins·batches) tiny
        # rows), and replays are exactly-once by construction
        hist_store.insert_batch(dense, bid)

    _run_available_now(
        spark,
        stream,
        os.path.join(base, "ckpt"),
        land,
        _replay_width(spark, [ev]),
    )
    return verdicts.read().select(
        "batch_seq", "n_events", "n_history", "w1_micro", "drift_alert"
    )
