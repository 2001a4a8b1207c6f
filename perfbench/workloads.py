"""The benchmark workloads. Each is a closed loop driven by one client
thread: the next op starts when the previous one has returned.

A workload prepares its inputs and table (``prepare``), runs warm-up
ops that are not timed (``warm_up``), then runs measured ops (``op``),
each of which checks its own output, and checks the final state
(``finish``). The reasons behind each workload's shape are in
README.md beside this file.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import inputs
from inputs import SCHEMA_DDL, AppendFiles, KeyedBatches, base_frame, jsonl_bytes


@dataclass
class OpResult:
    write_s: float
    read_s: float
    rows: int  # rows committed (documents curated, on curate)
    in_bytes: int  # the op's input rows as compact JSON lines
    ok: bool
    info: dict = field(default_factory=dict)  # traced-run extras


class Workload:
    name = ""
    table_root = ""
    # A run measures a fixed number of ops: the run's seconds divided
    # by the op's nominal time on the reference host (4 cores, local[2]),
    # at least MIN_OPS. The same seed and seconds then give the same
    # ops, so the mix of op kinds in a run (compaction rounds, reads at
    # many or few live deltas) never depends on how fast the host was.
    NOMINAL_OP_S = 1.0
    MIN_OPS = 1
    trace_ops = 1  # per-layer metrics come from this many first ops

    def op_count(self, seconds: float) -> int:
        n = max(self.MIN_OPS, round(seconds / self.NOMINAL_OP_S))
        return max(n, self.trace_ops) if self.tracer is not None else n

    def __init__(self, spark, seed: int, workdir: str, tracer=None) -> None:
        self.spark = spark
        self.seed = seed
        self.dir = workdir
        self.tracer = tracer

    def fresh(self, sub: str) -> str:
        path = os.path.join(self.dir, sub)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def pinned_read(self, sink, query) -> tuple[float, object, object]:
        """Pin the table, run ``query`` on the pinned read, collect.
        Returns (seconds, result, pinned DataFrame)."""
        t0 = time.perf_counter()
        with sink.snapshot() as pin:
            df = pin.read()
            out = query(df)
        return time.perf_counter() - t0, out, df

    def read_info(self, df) -> dict:
        if self.tracer is None:
            return {}
        versions = [
            n for n in os.listdir(self.table_root) if n[:2] in ("v_", "d_", "a_")
        ]
        return {"read_files": len(df.inputFiles()), "version_dirs": len(versions)}


class CdcUpsert(Workload):
    """Keyed upserts of small, skewed list-of-dicts bodies through
    ``Loader.upsert(dedupe="last")`` into a bucketed table, each read
    back at once with a pinned point lookup of the batch's keys."""

    name = "cdc_upsert"
    N_BASE = 20_000
    BUCKETS = 32
    KEYS = 16
    ROWS = 200
    WARMUP_OPS = 3
    NOMINAL_OP_S = 1.75
    MIN_OPS = 5
    trace_ops = 4

    def prepare(self) -> None:
        from rs_streamloader_spark.sinks.native import NativeTableSink

        self.table_root = self.fresh("table")
        self.stage_root = self.fresh("stage") + "/"
        self.sink = NativeTableSink(
            self.spark, self.table_root, num_buckets=self.BUCKETS, bucket_by="id"
        )
        self.sink.trunc_insert(base_frame(self.spark, self.N_BASE, self.seed))
        self.batches = KeyedBatches(self.seed, self.N_BASE, self.ROWS, self.KEYS)

    def warm_up(self) -> None:
        for _ in range(self.WARMUP_OPS):
            if not self.op().ok:
                raise RuntimeError("cdc_upsert warm-up op failed its check")

    def op(self) -> OpResult:
        from rs_streamloader_spark.loader import Loader

        body = self.batches.next_batch()
        keys = sorted({r["id"] for r in body})
        t0 = time.perf_counter()
        loader = Loader(
            self.spark,
            {"table": "bench.cdc", "id_field": "id"},
            sink=self.sink,
            staging_root=self.stage_root,
        )
        loader.add_source(body, schema=SCHEMA_DDL)
        loader.upsert(dedupe="last")
        write_s = time.perf_counter() - t0
        read_s, got, df = self.pinned_read(
            self.sink, lambda d: d.filter(F.col("id").isin(keys)).collect()
        )
        ok = {r["id"]: r.asDict() for r in got} == {
            k: self.batches.expected(k) for k in keys
        }
        return OpResult(write_s, read_s, len(keys), jsonl_bytes(body), ok,
                        self.read_info(df))

    def finish(self) -> tuple[bool, int]:
        """The whole table equals the latest row per key, computed from
        the benchmark's own inputs."""
        pdf = self.sink.read().toPandas()
        b = self.batches
        want = {i: inputs.base_row(i, self.seed) for i in range(self.N_BASE)}
        want.update(b.latest)
        got = {int(r["id"]): r for r in pdf.to_dict("records")}
        ok = len(pdf) == len(want) and all(
            got.get(k) is not None
            and {c: _py(v) for c, v in got[k].items()} == row
            for k, row in want.items()
        )
        return ok, len(pdf)


class AppendScan(Workload):
    """Streaming appends: each round lands one JSON-lines file and calls
    ``StreamingLoader.run_available()`` (insert mode, one file per
    trigger), then reads the table through a snapshot pin: an aggregate
    and a point lookup of keys just landed.

    Auto-compaction folds the additive deltas once more than 16 have
    accumulated (``COMPACT_AFTER`` in the sink). Warm-up rounds and
    direct appends leave the table with ``PRESEED`` live deltas, so
    with that threshold every run's window starts with reads over 15
    and 16 live deltas, compacts on its third round and then reads a
    table with few deltas. The window holds a fixed number of rounds,
    so each run holds the same mix.

    4 buckets: with the 32 of cdc_upsert, a read over 16 deltas lists
    hundreds of directories and one round outlasts the run's time
    budget."""

    name = "append_scan"
    N_BASE = 20_000
    BUCKETS = 4
    ROWS = 1000
    WARMUP_ROUNDS = 2
    PRESEED = 14
    LOOKUPS = 16
    NOMINAL_OP_S = 2.2
    MIN_OPS = 6
    trace_ops = 6

    def prepare(self) -> None:
        from rs_streamloader_spark.sinks.native import NativeTableSink
        from rs_streamloader_spark.streaming.ingest import StreamingLoader

        self.table_root = self.fresh("table")
        self.source_dir = self.fresh("landing")
        self.tmp_dir = self.fresh("landing_tmp")
        self.sink = NativeTableSink(
            self.spark, self.table_root, num_buckets=self.BUCKETS, bucket_by="id"
        )
        self.sink.trunc_insert(base_frame(self.spark, self.N_BASE, self.seed))
        self.stream = StreamingLoader(
            self.spark,
            self.source_dir,
            SCHEMA_DDL,
            self.sink,
            load_mode="insert",
            checkpoint_dir=self.fresh("checkpoint"),
            max_files_per_trigger=1,
        )
        self.files = AppendFiles(self.seed, self.N_BASE, self.ROWS)
        self.rounds = 0
        self.total_rows = self.N_BASE
        self.id_sum = self.N_BASE * (self.N_BASE - 1) // 2
        self.seq_sum = 0

    def _count(self, rows: list[dict]) -> None:
        self.total_rows += len(rows)
        self.id_sum += sum(r["id"] for r in rows)
        self.seq_sum += sum(r["seq"] for r in rows)

    def warm_up(self) -> None:
        for _ in range(self.WARMUP_ROUNDS):
            if not self.op().ok:
                raise RuntimeError("append_scan warm-up round failed its check")
        # the rest of the live deltas come from direct appends, which
        # are cheaper than stream rounds once the stream path is warm
        for _ in range(self.PRESEED - self.WARMUP_ROUNDS):
            rows = self.files.next_rows()
            self.sink.insert(self.spark.createDataFrame(rows, SCHEMA_DDL))
            self._count(rows)

    def op(self) -> OpResult:
        rows = self.files.next_rows()
        seen = len(self.stream.batches_seen)
        t0 = time.perf_counter()
        size = AppendFiles.land(
            rows, self.tmp_dir, self.source_dir, f"part-{self.rounds:06d}.json"
        )
        self.stream.run_available()
        write_s = time.perf_counter() - t0
        self.rounds += 1
        batches = len(self.stream.batches_seen) - seen
        self._count(rows)
        keys = [r["id"] for r in rows[:: self.ROWS // self.LOOKUPS]]

        def query(df):
            agg = df.agg(F.count(F.lit(1)), F.sum("id"), F.sum("seq")).collect()[0]
            return tuple(agg), df.filter(F.col("id").isin(keys)).collect()

        read_s, (agg, hits), df = self.pinned_read(self.sink, query)
        want = {r["id"]: r for r in rows}
        ok = (
            batches >= 1
            and agg == (self.total_rows, self.id_sum, self.seq_sum)
            and sorted(r["id"] for r in hits) == keys
            and all(r.asDict() == want[r["id"]] for r in hits)
        )
        info = self.read_info(df)
        info["batches"] = batches
        return OpResult(write_s, read_s, len(rows), size, ok, info)

    def finish(self) -> tuple[bool, int]:
        agg = self.sink.read().agg(
            F.count(F.lit(1)), F.sum("id"), F.sum("seq")
        ).collect()[0]
        return tuple(agg) == (self.total_rows, self.id_sum, self.seq_sum), agg[0]


CURATE_CHAIN = (
    "quality_gopher_rules",
    "dedup_minhash_lsh",
    "embedding_near_dup",
    "dedup_semantic",
    "pretrain_pipeline_e2e",
)


class Curate(Workload):
    """Curation passes over a generated corpus: drop the session's
    stage and table caches, run the operator chain with one noop write
    per query, land the last query's output with
    ``Loader.trunc_insert``, and read the landed table back."""

    name = "curate"
    N_DOCS = 1000
    N_VECS = 500
    # a run holds one pass, so the landing (~1 s) and the read-back
    # (~0.2 s) are repeated and their medians reported: one sample of
    # each spread 14-22% across ten runs
    LANDINGS = 3
    READBACKS = 5
    NOMINAL_OP_S = 8.0
    MIN_OPS = 1
    trace_ops = 1

    def prepare(self) -> None:
        from rs_streamloader_spark.sinks.native import NativeTableSink

        self.corpus = self.fresh("corpus")
        self.planted = inputs.write_corpus(
            self.seed, self.corpus, self.N_DOCS, self.N_VECS
        )
        self.table_root = self.fresh("table")
        self.stage_root = self.fresh("stage") + "/"
        self.sink = NativeTableSink(self.spark, self.table_root)

    def warm_up(self) -> None:
        """The first pass also checks every query against its DuckDB
        oracle on the generated corpus and records the row counts that
        every measured pass must repeat."""
        import __spark_entry__ as entry

        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        self.counts = None
        res = self._pass(compare=oracles)
        if not res.ok:
            raise RuntimeError("curate warm-up pass does not match the oracles")
        self.counts = res.info["counts"]
        self.landed = res.info["landed"]

    def op(self) -> OpResult:
        return self._pass()

    def _pass(self, compare: dict | None = None) -> OpResult:
        from pyspark.sql import Observation

        from rs_streamloader_spark import session
        from rs_streamloader_spark.loader import Loader

        session.clear_stage_cache()
        session.clear_table_cache()
        counts = {}
        ok = True
        df = None
        for q in CURATE_CHAIN:
            with self._span(f"{q}.build"):
                df = self.queries[q](self.spark, self.corpus)
            if compare is not None:
                # the oracle check collects the result in place of the
                # noop write, so the query runs once in this pass too
                pdf = df.toPandas()
                counts[q] = len(pdf)
                ok = ok and _same_rows(pdf, self._oracle(compare[q]))
                continue
            obs = Observation(q)
            with self._span(f"{q}.exec"):
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                    "noop"
                ).mode("overwrite").save()
            counts[q] = obs.get["n"]
        writes = []
        for _ in range(self.LANDINGS):
            tw = time.perf_counter()
            loader = Loader(
                self.spark, {"table": "bench.curated"}, sink=self.sink,
                staging_root=self.stage_root,
            )
            loader.add_source(df)
            loader.trunc_insert()
            writes.append(time.perf_counter() - tw)
        write_s = statistics.median(writes)
        reads = [
            self.pinned_read(self.sink, lambda d: d.collect())
            for _ in range(self.READBACKS)
        ]
        read_s = statistics.median(r[0] for r in reads)
        _, got, pinned = reads[-1]
        landed = sorted(tuple(r) for r in got)
        rows = [r.asDict() for r in got]
        ok = ok and all(sorted(tuple(r) for r in g) == landed for _, g, _ in reads)
        if self.counts is not None:
            ok = ok and counts == self.counts and landed == self.landed
        info = self.read_info(pinned)
        info.update(counts=counts, landed=landed)
        # each landing retires the one before it, so the op's table
        # diff holds one landing's files: the base is one landing's rows
        return OpResult(write_s, read_s, self.N_DOCS, jsonl_bytes(rows), ok, info)

    def _span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, details=True)

    def _oracle(self, sql: str):
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(self.corpus, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            return con.execute(sql).fetchdf()
        finally:
            con.close()

    def finish(self) -> tuple[bool, int]:
        return True, len(self.landed)


def _py(v):
    """A pandas cell as the plain Python value the inputs hold."""
    return v.item() if hasattr(v, "item") else v


def _norm(pdf) -> list[tuple]:
    pdf = pdf[sorted(pdf.columns)]
    rows = []
    for row in pdf.itertuples(index=False):
        rows.append(
            tuple(
                None
                if v is None or (isinstance(v, float) and math.isnan(v))
                else round(v, 9) if isinstance(v, float) else _py(v)
                for v in row
            )
        )
    return sorted(rows, key=repr)


def _same_rows(pdf, oracle_pdf) -> bool:
    """Spark result equals the oracle's, ignoring row order (doubles
    compared to 9 places), as the catalog's oracle gate compares."""
    return sorted(pdf.columns) == sorted(oracle_pdf.columns) and _norm(pdf) == _norm(
        oracle_pdf
    )


WORKLOADS = {w.name: w for w in (CdcUpsert, AppendScan, Curate)}
