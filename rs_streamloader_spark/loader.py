"""The ``Loader`` facade — the reference's public API re-expressed
Spark-first (SURVEY.md §3.4).

Mirrors the observable contract of ``RedshiftLoader``
(/root/reference/lib/RedshiftLoader.ts):

- ``add_source`` / ``add_sources`` accumulate bodies; adding after the
  load started raises ``RS_LOAD_STARTED`` (RedshiftLoader.ts:137-142);
- ``insert()`` / ``trunc_insert()`` / ``upsert()`` converge on
  ``_start`` (RedshiftLoader.ts:267-298): union sources → staged part
  write (+ manifest) → sink step → wrap-up with the cleanup policy;
- lifecycle events ``progress`` / ``done`` / ``error`` with the
  reference's task names (uploadedFile / uploadedManifest /
  deleteObjects / done — RedshiftLoader.ts:167-171, 286-297);
- ``abort()`` cancels and deletes staged objects
  (RedshiftLoader.ts:219-223);
- cleanup policy ``ALWAYS | SUCCESS | NEVER`` applied in ``_wrap_up``
  (RedshiftLoader.ts:198-257).

Unlike the reference (eager uploads at ``addFile`` time), sources stay
lazy Catalyst plans until ``_start`` — the observable contract (all
pre-start adds load; post-start adds fail) is preserved while letting
Spark pipeline the whole job. True incremental arrival is the
streaming path (rs_streamloader_spark.streaming).
"""

from __future__ import annotations

import os
import uuid
from collections import defaultdict
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from rs_streamloader_spark.config import (
    CleanupPolicy,
    LoaderOptions,
    TableRef,
    job_time,
    merge_options,
    parse_table,
    resolve_loading_table,
    staging_table_name,
)
from rs_streamloader_spark.errors import NO_FILES, RS_LOAD_STARTED, LoaderError
from rs_streamloader_spark.sinks.native import NativeTableSink
from rs_streamloader_spark.sources import to_dataframe
from rs_streamloader_spark.staging import (
    delete_stage,
    stage_options,
    write_manifest,
    write_stage,
)

INSERT = "INSERT"
TRUNCATE_INSERT = "TRUNCATE_INSERT"
UPSERT = "UPSERT"


class Loader:
    """One instance = one load job with a ``job_time`` identity
    (RedshiftLoader.ts:10-12, 66)."""

    def __init__(
        self,
        spark: SparkSession,
        options: LoaderOptions | dict | None = None,
        defaults: LoaderOptions | dict | None = None,
        body: Any = None,
        bodies: list | None = None,
        sink: NativeTableSink | None = None,
        staging_root: str | None = None,
    ) -> None:
        self.spark = spark
        self.options = merge_options(options, defaults)
        self.job_time = job_time()
        self.job_id = uuid.uuid4().hex[:8]
        self.table: TableRef | None = (
            parse_table(self.options.table) if self.options.table else None
        )
        self.loading_table: TableRef | None = (
            resolve_loading_table(self.table, self.options.loading_table)
            if self.options.loading_table and self.table
            else None
        )
        self._sources: list[DataFrame] = []
        self._started = False
        self._aborted = False
        self._listeners: dict[str, list[Callable]] = defaultdict(list)
        self._staging_ref: TableRef | None = None
        # sink is assigned BEFORE the file-prefix callable runs — the
        # reference invokes filePrefix on the fully constructed loader
        # (RedshiftLoader.ts:128-134), so the callable may read any
        # attribute, including the sink
        self.sink = sink
        bucket = self.options.s3_bucket
        if bucket and "://" not in bucket and not bucket.startswith("/"):
            # the reference's s3Bucket option is a bare BUCKET NAME —
            # a relative local path here would silently stage to the
            # default FS instead of S3
            bucket = f"s3a://{bucket}"
        self._staging_root = staging_root or os.path.join(
            bucket or "/tmp/rs_streamloader_stage", ""
        )
        self.stage_prefix = os.path.join(
            self._staging_root, f"{self._file_prefix()}{self.job_time}_{self.job_id}"
        )
        if body is not None:
            self.add_source(body)
        for b in bodies or []:
            self.add_source(b)

    # ------------------------------------------------------------------
    # events (RedshiftLoader.ts:1, 35 — EventEmitter surface)
    # ------------------------------------------------------------------
    def on(self, event: str, fn: Callable) -> "Loader":
        self._listeners[event].append(fn)
        return self

    def _emit(self, event: str, payload: Any = None) -> None:
        for fn in self._listeners[event]:
            fn(payload) if payload is not None else fn()

    def _debug(self, *args: Any) -> None:
        if self.options.debug:  # RedshiftLoader.ts:124-127
            print("[Loader]", *args)

    def _file_prefix(self) -> str:
        fp = self.options.file_prefix  # str or fn(loader) — types.ts:55
        return fp(self) if callable(fp) else (fp or "")

    # ------------------------------------------------------------------
    # ingestion (RedshiftLoader.ts:135-197)
    # ------------------------------------------------------------------
    def add_source(self, body: Any, schema: Any = None) -> "Loader":
        """Add one upload body. Raises once the load started
        (RS_LOAD_STARTED guard, RedshiftLoader.ts:137-142). ``schema``
        (DDL string or StructType) is required for path bodies when
        ``copy_settings.max_error > 0`` or a non-auto ``time_format``
        is in effect — the COPY-knob reader needs the declared types."""
        if self._started:
            raise LoaderError(
                RS_LOAD_STARTED, "cannot add files after the load has started"
            )
        df = to_dataframe(
            self.spark,
            body,
            fmt=self.options.copy_settings.format.lower(),
            schema=schema,
            copy_settings=self.options.copy_settings,
        )
        self._sources.append(df)
        self._emit("progress", {"task": "addedFile", "i": len(self._sources) - 1})
        return self

    add_file = add_source  # reference naming alias

    def add_sources(self, bodies: list) -> "Loader":
        for b in bodies:
            self.add_source(b)
        return self

    add_files = add_sources

    @property
    def n_sources(self) -> int:
        return len(self._sources)

    # ------------------------------------------------------------------
    # load modes (RedshiftLoader.ts:267-275)
    # ------------------------------------------------------------------
    def create_table(self, schema: Any = None, if_not_exists: bool = True) -> str:
        """M6 ``createTable`` (reference README.md:52 — documented
        there but never implemented in lib/): create the target table,
        from an explicit schema or from the union of the added
        sources. Does not start the load — sources stay addable."""
        if self.sink is None:
            raise ValueError("create_table requires a sink")
        if schema is None:
            if not self._sources:
                raise LoaderError(
                    NO_FILES, "create_table needs a schema or at least one source"
                )
            df = self._sources[0]
            for other in self._sources[1:]:
                df = df.unionByName(other, allowMissingColumns=True)
            schema = df.schema
        self.sink.create_table(schema, if_not_exists=if_not_exists)
        self._emit("progress", {"task": "createdTable"})
        return "SUCCESS"

    def insert(self) -> str:
        return self._start(INSERT)

    def trunc_insert(self) -> str:
        return self._start(TRUNCATE_INSERT)

    def upsert(self, dedupe: str | None = None) -> str:
        return self._start(UPSERT, dedupe=dedupe)

    # ------------------------------------------------------------------
    # lifecycle (RedshiftLoader.ts:276-298)
    # ------------------------------------------------------------------
    def _start(self, upload_type: str, dedupe: str | None = None) -> str:
        if not self._sources:  # :277-279
            raise LoaderError(NO_FILES, "no files were added to the loader")
        self._started = True
        # tag this thread's Spark jobs so abort() from another thread
        # can cancel the in-flight staging write
        self.spark.sparkContext.setJobGroup(
            self.job_id, f"loader {self.job_time}", interruptOnCancel=True
        )
        error: Exception | None = None
        try:
            df = self._sources[0]
            for other in self._sources[1:]:
                df = df.unionByName(other, allowMissingColumns=True)

            cs = self.options.copy_settings
            stage = write_stage(
                df,
                self.stage_prefix,
                fmt=self.options.staging_format,
                gzip=cs.gzip,
                max_records_per_file=self.options.max_records_per_file,
            )
            self._emit("progress", {"task": "uploadedFile", "count": len(stage.files)})
            write_manifest(self.spark, stage)
            self._emit("progress", {"task": "uploadedManifest"})

            if self.sink is not None:
                if hasattr(self.sink, "load_staged"):
                    # manifest-driven sink (Redshift COPY): the warehouse
                    # reads the staged parts itself — SURVEY.md §3.2
                    # boundary (3), Redshift cluster→S3
                    self.sink.load_staged(
                        stage,
                        upload_type,
                        id_field=self.options.id_field,
                        dedupe=dedupe,
                    )
                else:
                    # read back with the union's schema: JSON inference
                    # would stringify timestamps, drop all-null columns,
                    # and fail outright on zero-row stages
                    staged = (
                        self.spark.read.schema(df.schema)
                        .options(**stage_options(self.options.staging_format))
                        .format(self.options.staging_format)
                        .load(stage.data_prefix)
                    )
                    # COPY columnMap semantics against the existing
                    # target schema (types.ts:32-40); the cheap test
                    # first, since exists() lists every version dir
                    if (
                        (cs.column_map != "auto" or cs.jsonpaths)
                        and hasattr(self.sink, "exists")
                        and self.sink.exists()
                    ):
                        from rs_streamloader_spark.sources.copy_reader import (
                            align_columns,
                        )

                        staged = align_columns(
                            staged,
                            self.sink.read().schema,
                            column_map=cs.column_map,
                            jsonpaths=cs.jsonpaths,
                        )
                    if upload_type == INSERT:
                        self.sink.insert(staged)
                    elif upload_type == TRUNCATE_INSERT:
                        self.sink.trunc_insert(staged)
                    else:
                        self.sink.upsert(
                            staged, id_field=self.options.id_field, dedupe=dedupe
                        )
            self._emit("progress", {"task": "done", "res": "SUCCESS"})
            self._emit("done", "SUCCESS")  # reference payload, :286-291
            return "SUCCESS"
        except Exception as exc:  # :292-297
            error = exc
            self._emit("error", exc)
            raise
        finally:
            self.spark.sparkContext.setJobGroup("", "")
            self._wrap_up(error)

    def _wrap_up(self, error: Exception | None = None) -> None:
        """Apply the S3 cleanup policy (RedshiftLoader.ts:198-257).
        An aborted job always deletes: abort()'s own delete races the
        in-flight write (cancelJobGroup is async, tasks may still
        commit files after it), so the job thread re-deletes here once
        the write has actually stopped."""
        policy = CleanupPolicy.coerce(self.options.s3_cleanup)
        should = (
            self._aborted
            or policy is CleanupPolicy.ALWAYS
            or (policy is CleanupPolicy.SUCCESS and error is None)
        )
        if should:
            if delete_stage(self.spark, self.stage_prefix):
                self._emit("progress", {"task": "deleteObjects"})

    # ------------------------------------------------------------------
    # cancellation (RedshiftLoader.ts:209-223)
    # ------------------------------------------------------------------
    def abort(self) -> None:
        """Cancel + delete staged objects (RedshiftLoader.ts:219-223).
        cancelJobGroup is asynchronous — in-flight tasks may commit
        files after the delete below, so a concurrent ``_start`` also
        re-deletes in its wrap-up once its write has stopped."""
        self._started = True  # closes add_source
        self._aborted = True
        self.spark.sparkContext.cancelJobGroup(self.job_id)
        delete_stage(self.spark, self.stage_prefix)
        self._emit("progress", {"task": "deleteObjects"})

    def staging_table(self) -> TableRef:
        """Unique per-job staging table name (RedshiftLoader.ts:343-350)
        — generated once and reused, so repeated calls (auditing,
        monitoring) name the same table."""
        if self.loading_table is not None:
            return self.loading_table
        assert self.table is not None
        if self._staging_ref is None:
            self._staging_ref = staging_table_name(self.table, self.job_time)
        return self._staging_ref

    def get_qualified_table(self, which: str = "table") -> str:
        """Qualified name resolution (RedshiftLoader.ts:258-266); the
        reference asserts on unknown table types rather than silently
        answering."""
        if which not in ("table", "loading", "loadingTable"):
            raise ValueError(f"unknown table type: {which!r}")
        ref = self.table if which == "table" else self.staging_table()
        assert ref is not None
        return ref.dotted


class LoaderFactory:
    """Factory with layered defaults (reference
    ``RedshiftLoaderFactory``, lib/index.ts:4-12)."""

    def __init__(self, spark: SparkSession, defaults: LoaderOptions | dict | None = None):
        self.spark = spark
        self.defaults = defaults

    def create_loader(self, options: LoaderOptions | dict | None = None, **kw) -> Loader:
        return Loader(self.spark, options=options, defaults=self.defaults, **kw)
