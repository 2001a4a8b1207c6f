"""Native (Spark-managed) table sink: append / overwrite / keyed
upsert over parquet paths (SURVEY.md §2.2 M1-M5).

The reference's three load modes (lib/RedshiftLoader.ts:267-275,
337-386) re-expressed for a lake table:

- INSERT          → an additive delta holding only the new rows
- TRUNCATE_INSERT → write a new full version, retire the old
- UPSERT          → DELETE-then-INSERT as a relational rewrite: the
  target rows whose id the batch does not carry, plus the batch,
  committed as a new version — the plain-parquet stand-in for a Delta
  ``MERGE INTO``.

Commit protocol: versioned directories where the commit marker is the
``_SUCCESS`` file Spark's output committer writes atomically at job
completion. Readers resolve committed versions only — a crash
mid-write leaves an uncommitted (ignored) directory, a crash after
commit but before old-version cleanup leaves two committed versions of
which the newer wins deterministically. Leftover directories are
retired on the next successful commit.

One physical layout: rows are hash-assigned to N key buckets
(``pmod(hash(cast(key as string)), N)``; N defaults to 1, and a
one-bucket table needs no key column) written as ``__b=<k>/``
partition subdirectories, in three version kinds: full ``v_<n>``
(replaces the table), REPLACE deltas ``d_<n>`` (upserts: replace only
the buckets whose keys appear in the batch), and ADDITIVE deltas
``a_<n>`` (appends: ONLY the new rows — O(batch) I/O, never a
read-merge-rewrite of bucket content). Every commit bumps the version
number, so ``read(version=n)`` is stable under later writes. Readers
resolve each bucket to its newest replace-kind version — flooring at
the newest full version, so TRUNCATE cannot resurrect older rows —
unioned with every additive delta newer than that winner; shadowed
bucket copies are pruned best-effort after replace commits
(resolution is correct without pruning). This is the reference's
touch-only-matched-keys upsert (RedshiftLoader.ts:377-380) on the
native path: a 0.1% update batch rewrites ~0.1%·N buckets, not 100 TB,
and appends never rewrite at all (a one-bucket table's upsert rewrites
the whole table, which is its one bucket). ``insert_batch`` carries
its batch id in the delta dirname (``…_b<id>_…``) as the replay
marker; pruning keeps tagged dirs (possibly emptied) alive so
crash-replayed batches stay exactly-once. The bucket count and key,
the table schema and the highest applied batch id live in
``_bucketspec`` at the table root (written atomically via tmp+rename
after every commit) so re-opened sinks bucket identically.

Reference upsert semantics are preserved exactly: duplicate ids
*within* a batch all survive (the reference COPYs every temp row into
the target — RedshiftLoader.ts:379-380), and a NULL id matches no
target row. ``dedupe='last'`` opts into the saner latest-wins variant.

Scale: an upsert is one shuffle. The touched buckets' live rows and
the batch's rows are unioned with a tag (0 = target, 1 = batch),
clustered by bucket once, and a window over (bucket, id) keeps the
winners: the batch's rows of an id shadow the target's. The window's
sort also orders the partitioned write, so the merge adds no stage of
its own. A one-bucket table skips the clustering (``_clustered``):
the window's own exchange is its one shuffle. The only driver-side
materialization anywhere is the ≤N-element bucket set of an update
batch on a multi-bucket table, observed by one Spark job with no
shuffle (``_touched_buckets``).

Read roots: a read hands Spark one path per committed version
dir whose bucket dirs are all live (every base or additive version that
nothing shadows) and a ``__b=k`` path per live bucket only for versions
that also hold shadowed or unread buckets (``_read_roots``). Spark
lists the files of more input paths than
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (default 32)
in a Spark job of its own, one task per path; one path per (version,
bucket) put a 4-bucket table past that after 8 live deltas, so a read
over 16 deltas paid a listing job before it read a row. The same
threshold applies to the children of each root, so a version dir
holding more bucket dirs than that stays bucket-level: collapsed, it
would list its children in a job of its own. Reads set
``recursiveFileLookup``, so a collapsed root infers no ``__b``
partition column.

Concurrency (VERDICT r11 item 3): every mutating operation serializes
on a table-level writer lock — an atomically-created ``_writer.lock``
file at the table root (Hadoop ``createNewFile``; atomic on local/HDFS)
plus an in-process RLock for threads sharing one sink. A contending
writer retries with the reference's exponential backoff policy
(1s·3ⁿ, same shape as sinks/transaction.py ≈ core.ts:49-53) and fails
with a clean ``LoaderError(WRITER_LOCK_TIMEOUT)`` if the lock never
frees; a lock older than ``_LOCK_STALE_SEC`` is presumed crashed and
stolen with a loud warning (the versioned-commit protocol keeps a
crashed writer's partial output invisible regardless). This upgrades
the old "concurrent writers must be externally serialized" docstring
contract into enforced serialization: two racing ``Loader.upsert()``
calls now apply in some serial order instead of silently losing one
batch's rewrite.

Snapshot isolation (VERDICT r13 next-round #4; hardened per ADVICE
r14): ``snapshot()`` pins the current committed version with a marker
file under ``_pins/`` at the table root; while any unexpired pin
exists, replace commits still land (writers never block on readers)
but PHYSICAL pruning of shadowed data is deferred, so the lazy plan
returned by ``pin.read()`` keeps resolving its files across
concurrent upserts — no caller-side checkpointing needed. Version
resolution is correct with stale copies present (``_bucket_paths``
picks newest-wins), so deferral costs only disk. The pin protocol is
resolve → durably land the marker → RE-verify the live version is
unchanged (retry on movement, serializing against the writer lock
after ``_PIN_ATTEMPTS``), which closes both the resolve-vs-prune race
and the vacuum pin-listing TOCTOU with one reader-side check; the
verified pin then freezes its resolved read roots and the spec
schema. ``vacuum()`` reclaims the deferred garbage
once pins are released; a pin whose marker MTIME is older than
``_PIN_TTL_SEC`` belongs to a crashed reader and is ignored and swept
(the reader-side mirror of the writer lock's stale-steal) — live
long-running readers heartbeat via ``SnapshotPin.renew()``. This is
the Delta/Iceberg snapshot-read analogue for the plain-parquet native
sink (SURVEY §7 ACID requirement; the reference gets the same
property from Redshift transactions, core.ts:7-60).
"""

from __future__ import annotations

import json
import logging
import re
import threading
import time
import uuid
import zlib
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rs_streamloader_spark.errors import LoaderError
from rs_streamloader_spark.sources.normalize import local_frame

_LOG = logging.getLogger(__name__)

WRITER_LOCK_TIMEOUT = "WRITER_LOCK_TIMEOUT"
_LOCK_NAME = "_writer.lock"
_LOCK_ATTEMPTS = 5  # first try + 4 backoff retries (transaction.py shape)
_LOCK_BACKOFF_BASE = 1.0  # seconds; sleep base·3ⁿ between attempts
_LOCK_STALE_SEC = 600.0  # presume a lock this old belongs to a crash

_PINS_DIR = "_pins"
_PIN_RE = re.compile(r"^pin_(\d+)_(\d+)_[0-9a-f]+$")  # version, create-epoch
_PIN_TTL_SEC = 3600.0  # presume a pin this old belongs to a crashed reader
# snapshot() lock-free resolve→pin→verify attempts before falling back
# to serializing against the writer lock (only under continuous writes)
_PIN_ATTEMPTS = 3

_VERSION_RE = re.compile(r"^v_(\d+)_[0-9a-f]+$")  # full version
_DELTA_RE = re.compile(r"^d_(\d+)_(?:b(\d+)_)?[0-9a-f]+$")  # replace delta
_ADDITIVE_RE = re.compile(r"^a_(\d+)_(?:b(\d+)_)?[0-9a-f]+$")  # additive delta
BUCKET_COL = "__b"
# Spark lists more input paths (or child dirs) than this in a job
_DISCOVERY_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"

FULL, DELTA, ADDITIVE = "full", "delta", "additive"

# upsert merge: 0 tags a live target row, 1 an update row
_TAG = "__tag"

# auto-compaction threshold: fold additive deltas into a replace delta
# once more than this many have accumulated (see _append)
COMPACT_AFTER = 16


def _version_of(name: str) -> tuple[int, str] | None:
    """(version number, kind) for a version dirname, else None.
    Kinds: FULL (``v_``, replaces the whole table), DELTA (``d_``,
    replaces its buckets), ADDITIVE (``a_``, adds rows to its
    buckets)."""
    m = _VERSION_RE.match(name)
    if m:
        return int(m.group(1)), FULL
    m = _DELTA_RE.match(name)
    if m:
        return int(m.group(1)), DELTA
    m = _ADDITIVE_RE.match(name)
    if m:
        return int(m.group(1)), ADDITIVE
    return None


def _list_status_safe(fs, jpath):
    """``fs.listStatus`` that treats a concurrently-deleted directory
    as empty. Every resolver walk (committed versions, bucket dirs,
    append subdirs) can race a writer's prune of SHADOWED copies —
    newest-wins resolution never needs the vanishing dirs, but the
    walk still touches them, and the exists()-then-list window let a
    ``FileNotFoundException`` escape (caught live by the snapshot
    thread-race test once snapshot() started freezing its path set).
    Deleted-mid-walk ≡ already-pruned, so empty is the correct
    answer; any other error still raises."""
    try:
        return fs.listStatus(jpath)
    except Exception as exc:  # py4j wraps the java IOException
        if "FileNotFoundException" in str(exc):
            return []
        raise


def _locked(method):
    """Run a mutating sink method under the table writer lock."""
    import functools

    @functools.wraps(method)
    def wrapper(self, *args, **kwargs):
        with self._writer_lock():
            return method(self, *args, **kwargs)

    return wrapper


def _batch_tag_of(name: str) -> int | None:
    """The replay batch id carried in a delta/additive dirname."""
    for rx in (_DELTA_RE, _ADDITIVE_RE):
        m = rx.match(name)
        if m and m.group(2) is not None:
            return int(m.group(2))
    return None


class SnapshotPin:
    """Handle for a pinned committed version (``NativeTableSink.
    snapshot()``): ``read()`` returns the table exactly as committed
    at pin time and the pin defers physical pruning so that lazy plan
    stays valid across concurrent upserts. Release with ``release()``
    or use as a context manager.

    The pin freezes the resolved read roots at creation: ``_read_roots``'
    collapsed set, where a version dir stands for all its buckets when
    every one is live at pin time. Pruning is deferred while the pin
    lives and every commit lands in a new version dir, so the content
    under those roots cannot change.

    A pin whose marker mtime is older than ``_PIN_TTL_SEC`` belongs to
    a presumed-crashed reader and is swept by the next writer; a
    legitimately long-lived reader (a 100 TB scan can outlive any
    fixed TTL) calls ``renew()`` periodically — each renewal touches
    the marker's mtime, resetting the clock."""

    def __init__(
        self,
        sink: "NativeTableSink",
        version: int,
        name: str,
        paths: list[str] | None = None,
        spec_json: str | None = None,
    ):
        self.sink = sink
        self.version = version
        self._name = name
        self._paths = paths
        self._released = False
        # the spec schema frozen alongside the path set: a pinned
        # read then needs no mergeSchema footer sweep (one Spark job
        # per read), and the schema is exactly the table's declared
        # schema as of pin time — immune to later widening
        self._spec_json = spec_json

    def read(self) -> DataFrame:
        return self.sink._read_pinned(self)

    def renew(self) -> None:
        """Heartbeat: reset the pin's TTL clock (marker mtime). Call
        from long-lived readers so a >TTL plan isn't swept as crashed
        while it still resolves files."""
        if not self._released:
            self.sink._renew_pin(self._name)

    def release(self) -> None:
        if not self._released:
            self.sink._release_pin(self._name)
            self._released = True

    def __enter__(self) -> "SnapshotPin":
        return self

    def __exit__(self, *_exc) -> None:
        self.release()


class NativeTableSink:
    """A parquet table rooted at ``{root}``, stored as committed
    version directories (see module docstring for the protocol).

    ``num_buckets``/``bucket_by`` set the bucket layout (default: one
    bucket, which needs no key column); both are persisted in
    ``{root}/_bucketspec`` on first write and re-read on construction,
    so they only need to be passed when creating a new table. A root
    holding committed versions but no spec was written by the old flat
    layout and is refused.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        num_buckets: int | None = None,
        bucket_by: str = "id",
    ):
        self.spark = spark
        self.root = root.rstrip("/")
        self._spec_schema_json: str | None = None
        self._max_batch_id: int | None = None
        self._spec: dict | None = None  # as last read or saved
        # writer-lock state: RLock serializes threads sharing THIS sink
        # (and makes nested mutators — append→compact — reentrant); the
        # FS lock file serializes across sink instances / processes.
        self._wlock = threading.RLock()
        self._wlock_depth = 0
        self.lock_contentions = 0  # observability: times we had to wait
        self._fs_handle = None  # (FileSystem, Path class, jvm); see _fs
        spec = self._load_spec()
        if spec is not None:
            self.num_buckets = int(spec["num_buckets"])
            self.bucket_by = spec["bucket_by"]
        else:
            self.num_buckets = num_buckets or 1
            self.bucket_by = bucket_by
            if self._holds_commit_markers():
                raise ValueError(
                    f"existing table at {self.root} holds committed data"
                    " but no _bucketspec: it was written unbucketed by the"
                    " old flat layout, which is no longer read (load its"
                    " files with spark.read.parquet into a fresh root)"
                )

    def _holds_commit_markers(self) -> bool:
        """Whether any version dir holds a ``_SUCCESS``, at its root or
        one level down, where the old flat layout's ``ins_*`` and
        ``batch_<id>`` appends kept theirs. Every commit of this
        layout lands after the root's spec, so a spec-less root with
        a marker was written by the flat layout."""
        fs, root, _ = self._fs(self.root)
        if not fs.exists(root):
            return False
        for status in _list_status_safe(fs, root):
            if not status.isDirectory() or _version_of(
                status.getPath().getName()
            ) is None:
                continue
            vdir = status.getPath().toString()
            subdirs = [
                s.getPath().toString()
                for s in _list_status_safe(fs, status.getPath())
                if s.isDirectory()
            ]
            for d in [vdir, *subdirs]:
                if fs.exists(self._fs(f"{d}/_SUCCESS")[1]):
                    return True
        return False

    # ------------------------------------------------------------------
    # bucket spec
    # ------------------------------------------------------------------
    def _spec_jpath(self):
        return self._fs(f"{self.root}/_bucketspec")

    def _read_spec(self) -> dict | None:
        fs, jpath, jvm = self._spec_jpath()
        if not fs.exists(jpath):
            # crash window in _save_spec: old spec deleted, tmp not yet
            # renamed — recover the newest complete tmp
            tmp = self._newest_spec_tmp()
            if tmp is None:
                return None
            fs.rename(tmp, jpath)
        stream = fs.open(jpath)
        try:
            raw = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()
        if not raw.startswith(b"{"):  # zlib; older specs are plain JSON
            raw = zlib.decompress(raw)
        return json.loads(raw.decode("utf-8"))

    def _load_spec(self) -> dict | None:
        """Read the spec and adopt its schema and batch id: on
        construction, and under the writer lock, so a commit never
        saves a spec older than another sink instance's."""
        spec = self._spec = self._read_spec()
        if spec is not None:
            self._spec_schema_json = spec.get("schema")
            self._max_batch_id = spec.get("max_batch_id")
        return spec

    def _spec_schema_now(self) -> str | None:
        """The schema of the spec on disk now, for reads: another sink
        instance may have widened it since this one loaded it. It is
        not adopted, so a read never moves the spec or batch id this
        instance's writes compare against."""
        spec = self._read_spec()
        return spec.get("schema") if spec is not None else None

    def _newest_spec_tmp(self):
        fs, root, _ = self._fs(self.root)
        if not fs.exists(root):
            return None
        best = None
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            if name.startswith("_bucketspec.tmp."):
                if best is None or status.getModificationTime() > best[0]:
                    best = (status.getModificationTime(), status.getPath())
        return best[1] if best else None

    def _save_spec(self, schema) -> None:
        """Persist bucket count/key, the table schema (what live reads
        and an empty-table read return) and the highest applied batch
        id. Written after every commit, and before a root's first
        commit (``_commit_spec_first``), atomically:
        the payload lands in a tmp file first and replaces the old
        spec by rename, so no crash point leaves a truncated/corrupt
        spec (a truncate-in-place ``fs.create`` would brick every
        subsequent constructor). The delete→rename window is covered
        by tmp recovery in ``_read_spec``.

        A spec equal to the one read under the writer lock (or last
        saved) is not rewritten. The payload is zlib-compressed JSON:
        on a landing table of ~20 rows (2.3 KB) the plain 585-byte
        spec was a quarter of the table's bytes, the compressed one is
        183."""
        self._spec_schema_json = schema.json()
        spec = {
            "num_buckets": self.num_buckets,
            "bucket_by": self.bucket_by,
            "schema": self._spec_schema_json,
            # highest insert_batch id ever applied — the Delta-
            # txn-version style replay guard that survives even a
            # truncate retiring the tagged marker dirs
            "max_batch_id": self._max_batch_id,
        }
        if spec == self._spec:
            return
        payload = zlib.compress(
            json.dumps(spec, separators=(",", ":")).encode("utf-8"), 9
        )
        fs, jpath, _ = self._spec_jpath()
        _, tmp_jpath, _ = self._fs(
            f"{self.root}/_bucketspec.tmp.{uuid.uuid4().hex[:8]}"
        )
        stream = fs.create(tmp_jpath, True)
        try:
            stream.write(bytearray(payload))
        finally:
            stream.close()
        if fs.exists(jpath):
            fs.delete(jpath, False)
        fs.rename(tmp_jpath, jpath)
        self._spec = spec
        # sweep older tmps (best-effort)
        for status in fs.listStatus(self._fs(self.root)[1]):
            name = status.getPath().getName()
            if name.startswith("_bucketspec.tmp."):
                fs.delete(status.getPath(), False)

    # ------------------------------------------------------------------
    # writer lock
    # ------------------------------------------------------------------
    def _acquire_fs_lock(self) -> None:
        fs, root_jpath, _ = self._fs(self.root)
        fs.mkdirs(root_jpath)  # no-op when present; lock needs a parent
        _, lock_jpath, _ = self._fs(f"{self.root}/{_LOCK_NAME}")
        for attempt in range(_LOCK_ATTEMPTS):
            if fs.createNewFile(lock_jpath):
                return
            # held by another writer: stale-steal or back off
            try:
                mtime_ms = fs.getFileStatus(lock_jpath).getModificationTime()
                if time.time() - mtime_ms / 1000.0 > _LOCK_STALE_SEC:
                    _LOG.warning(
                        "stealing stale writer lock on %s (age > %.0fs —"
                        " presumed crashed writer; committed versions are"
                        " unaffected by its partial output)",
                        self.root, _LOCK_STALE_SEC,
                    )
                    fs.delete(lock_jpath, False)
                    continue  # immediate re-attempt after the steal
            except Exception:
                pass  # released between create and stat — just retry
            self.lock_contentions += 1
            if attempt < _LOCK_ATTEMPTS - 1:
                time.sleep(_LOCK_BACKOFF_BASE * 3**attempt)
        raise LoaderError(
            WRITER_LOCK_TIMEOUT,
            f"another writer holds {self.root}/{_LOCK_NAME} after"
            f" {_LOCK_ATTEMPTS} attempts with exponential backoff;"
            " concurrent loads serialize on this lock — retry when the"
            " other load finishes (or delete a stale lock by hand)",
        )

    def _release_fs_lock(self) -> None:
        fs, lock_jpath, _ = self._fs(f"{self.root}/{_LOCK_NAME}")
        try:
            fs.delete(lock_jpath, False)
        except Exception:  # pragma: no cover - release is best-effort
            _LOG.warning("failed to release writer lock on %s", self.root)

    @contextmanager
    def _writer_lock(self):
        """Serialize mutating operations (see module docstring).
        Reentrant: nested mutators (append → compact) reuse the held
        lock instead of deadlocking."""
        with self._wlock:
            self._wlock_depth += 1
            try:
                if self._wlock_depth == 1:
                    self._acquire_fs_lock()
                    self._load_spec()
                yield
            finally:
                self._wlock_depth -= 1
                if self._wlock_depth == 0:
                    self._release_fs_lock()

    # ------------------------------------------------------------------
    # version resolution
    # ------------------------------------------------------------------
    def _fs(self, path: str):
        """(FileSystem, Path, jvm) for a path under the table root. The
        FileSystem and the Path class are resolved on first use and
        kept: resolving them costs several py4j round trips, and one
        upsert with its read-back makes ~100 of these calls."""
        if self._fs_handle is None:
            from rs_streamloader_spark.staging import _fs_and_path

            fs, _, jvm = _fs_and_path(self.spark, self.root)
            self._fs_handle = (fs, jvm.org.apache.hadoop.fs.Path, jvm)
        fs, path_cls, jvm = self._fs_handle
        return fs, path_cls(path), jvm

    def _committed_versions(self) -> list[tuple[int, str]]:
        """(n, dirname) for every version dir carrying a commit marker
        (``_SUCCESS`` at its root)."""
        fs, root, _ = self._fs(self.root)
        if not fs.exists(root):
            return []
        out = []
        for status in _list_status_safe(fs, root):
            if not status.isDirectory():
                continue
            name = status.getPath().getName()
            v = _version_of(name)
            if v is None:
                continue
            if fs.exists(self._fs(f"{self.root}/{name}/_SUCCESS")[1]):
                out.append((v[0], name))
        return sorted(out)

    def _live(self) -> tuple[int, str] | None:
        versions = self._committed_versions()
        return versions[-1] if versions else None

    # ------------------------------------------------------------------
    # snapshot pins (module docstring: snapshot isolation)
    # ------------------------------------------------------------------
    def _active_pin_floor(self) -> int | None:
        """Smallest version named by an unexpired snapshot pin, or
        None when no live reader holds one. Expiry is judged by the
        marker's MTIME — not the creation epoch in its name — so a
        renewed (``SnapshotPin.renew()``) pin stays live indefinitely
        while its reader heartbeats; only a pin whose holder stopped
        touching it for ``_PIN_TTL_SEC`` (a crashed reader) is ignored
        AND swept — the reader-side mirror of the writer lock's
        stale-steal."""
        fs, jdir, _ = self._fs(f"{self.root}/{_PINS_DIR}")
        if not fs.exists(jdir):
            return None
        floor = None
        now = time.time()
        for status in _list_status_safe(fs, jdir):
            m = _PIN_RE.match(status.getPath().getName())
            if m is None:
                continue
            if now - status.getModificationTime() / 1000.0 > _PIN_TTL_SEC:
                fs.delete(status.getPath(), False)
                continue
            v = int(m.group(1))
            floor = v if floor is None else min(floor, v)
        return floor

    def _create_pin(self, n: int) -> str:
        name = f"pin_{n}_{int(time.time())}_{uuid.uuid4().hex[:8]}"
        fs, jdir, _ = self._fs(f"{self.root}/{_PINS_DIR}")
        fs.mkdirs(jdir)
        _, jpin, _ = self._fs(f"{self.root}/{_PINS_DIR}/{name}")
        fs.create(jpin, True).close()
        return name

    def _resolved_paths(
        self, versions: list[tuple[int, str]], roots: bool = False
    ) -> list[str]:
        """The data roots a read over the committed ``versions``
        resolves to right now: one per live bucket dir, or with
        ``roots`` the collapsed read roots of ``_read_roots``. Called
        under a verified pin, so the returned paths cannot be pruned
        while that pin is live."""
        won, dirs = self._bucket_paths(versions)
        paths = [p for lst in won.values() for p in lst]
        return self._read_roots(paths, dirs) if roots else sorted(paths)

    def _pin_of(self, n: int, name: str, versions: list[tuple[int, str]]):
        """The ``SnapshotPin`` of marker ``name`` at version ``n``,
        resolved over ``versions`` (a listing whose newest version is
        ``n``)."""
        return SnapshotPin(
            self,
            n,
            name,
            paths=self._resolved_paths(versions, roots=True),
            spec_json=self._spec_schema_now(),
        )

    def snapshot(self) -> SnapshotPin:
        """Pin the current committed version for consistent lazy
        reads: while the returned handle is live, replace commits
        still land but physical pruning is deferred, so
        ``handle.read()`` plans keep resolving their files across
        concurrent upserts.

        Ordering (ADVICE r14 #1/#4): resolve the live version, land
        the pin marker durably, then RE-verify the live version is
        unchanged. A prune that raced the window (its pin listing ran
        before our marker landed) is always paired with either a
        commit newer than the resolved version — which the re-check
        sees, releasing the stale pin and retrying — or a ``vacuum()``,
        which by construction never deletes paths the live resolution
        references (and live == pinned holds after the re-check). So a
        returned pin's frozen paths are guaranteed resolvable. Under
        continuous writes the lock-free loop may keep chasing the head
        version; after ``_PIN_ATTEMPTS`` it serializes one exact
        resolve+pin against the writer lock instead. The re-verify
        listing, taken after the marker landed, is also the one the
        pin resolves over: its newest version is the pinned one."""
        for _ in range(_PIN_ATTEMPTS):
            live = self._live()
            n = live[0] if live is not None else 0
            name = self._create_pin(n)
            versions = self._committed_versions()
            if (versions[-1][0] if versions else 0) == n:
                return self._pin_of(n, name, versions)
            self._release_pin(name)  # stale before it could protect
        with self._writer_lock():
            # no mutator (commit, prune, vacuum) can run concurrently
            versions = self._committed_versions()
            n = versions[-1][0] if versions else 0
            return self._pin_of(n, self._create_pin(n), versions)

    def _read_pinned(self, pin: SnapshotPin) -> DataFrame:
        # the spec frozen at pin creation: the declared schema as of
        # pin time, no footer-sweep job
        df = self._read_buckets(pin._paths, pin._spec_json)
        if df is not None:
            return df
        # table was empty at pin time (version 0 / zero-row versions)
        return self._empty(
            f"snapshot pin at version {pin.version} of {self.root} holds"
            " no data paths and the table carries no spec schema",
            pin._spec_json,
        )

    def _empty(self, missing: str, schema_json: str | None) -> DataFrame:
        """A zero-row frame of the spec schema ``schema_json``;
        FileNotFoundError with ``missing`` when there is none."""
        if not schema_json:
            raise FileNotFoundError(missing)
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(schema_json))
        return local_frame(self.spark, [], schema)

    def export_manifest(
        self,
        version: int | None = None,
        stats_columns: list[str] | None = None,
    ) -> str:
        """Write an OPEN manifest for the committed state — the
        interop half of the lake contract (SURVEY §7: Delta/Iceberg
        are unavailable in-container; semantics live in this sink, so
        interop is a FILE LISTING problem). The manifest is a plain
        JSON document under ``{root}/_manifest/`` naming the table
        version, the Spark schema (JSON form), and every parquet data
        file the version resolves to — enough for ANY parquet-capable
        engine (DuckDB, Trino, pandas) to read the exact committed
        snapshot with no knowledge of the version-directory protocol
        (tests/test_manifest_export.py consumes one from DuckDB and
        checks row parity). Conceptually the single-commit analogue
        of a Delta _delta_log entry or an Iceberg manifest list.

        A manifest is a SNAPSHOT of physical paths: it stays valid
        exactly as long as those files live — export under a
        ``snapshot()`` pin (and renew it) to hold them; after release
        + vacuum an old manifest may name reclaimed files, the same
        lifetime rule external Delta readers live by. Returns the
        manifest file path.

        ``stats_columns`` additionally records per-file column
        min/max ZONE MAPS (parquet-footer reads in executors — see
        :func:`collect_file_stats`) so manifest consumers can skip
        files via :func:`prune_manifest_files` — the Delta
        file-stats / Iceberg manifest-metrics analogue. Note the
        sink's bucketing hashes keys across buckets, so zone maps on
        the BUCKET key are useless by construction; they earn their
        keep on naturally-clustered columns (event time, append
        sequence) or range-clustered exports."""
        versions = self._committed_versions()
        n = (
            version
            if version is not None
            else (versions[-1][0] if versions else 0)
        )
        paths = self._resolved_paths([v for v in versions if v[0] <= n])
        files: list[dict] = []
        for p in paths:
            fs, jp, _ = self._fs(p)
            for status in _list_status_safe(fs, jp):
                fname = status.getPath().getName()
                if status.isDirectory() or not fname.endswith(".parquet"):
                    continue
                files.append(
                    {"path": f"{p}/{fname}", "bytes": status.getLen()}
                )
        schema_json = self._spec_schema_now()
        if schema_json is None and paths:
            schema_json = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(*paths)
                .schema.json()
            )
        if stats_columns and files:
            stats = collect_file_stats(
                self.spark,
                [f["path"] for f in files],
                list(stats_columns),
            )
            for f in files:
                if f["path"] in stats:
                    f["stats"] = stats[f["path"]]
        payload = json.dumps(
            {
                "format": "rs-streamloader-native-manifest/1",
                "table_root": self.root,
                "version": n,
                "num_buckets": self.num_buckets,
                "schema": schema_json,
                "stats_columns": list(stats_columns or []),
                "files": sorted(files, key=lambda f: f["path"]),
            },
            indent=1,
            sort_keys=True,
        )
        out = f"{self.root}/_manifest/v{n}_{uuid.uuid4().hex[:8]}.json"
        fs, jdir, _ = self._fs(f"{self.root}/_manifest")
        fs.mkdirs(jdir)
        fs2, jout, _ = self._fs(out)
        stream = fs2.create(jout, True)
        try:
            stream.write(bytearray(payload.encode("utf-8")))
        finally:
            stream.close()
        return out

    def _renew_pin(self, name: str) -> None:
        """Touch the pin marker's mtime (TTL heartbeat). Prefer an
        in-place ``setTimes``; fall back to rewriting the (empty)
        marker, which local/HDFS implement as truncate-in-place — the
        marker never stops existing."""
        fs, jpin, _ = self._fs(f"{self.root}/{_PINS_DIR}/{name}")
        try:
            fs.setTimes(jpin, int(time.time() * 1000), -1)
        except Exception:
            fs.create(jpin, True).close()

    def _release_pin(self, name: str) -> None:
        fs, jpin, _ = self._fs(f"{self.root}/{_PINS_DIR}/{name}")
        try:
            fs.delete(jpin, False)
        except Exception:  # pragma: no cover - release is best-effort
            _LOG.warning("failed to release snapshot pin %s", name)

    @_locked
    def vacuum(self) -> int:
        """Physically reclaim data shadowed by newer commits — the
        deferred-garbage collector for prunes skipped while snapshot
        pins were live (Delta's VACUUM analogue). No-op while any
        unexpired pin exists. Returns the number of paths deleted.
        Never touches: the newest full version (the empty-bucket
        floor), batch-tagged dirnames (replay markers), or any path
        the live resolution still references."""
        if self._active_pin_floor() is not None:
            return 0
        versions = self._committed_versions()
        if not versions:
            return 0
        deleted = 0
        live_paths = {
            p for lst in self._bucket_paths(versions)[0].values() for p in lst
        }
        newest_full = max(
            (n for n, name in versions if _version_of(name)[1] == FULL),
            default=None,
        )
        newest_n = versions[-1][0]
        for vn, name in versions:
            vdir = f"{self.root}/{name}"
            kind = _version_of(name)[1]
            for _k, bpath in self._bucket_dirs_of(vdir).items():
                if bpath not in live_paths:
                    fs, jpath, _ = self._fs(bpath)
                    fs.delete(jpath, True)
                    deleted += 1
            if (
                vn < newest_n
                and not (kind == FULL and vn == newest_full)
                and _batch_tag_of(name) is None
                and not self._bucket_dirs_of(vdir)
            ):
                fs, jpath, _ = self._fs(vdir)
                fs.delete(jpath, True)
        return deleted

    def _new_version_path(self, n: int) -> str:
        return f"{self.root}/v_{n}_{uuid.uuid4().hex[:8]}"

    def _new_delta_path(self, n: int) -> str:
        # (_DELTA_RE still accepts legacy b<id>-tagged names: pre-r3
        # tables carried the replay tag on replace deltas)
        return f"{self.root}/d_{n}_{uuid.uuid4().hex[:8]}"

    def _new_additive_path(self, n: int, batch_id: int | None = None) -> str:
        tag = f"b{batch_id}_" if batch_id is not None else ""
        return f"{self.root}/a_{n}_{tag}{uuid.uuid4().hex[:8]}"

    def _retire_below(self, keep_n: int, keep_name: str) -> None:
        """Delete committed and stale uncommitted dirs older than the
        winner (best-effort; failures leave garbage, never bad reads).
        Deferred entirely while a snapshot pin is live — a pinned
        reader's lazy plan references the older files; ``vacuum()``
        reclaims them after release."""
        if self._active_pin_floor() is not None:
            return
        fs, root, _ = self._fs(self.root)
        if not fs.exists(root):
            return
        for status in fs.listStatus(root):
            name = status.getPath().getName()
            v = _version_of(name)
            if v is not None and name != keep_name and v[0] <= keep_n:
                fs.delete(status.getPath(), True)

    # ------------------------------------------------------------------
    # bucket layout
    # ------------------------------------------------------------------
    def _with_bucket(self, df: DataFrame) -> DataFrame:
        if BUCKET_COL in df.columns:
            raise ValueError(f"column name {BUCKET_COL!r} is reserved")
        if self.num_buckets == 1:
            return df.withColumn(BUCKET_COL, F.lit(0))
        if self.bucket_by not in df.columns:
            raise ValueError(
                f"bucketed table keyed on {self.bucket_by!r}; batch lacks it"
            )
        # cast-to-string before hashing so an int→bigint drift between
        # batches cannot silently re-home keys to different buckets
        return df.withColumn(
            BUCKET_COL,
            F.pmod(
                F.hash(F.col(self.bucket_by).cast("string")), F.lit(self.num_buckets)
            ),
        )

    def _clustered(
        self, bucketed_df: DataFrame, n_buckets: int | None = None
    ) -> tuple[DataFrame, list]:
        """Cluster rows by bucket before a ``partitionBy(BUCKET_COL)``
        write. Returns the clustered frame and the expressions it is
        partitioned on: a window partitioned by those (plus more
        columns) reuses the exchange. Without this, EVERY upstream
        task holding rows of a bucket opens its own file in that
        bucket's dir — a tasks×buckets file explosion (measured: 509
        files for a 16-bucket full write, 845 for one delta, each
        paying its own writer open + commit rename, and every later
        read/listing pays again). One hash exchange on the bucket
        value makes each bucket one task's contiguous write — the
        Hive-style file-per-bucket contract. Write parallelism is
        bounded by num_buckets, which is the bucketed-table sizing
        knob itself (production tables size num_buckets to data
        volume; within-bucket file splitting stays available via
        maxRecordsPerFile). Salting a hot bucket over m tasks lost
        where it was meant to win: hot-bucket upserts into a 1M-row,
        100-bucket table, 90% of a 5,000-key batch in one bucket,
        took a median 3.62 s at m=1 and 10.64 s at m=4
        (``tools/loader_stress.py --skew``, 4-core host).

        The exchange sends bucket k to task k mod m, with m =
        min(``n_buckets``, defaultParallelism) and ``n_buckets`` the
        buckets this write can touch (default: all of them). A hash
        ``repartition`` by bucket let AQE coalesce its small
        partitions into ONE task: a small write then wrote every
        bucket file in sequence on one core (13 bucket files of a
        cdc upsert, 0.23–0.39 s). A fixed-count exchange is never
        coalesced, and each bucket still lands in one task.

        A one-bucket table is returned unclustered: one file per
        bucket would make every write of it a single task."""
        keys = [F.col(BUCKET_COL)]
        if self.num_buckets == 1:
            return bucketed_df, keys
        width = min(
            n_buckets or self.num_buckets, self.spark.sparkContext.defaultParallelism
        )
        return bucketed_df.repartitionById(width, BUCKET_COL), keys

    def _bucket_dirs_of(self, vdir: str) -> dict[int, str]:
        """{bucket -> path} for the ``__b=k`` subdirs of a version."""
        fs, jpath, _ = self._fs(vdir)
        out = {}
        if not fs.exists(jpath):
            return out
        for status in _list_status_safe(fs, jpath):
            if status.isDirectory():
                name = status.getPath().getName()
                if name.startswith(BUCKET_COL + "="):
                    out[int(name.split("=", 1)[1])] = f"{vdir}/{name}"
        return out

    def _bucket_paths(
        self, versions: list[tuple[int, str]] | None = None
    ) -> tuple[dict[int, list[str]], dict[str, list[str]]]:
        """Resolve each bucket to its readable data roots: the newest
        REPLACE-kind version (full ``v_`` or delta ``d_``) containing
        it — flooring at the newest full version, whose absent buckets
        are empty by definition — plus every ADDITIVE ``a_`` delta
        NEWER than that winner (older additive rows were folded into
        the replace write that shadowed them). Correct without any
        pruning having run; pruning only reclaims space.

        Returns ``({bucket: [paths]}, {version dir: [bucket dirs]})``;
        the second map is the listing the resolution walked, which
        ``_read_roots`` collapses without listing again."""
        if versions is None:
            versions = self._committed_versions()
        replace_won: dict[int, tuple[int, str]] = {}
        additive: dict[int, list[tuple[int, str]]] = {}
        listed: dict[str, list[str]] = {}
        floor_n = 0
        for n, name in reversed(versions):
            vdir = f"{self.root}/{name}"
            kind = _version_of(name)[1]
            bucket_dirs = self._bucket_dirs_of(vdir)
            listed[vdir] = list(bucket_dirs.values())
            for k, path in bucket_dirs.items():
                if kind == ADDITIVE:
                    additive.setdefault(k, []).append((n, path))
                else:
                    replace_won.setdefault(k, (n, path))
            if kind == FULL:
                floor_n = n
                break
        out: dict[int, list[str]] = {
            k: [path] for k, (_, path) in replace_won.items()
        }
        for k, entries in additive.items():
            base_n = replace_won.get(k, (floor_n, None))[0]
            live = [path for n, path in entries if n > base_n]
            if live:
                out.setdefault(k, []).extend(live)
        return out, listed

    def _read_roots(
        self, paths: list[str], listed: dict[str, list[str]]
    ) -> list[str]:
        """The paths to hand Spark for reading the bucket dirs
        ``paths``: a version dir of ``listed`` (``_bucket_paths``'
        listing) replaces its bucket dirs when every one of them is in
        ``paths`` and it holds at most Spark's parallel-discovery
        threshold of them; every other bucket dir stays its own root
        (module docstring: read roots)."""
        wanted = set(paths)
        cap = int(self.spark.conf.get(_DISCOVERY_THRESHOLD, "32"))
        roots = []
        for vdir, bucket_dirs in listed.items():
            if (
                bucket_dirs
                and len(bucket_dirs) <= cap
                and wanted.issuperset(bucket_dirs)
            ):
                roots.append(vdir)
                wanted.difference_update(bucket_dirs)
        return sorted(roots) + sorted(wanted)

    def _touched_buckets(self, bucketed_df: DataFrame) -> list[int]:
        """The sorted buckets ``bucketed_df``'s rows hash to, from one
        Spark job with no shuffle: a ``noop`` write of the bucket
        column observes ``collect_set`` over it. The set is merged
        per task and on the driver, and is bounded by ``num_buckets``,
        never by the data size."""
        obs = Observation()
        (
            bucketed_df.select(BUCKET_COL)
            .observe(obs, F.collect_set(BUCKET_COL).alias("b"))
            .write.format("noop").mode("overwrite").save()
        )
        return sorted(obs.get["b"])

    def _read_buckets(
        self, roots: list[str], schema_json: str | None = None
    ) -> DataFrame | None:
        """Union the given read roots (``_read_roots``: collapsed
        version dirs and single bucket dirs). Reads of the LIVE table
        state (upsert/compact target reads, the version-less
        ``read()``) and snapshot pins pass a spec ``schema_json``: the
        persisted spec schema — the monotone union of every schema
        ever written, and already what an EMPTY table read
        returns — is applied directly, skipping the mergeSchema footer
        sweep (a Spark job reading EVERY live file's footer per call;
        at 100 TB that is a full footer scan of every touched bucket
        to relearn a schema the spec records in O(1)). Version reads
        pass none and keep mergeSchema, so a time-travel schema stays
        that of the files as of that version, not today's widened
        spec.

        ``recursiveFileLookup`` turns partition inference off, so a
        collapsed version root yields no ``__b`` column. With at most
        Spark's discovery threshold of roots, each holding at most
        that many bucket dirs, building the read runs no Spark job."""
        if not roots:
            return None
        reader = self.spark.read.option("recursiveFileLookup", "true")
        if schema_json:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        else:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*roots)

    def _commit_spec_first(self, schema) -> None:
        """Save the spec before a root's first commit (none is on disk
        under the writer lock): a crash between that commit and the
        spec save after it must leave a table that still opens."""
        if self._spec is None:
            self._save_spec(schema)

    def _write_full(self, clustered: DataFrame, n: int) -> None:
        """Commit ``clustered`` (a ``_clustered`` frame) as the full
        version ``n``, retiring every older version."""
        schema = clustered.drop(BUCKET_COL).schema
        self._commit_spec_first(schema)
        clustered.write.partitionBy(BUCKET_COL).parquet(self._new_version_path(n))
        self._save_spec(schema)
        self._retire_below(n - 1, "")

    def _write_delta(
        self,
        clustered: DataFrame,
        n: int,
        touched: list[int],
        versions: list[tuple[int, str]] | None = None,
    ) -> None:
        """Commit ``clustered`` (a ``_clustered`` frame) as a REPLACE
        delta holding only ``touched`` buckets, then prune the
        now-shadowed copies of those buckets from older versions. A
        full version dir always survives as the
        empty-bucket floor; a fully-pruned delta dir is removed ONLY
        if it carries no batch tag — a ``b<id>`` dirname is the replay
        marker for ``insert_batch`` idempotence and must outlive its
        data (deleting it let a crash-replayed batch re-append rows
        that were already folded into the shadowing write).
        ``versions`` lets the caller pass the pre-commit listing it
        already computed, skipping a second driver-side FS walk."""
        path = self._new_delta_path(n)
        clustered.write.partitionBy(BUCKET_COL).parquet(path)
        self._save_spec(clustered.drop(BUCKET_COL).schema)
        if self._active_pin_floor() is not None:
            # a snapshot reader is live: the commit stands (newest
            # wins at resolution) but physical pruning is deferred so
            # the pinned plan's files survive; vacuum() reclaims them
            return
        keep_name = path.rsplit("/", 1)[1]
        touched_set = set(touched)
        for vn, name in versions if versions is not None else self._committed_versions():
            if name == keep_name or vn >= n:
                continue
            vdir = f"{self.root}/{name}"
            dirs = self._bucket_dirs_of(vdir)
            for k in touched_set & set(dirs):
                fs, jpath, _ = self._fs(dirs[k])
                fs.delete(jpath, True)
            if (
                _version_of(name)[1] != FULL
                and _batch_tag_of(name) is None
                and not (set(dirs) - touched_set)
            ):
                fs, jpath, _ = self._fs(vdir)
                fs.delete(jpath, True)

    # ------------------------------------------------------------------
    # public surface
    # ------------------------------------------------------------------
    @property
    def current_path(self) -> str:
        live = self._live()
        if live is None:
            raise FileNotFoundError(f"no committed version under {self.root}")
        return f"{self.root}/{live[1]}"

    def exists(self) -> bool:
        return self._live() is not None

    def read(self, version: int | None = None) -> DataFrame:
        """Read the table: the live state by default, or — with
        ``version=n`` — the committed state as of version n (the
        snapshot-read half of the ``snapshot()`` pin protocol; prefer
        ``pin.read()``, which also freezes the resolved paths). A
        version read is only guaranteed stable while a pin at or below
        that version is live (or no writes happen) — otherwise pruning
        may have reclaimed the older files.

        Union of committed data roots only — in-flight/crashed version
        dirs are invisible. The live read applies the spec schema as
        saved on disk now, by whichever sink instance wrote last
        (every column ever written; missing → NULL); a version read
        merges the schema of that version's own files."""
        versions = None
        if version is not None:
            versions = [v for v in self._committed_versions() if v[0] <= version]
            if not versions and version > 0:
                # ADVICE r14 #3: a pin invalidated out from under a
                # reader must fail loudly, never surface as a silent
                # empty table. Only the explicit version=0 read (pin
                # taken on an empty table) keeps the spec-schema
                # empty-read semantics.
                raise FileNotFoundError(
                    f"no committed version <= {version} under {self.root}"
                )
        spec_json = self._spec_schema_now()
        won, listed = self._bucket_paths(versions)
        df = self._read_buckets(
            self._read_roots([p for lst in won.values() for p in lst], listed),
            spec_json if version is None else None,
        )
        if df is not None:
            return df
        return self._empty(f"empty table {self.root} has no schema", spec_json)

    @_locked
    def create_table(self, schema, if_not_exists: bool = True) -> None:
        """M6 ``createTable`` (reference README.md:52, unimplemented in
        its lib/): commit an empty version carrying the schema, so
        subsequent reads/appends see the declared columns. No-op when
        the table already exists and ``if_not_exists``."""
        from pyspark.sql.types import StructType

        if self.exists():
            if if_not_exists:
                return
            raise FileExistsError(f"table already exists under {self.root}")
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        empty = local_frame(self.spark, [], schema)
        # the spec schema, then a zero-row full version: the floor marker
        self._save_spec(schema)
        empty.write.parquet(self._new_version_path(1))

    @_locked
    def insert(self, df: DataFrame) -> None:
        """M1: append parts to the table (RedshiftLoader.ts:364-366):
        the batch's rows commit as an ADDITIVE delta (``a_<n>``)
        holding only the new rows — O(batch) I/O; a crash mid-append
        leaves an uncommitted, ignored dir. See ``_append``."""
        self._append(df, batch_id=None)

    @_locked
    def insert_batch(self, df: DataFrame, batch_id: int) -> None:
        """Idempotent append: a replayed batch (streaming checkpoint
        recovery) lands exactly once instead of duplicating — the
        batchId-keyed staging contract of SURVEY.md §2.4's
        exactly-once row. The batch commits as an additive delta
        carrying the id in its dirname (``a_<n>_b<id>_…``) and the
        spec records the highest applied id, so replays are skipped."""
        # O(1) replay guard: batch ids commit in order (Structured
        # Streaming replays only the last uncommitted batch), so
        # id ≤ recorded max ⟺ already applied — and the spec
        # survives truncation, where the tagged marker dirs do not
        if self._max_batch_id is not None and batch_id <= self._max_batch_id:
            return
        versions = self._committed_versions()
        # tag scan runs whenever the spec guard passes — it covers
        # legacy tables without max_batch_id AND the crash window
        # where the tagged dir committed but the spec update after
        # it didn't
        for _, name in versions:
            if _batch_tag_of(name) == batch_id:
                return  # replayed batch: already committed
        self._append(df, batch_id=batch_id, versions=versions)

    def _merged_spec_schema(self, schema):
        """Union of the persisted spec schema and ``schema`` (existing
        fields keep their type; new fields append) — an additive
        append must never NARROW the spec an earlier wider write
        recorded, since the spec is what an empty-table read uses."""
        from pyspark.sql.types import StructType

        if not self._spec_schema_json:
            return schema
        merged = StructType.fromJson(json.loads(self._spec_schema_json))
        have = {f.name for f in merged.fields}
        for f in schema.fields:
            if f.name not in have:
                merged = merged.add(f)
        return merged

    def _append(
        self,
        df: DataFrame,
        batch_id: int | None,
        versions: list[tuple[int, str]] | None = None,
    ) -> None:
        """Append = ADDITIVE delta: write ONLY the batch's rows,
        partitioned by bucket — O(batch) I/O, never a read-merge-
        rewrite of existing bucket content (which would make steady
        streaming ingest O(table) per batch, quadratic cumulative).
        Readers union additive deltas above each bucket's replace
        floor (see ``_bucket_paths``); an upsert/trunc — or the
        automatic compaction below — folds them into a replace write
        and pruning reclaims them.

        On an EMPTY table a tagged batch still writes an additive
        delta — never an untagged full version, which would lose the
        replay marker: a crash between this commit and the streaming
        checkpoint would then re-append batch 0's rows on recovery.

        ``_max_batch_id`` advances ONLY after the write committed:
        bumping it first would make a FAILED batch look applied on
        retry, silently losing its rows (the on-disk tag is
        failure-safe for free because it only exists after a
        successful commit; the spec guard must mirror that).

        Pure-append streams accumulate one ``a_`` dir per batch, and
        every version dir costs driver-side listing work per commit —
        so once the additive count passes ``COMPACT_AFTER``, the
        append triggers ``compact()``: amortized O(table/K) extra I/O
        per append, the LSM bargain."""
        if versions is None:
            versions = self._committed_versions()
        live = versions[-1] if versions else None
        clustered, _ = self._clustered(self._with_bucket(df))
        if live is None and batch_id is None:
            self._write_full(clustered, 1)
            return
        n = 1 if live is None else live[0] + 1
        schema = self._merged_spec_schema(df.schema)
        self._commit_spec_first(schema)
        clustered.write.partitionBy(BUCKET_COL).parquet(
            self._new_additive_path(n, batch_id)
        )
        if batch_id is not None:
            self._max_batch_id = (
                batch_id
                if self._max_batch_id is None
                else max(self._max_batch_id, batch_id)
            )
        self._save_spec(schema)
        n_additive = sum(
            1 for _, name in versions if _version_of(name)[1] == ADDITIVE
        )
        if n_additive + 1 > COMPACT_AFTER:
            self.compact()

    @_locked
    def compact(self) -> None:
        """Fold every live additive delta into one REPLACE delta
        covering the buckets they touch, letting pruning reclaim the
        per-batch dirs. Crash-safe like every other write: the fold
        is a normal replace commit (its ``_SUCCESS`` atomically
        shadows the additive rows via the ``n > base_n`` resolution
        rule), so a crash at any point leaves either the old state or
        the compacted one — never duplicates. A one-bucket table
        compacts by rewriting itself."""
        versions = self._committed_versions()
        paths, listed = self._bucket_paths(versions)
        additive_buckets = {
            k
            for k, lst in paths.items()
            if any(p.rsplit("/", 2)[-2].startswith("a_") for p in lst)
        }
        if not additive_buckets:
            return
        live_n = versions[-1][0]
        content = self._read_buckets(
            self._read_roots(
                [p for k in additive_buckets for p in paths[k]], listed
            ),
            self._spec_schema_json,
        )
        self._write_delta(
            self._clustered(self._with_bucket(content), len(additive_buckets))[0],
            live_n + 1,
            sorted(additive_buckets),
            versions=versions,
        )
        # retire replay markers the spec guard now covers: the fold's
        # _save_spec just persisted max_batch_id, so a tagged ADDITIVE
        # dir with id ≤ that max is provably redundant (the O(1) guard
        # skips its id before any tag scan). Without this, emptied
        # marker dirs keep matching the additive count forever — the
        # trigger would fire compact() on EVERY batch past the
        # threshold, and per-commit listings would grow O(total
        # batches ever). Only empty additive dirs are deleted; a
        # marker whose batch outran a crashed spec save has id > max
        # and survives until the next successful tagged commit.
        if self._max_batch_id is not None:
            for _, name in versions:
                tag = _batch_tag_of(name)
                if (
                    tag is not None
                    and tag <= self._max_batch_id
                    and _version_of(name)[1] == ADDITIVE
                    and not self._bucket_dirs_of(f"{self.root}/{name}")
                ):
                    fs, jpath, _ = self._fs(f"{self.root}/{name}")
                    fs.delete(jpath, True)

    @_locked
    def trunc_insert(self, df: DataFrame) -> None:
        """M2: TRUNCATE + COPY ≈ overwrite (RedshiftLoader.ts:367-368):
        a new full version — absent buckets are empty, so truncated
        rows can never resurface from older deltas."""
        live = self._live()
        n = 1 if live is None else live[0] + 1
        self._write_full(self._clustered(self._with_bucket(df))[0], n)

    @_locked
    def upsert(self, updates: DataFrame, id_field: str = "id", dedupe: str | None = None) -> None:
        """M3: keyed upsert (RedshiftLoader.ts:369-384).

        ``dedupe=None`` replicates reference semantics (all update rows
        land, even duplicate ids); ``dedupe='last'`` keeps one row per
        id (latest physical order wins is undefined in the reference,
        so we require a deterministic variant: the max over the
        remaining columns, desc nulls last). Either way a NULL id
        matches no target row, so target rows with a NULL id survive
        every upsert; ``dedupe='last'`` counts NULL as one id.

        Only the buckets containing updated ids are rewritten,
        committed as a delta version — the reference's
        touch-only-matched-keys DELETE+INSERT (RedshiftLoader.ts:
        377-380) instead of a full-table rewrite (a one-bucket table
        rewrites its one bucket, and keys on any ``id_field``). The
        merge is one shuffle (module docstring): on a multi-bucket
        table the batch's bucket set is observed first (it names the
        target files to read), then target and batch rows are
        clustered together and a window over (cluster keys, id) keeps
        the winners.
        """
        if dedupe not in (None, "last"):
            raise ValueError(f"unknown dedupe mode: {dedupe!r}")
        if self.num_buckets > 1 and id_field != self.bucket_by:
            raise ValueError(
                f"bucketed table keyed on {self.bucket_by!r}; "
                f"upsert on {id_field!r} cannot prune buckets"
            )
        versions = self._committed_versions()
        upd_b = self._with_bucket(updates)
        rows = upd_b.withColumn(_TAG, F.lit(1))
        touched = None
        if versions:
            # the buckets the batch's keys hash to, before any dedupe:
            # dedupe drops rows, never keys
            touched = [0] if self.num_buckets == 1 else self._touched_buckets(upd_b)
            won, listed = self._bucket_paths(versions)
            target = self._read_buckets(
                self._read_roots(
                    [p for k in touched for p in won.get(k, [])], listed
                ),
                self._spec_schema_json,
            )
            if target is not None:
                # each side is bucketed on its own key type: a widening
                # union (int ids, double updates) must not re-home
                # target rows into buckets this delta does not replace.
                # Schema drift NULL-fills the gaps (COPY 'auto'
                # semantics) instead of erroring.
                rows = (
                    self._with_bucket(target)
                    .withColumn(_TAG, F.lit(0))
                    .unionByName(rows, allowMissingColumns=True)
                )
        clustered, keys = self._clustered(rows, len(touched) if touched else None)
        order = []
        if dedupe == "last":
            order = [
                F.col(c).desc_nulls_last() for c in updates.columns if c != id_field
            ]
        w = Window.partitionBy(*keys, id_field).orderBy(F.col(_TAG).desc(), *order)
        # an update row lands unless dedupe keeps another of its id; a
        # target row survives unless the batch carries its id (the
        # tag-desc order puts the id's max tag on every row), and a
        # NULL id never matches
        keep = F.when(
            F.col(_TAG) == 1,
            F.lit(True) if dedupe is None else F.row_number().over(w) == 1,
        ).otherwise(F.col(id_field).isNull() | (F.max(_TAG).over(w) == 0))
        merged = (
            clustered.withColumn("__keep", keep).filter("__keep").drop("__keep", _TAG)
        )
        if not versions:
            self._write_full(merged, 1)
        else:
            self._write_delta(merged, versions[-1][0] + 1, touched, versions=versions)


def load_manifest(spark: SparkSession, manifest_path: str) -> dict:
    """Read a manifest JSON file back into a dict (the reader half of
    the open format — usable from any filesystem Spark can reach)."""
    from rs_streamloader_spark.staging import _fs_and_path

    fs, jp, jvm = _fs_and_path(spark, manifest_path)
    stream = fs.open(jp)
    try:
        raw = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return json.loads(bytes(raw).decode("utf-8"))


def collect_file_stats(
    spark: SparkSession, paths: list[str], stats_columns: list[str]
) -> dict:
    """Per-file column min/max ZONE MAPS for a parquet file list —
    the pruning metadata a manifest carries so readers can skip files
    (Delta file stats / Iceberg manifest metrics analogue).

    Primary path reads parquet FOOTERS only (pyarrow row-group
    statistics, ~KB per file) and runs IN EXECUTORS over a
    parallelized path list — at 100 TB this is an O(files)
    metadata-weight job, never a data scan. If any footer is
    unreadable from Python (non-posix filesystem, stats disabled),
    falls back to one column-pruned Spark scan grouped by input file —
    heavier but still reads only the stat columns. Columns whose
    statistics are absent are simply omitted for that file (absent ⇒
    unprunable ⇒ always read — the safe direction)."""
    if not paths or not stats_columns:
        return {}
    wanted = list(stats_columns)

    def _norm(p: str) -> str:
        # file:///x, file:/x and /x all name the same local file
        if p.startswith("file:"):
            p = p[5:]
        while p.startswith("//"):
            p = p[1:]
        return p

    def _footer_stats(it):
        import pyarrow.parquet as pq

        for p in it:
            local = _norm(p)
            out = {}
            md = pq.ParquetFile(local).metadata
            idx = {
                md.schema.column(j).name: j
                for j in range(md.num_columns)
            }
            for col in wanted:
                j = idx.get(col)
                if j is None:
                    continue
                lo = hi = None
                ok = True
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(j).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    mn, mx = st.min, st.max
                    if isinstance(mn, bytes):
                        mn = mn.decode("utf-8", "replace")
                        mx = mx.decode("utf-8", "replace")
                    lo = mn if lo is None else min(lo, mn)
                    hi = mx if hi is None else max(hi, mx)
                if ok and lo is not None:
                    out[col] = {"min": lo, "max": hi}
            yield (p, out)

    try:
        n_slices = max(1, min(len(paths), 64))
        pairs = (
            spark.sparkContext.parallelize(paths, n_slices)
            .mapPartitions(_footer_stats)
            .collect()
        )
        return {p: st for p, st in pairs if st}
    except Exception:
        _LOG.warning(
            "footer-stats pass failed; falling back to a column-pruned"
            " scan for manifest zone maps"
        )
        df = spark.read.parquet(*paths)
        present = [c for c in wanted if c in df.columns]
        if not present:
            return {}
        aggs = []
        for c in present:
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
        rows = (
            df.groupBy(F.input_file_name().alias("__path"))
            .agg(*aggs)
            .collect()
        )
        stats: dict = {}
        by_path = {_norm(p): p for p in paths}
        for r in rows:
            key = by_path.get(_norm(r["__path"]), r["__path"])
            st = {}
            for c in present:
                mn, mx = r[f"__mn_{c}"], r[f"__mx_{c}"]
                if mn is not None:
                    st[c] = {"min": mn, "max": mx}
            if st:
                stats[key] = st
        return stats


def prune_manifest_files(
    manifest: dict,
    column: str,
    lo=None,
    hi=None,
) -> tuple[list[str], int]:
    """File-skipping against manifest zone maps: keep every file whose
    ``column`` [min, max] range intersects the CLOSED interval
    [lo, hi] (``None`` = unbounded on that side), plus every file with
    no recorded stats for the column — absence of evidence never
    prunes. Pure function (no Spark), so the skipping decision is
    unit-testable and any engine can replicate it from the JSON alone.
    Returns ``(kept_paths, total_files)``."""
    kept: list[str] = []
    files = manifest["files"]
    for f in files:
        st = (f.get("stats") or {}).get(column)
        if st is None:
            kept.append(f["path"])
            continue
        if lo is not None and st["max"] < lo:
            continue
        if hi is not None and st["min"] > hi:
            continue
        kept.append(f["path"])
    return kept, len(files)


def write_directory_manifest(
    spark: SparkSession,
    data_dir: str,
    stats_columns: list[str] | None = None,
) -> str:
    """Export an open manifest (same format as
    ``NativeTableSink.export_manifest``) over an ARBITRARY parquet
    directory tree — recursive file listing + optional zone-map stats.
    This is the interop story for layouts the sink does not own:
    range-clustered exports, ``partitionBy`` trees, third-party
    dumps. Returns the manifest file path (under
    ``{data_dir}/_manifest/``)."""
    from rs_streamloader_spark.staging import _fs_and_path

    fs, jroot, _ = _fs_and_path(spark, data_dir)
    files: list[dict] = []

    def _walk(jpath):
        for status in _list_status_safe(fs, jpath):
            name = status.getPath().getName()
            if status.isDirectory():
                if not name.startswith("_"):
                    _walk(status.getPath())
            elif name.endswith(".parquet"):
                files.append(
                    {
                        "path": status.getPath().toUri().getPath(),
                        "bytes": status.getLen(),
                    }
                )

    _walk(jroot)
    files.sort(key=lambda f: f["path"])
    paths = [f["path"] for f in files]
    if stats_columns and paths:
        stats = collect_file_stats(spark, paths, stats_columns)
        for f in files:
            if f["path"] in stats:
                f["stats"] = stats[f["path"]]
    schema_json = (
        spark.read.option("mergeSchema", "true").parquet(*paths).schema.json()
        if paths
        else None
    )
    payload = json.dumps(
        {
            "format": "rs-streamloader-native-manifest/1",
            "table_root": data_dir,
            "version": 0,
            "num_buckets": None,
            "schema": schema_json,
            "stats_columns": list(stats_columns or []),
            "files": files,
        },
        indent=1,
        sort_keys=True,
    )
    out = f"{data_dir}/_manifest/dir_{uuid.uuid4().hex[:8]}.json"
    fs.mkdirs(_fs_and_path(spark, f"{data_dir}/_manifest")[1])
    stream = fs.create(_fs_and_path(spark, out)[1], True)
    try:
        stream.write(bytearray(payload.encode("utf-8")))
    finally:
        stream.close()
    return out


def read_manifest(
    spark: SparkSession,
    manifest_path: str,
    prune: tuple | None = None,
) -> DataFrame:
    """Consume an exported manifest from Spark: read exactly the
    listed parquet files (mergeSchema for evolved snapshots). The
    engine-agnostic twin is trivial — any reader that can open JSON
    and parquet implements this in ten lines, which is the point.

    ``prune=(column, lo, hi)`` applies zone-map file skipping via
    :func:`prune_manifest_files` before the read — files whose
    recorded [min, max] for ``column`` cannot intersect [lo, hi] are
    never opened. The residual row-level predicate is still the
    caller's job (zone maps bound files, not rows)."""
    m = load_manifest(spark, manifest_path)
    if prune is not None:
        column, lo, hi = prune
        files, _ = prune_manifest_files(m, column, lo, hi)
    else:
        files = [f["path"] for f in m["files"]]
    if not files:
        from pyspark.sql.types import StructType

        return local_frame(spark, [], StructType.fromJson(json.loads(m["schema"])))
    return spark.read.option("mergeSchema", "true").parquet(*files)
