"""Python worker daemon of this engine's sessions
(``spark.python.daemon.module``, set by ``session.get_session``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). Before
CPython 3.13, the stdlib ``zipimport.zipimporter.invalidate_caches``
re-reads its archive's whole central directory at once, and it does so
in every importer over that archive. ``pyspark.zip`` holds ~1,300
entries and a ``mapInPandas`` worker keeps ~16 importers over it, so
each Python task re-parsed the same unchanged file 16 times: 0.46 of
a worker's 0.52 s under cProfile (4-core host, ``local[2]``). CPython
3.13 made the re-read lazy, and its importer gained ``_get_files``.

Where the importer has no ``_get_files``, this module swaps in
:func:`invalidate_caches`, which keeps an archive's cached directory
while the archive's ``(st_mtime_ns, st_size)`` equals the stamp taken
at its last re-read here, and otherwise falls back to the stdlib
re-read. It then runs PySpark's own daemon. Workers fork from the
daemon and inherit the swap, so every Python task of the session
skips the re-reads; the driver process is untouched. Where zipimport
is already lazy, the module only runs PySpark's daemon.
"""

from __future__ import annotations

import os
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) when it was last re-read here
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """Re-read the archive's directory only when the archive changed
    since its last re-read here, or was never re-read here. The stamp
    is taken before the re-read, so an archive rewritten during it
    differs from the stamp and is re-read on the next call."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stdlib_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> None:
    """Swap :func:`invalidate_caches` in where the stdlib re-reads
    eagerly (its importer has no ``_get_files``)."""
    if not hasattr(zipimport.zipimporter, "_get_files"):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # install through the package module, not ``__main__``, so the
    # swapped method names its real module
    from pyspark import daemon

    from rs_streamloader_spark import pydaemon

    pydaemon.install()

    daemon.manager()
