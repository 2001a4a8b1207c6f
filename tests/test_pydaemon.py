"""The session's Python worker daemon (``rs_streamloader_spark.pydaemon``):
an unchanged zip archive is not re-read at every import-cache
invalidation, a changed one is, and the session's workers run with
the swap wherever the stdlib importer re-reads eagerly."""

from __future__ import annotations

import zipfile
import zipimport

import pytest

from rs_streamloader_spark import pydaemon

# CPython 3.13 made zipimport's invalidation lazy and added _get_files
EAGER = not hasattr(zipimport.zipimporter, "_get_files")


def _write_zip(path: str, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for m in modules:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


@pytest.mark.skipif(not EAGER, reason="stdlib zipimport already re-reads lazily")
def test_unchanged_archive_is_reread_at_most_once(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["m1"])
    reads = []
    real_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # monkeypatch restores the stdlib method when the test ends
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    pydaemon.install()
    importer = zipimport.zipimporter(archive)
    reads.clear()

    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(reads) <= 1, reads
    assert importer.find_spec("m1") is not None

    _write_zip(archive, ["m1", "m2"])
    importer.invalidate_caches()
    assert len(reads) == 2, reads
    assert importer.find_spec("m2") is not None


def test_install_swaps_only_where_the_stdlib_is_eager(monkeypatch):
    stdlib = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    pydaemon.install()
    want = pydaemon.invalidate_caches if EAGER else stdlib
    assert zipimport.zipimporter.invalidate_caches is want


def test_session_workers_run_the_daemon_swap(spark):
    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame(
                {
                    "module": [zipimport.zipimporter.invalidate_caches.__module__],
                    "eager": [not hasattr(zipimport.zipimporter, "_get_files")],
                }
            )

    (row,) = (
        spark.range(0, 1, 1, 1)
        .mapInPandas(probe, "module string, eager boolean")
        .collect()
    )
    want = "rs_streamloader_spark.pydaemon" if row.eager else "zipimport"
    assert row.module == want
