"""Python worker daemon: pyspark.daemon with a stat-gated zip directory cache.

Spark starts it as `spark.python.daemon.module` (see session.get_spark).
Every Python task begins with importlib.invalidate_caches()
(pyspark.worker_util.setup_spark_files), which reaches every zipimporter on
the worker's path. The workers import pyspark from pyspark.zip (1,328
entries) through ~20 such importers. Under CPython 3.11.7 and 3.12.1,
zipimporter.invalidate_caches re-reads the archive's whole central directory
at once (zipimport.py:271-278 in 3.12.1, :329-336 in 3.11.7): 13-18 ms per
importer, 230-340 ms per task. CPython 3.13.0 only drops the cache entry
(zipimport.py:276-278) and re-reads lazily on the next lookup.

The wrapper below re-reads (or, on 3.13, drops) an archive's directory only
when the archive's (st_mtime_ns, st_size, st_ino) differs from the stamp
this importer took at its last re-read, or when the stat fails; an importer
with no stamp yet re-reads once. A changed archive is therefore always seen,
on every CPython version, and no version gate is needed.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """zipimporter.invalidate_caches, skipped while the archive is unchanged."""
    # stat before the re-read: a change racing the read then shows up as a
    # stale stamp (one extra re-read later), never as a missed change
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_dir_stamp", None):
        _reread(self)
        self._dir_stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    # stamp the importers the daemon already holds, so the workers it forks
    # start with stamps instead of each paying the first re-read
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run under the package name, so a forked worker finds the installed
    # wrapper as temp_c__bpf_osm_reader_spark.worker_daemon.invalidate_caches
    from temp_c__bpf_osm_reader_spark.worker_daemon import main as _main

    _main()
