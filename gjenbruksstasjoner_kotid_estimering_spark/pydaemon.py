"""Spark's Python worker daemon, with zip directories re-read only when
the archive changed.

``session.get_spark`` starts Python workers from this module
(``spark.python.daemon.module``); it runs ``pyspark.daemon.manager()``.
Spark puts ``pyspark.zip`` first on the workers' path, and before every
task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` so that a newly shipped pyFile is seen.
On Python < 3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads
the whole central directory of its archive at once, and a worker holds
a dozen or more importers over pyspark.zip (≈1,300 entries): about
0.2 s per task. CPython 3.12 made that re-read lazy (gh-103200).

Here every directory read records the archive's ``(st_mtime_ns,
st_size)``, and ``invalidate_caches`` re-reads only when that stamp has
changed; otherwise the importer takes the directory already in
``zipimport._zip_directory_cache``. A rewritten archive is read again,
and a newly added one is read as before.

Imports only the standard library and ``pyspark.daemon``: the daemon
starts once per session and forks every worker, so it stays cheap.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# the module's import name, also when it runs as ``python -m``
_NAME = __spec__.name if __spec__ else __name__

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _stamping(read_directory, reread):
    """``zipimport._read_directory`` and ``zipimporter.invalidate_caches``
    wrapped: every read stamps its archive, and an importer re-reads only
    when the archive's stamp changed."""

    def _read_and_stamp(archive):
        stamp = _stamp(archive)
        files = read_directory(archive)
        _stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        """Reload the file data of the archive path if the archive changed
        since it was last read."""
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or files is None or _stamps.get(self.archive) != stamp:
            reread(self)
        else:
            self._files = files

    _read_and_stamp.__module__ = invalidate_caches.__module__ = _NAME
    return _read_and_stamp, invalidate_caches


def install() -> bool:
    """Patch zipimport on Python < 3.12 (once per process); returns
    whether the patch is in place."""
    if sys.version_info >= (3, 12):
        return False
    cls = zipimport.zipimporter
    if cls.invalidate_caches.__module__ != _NAME:
        zipimport._read_directory, cls.invalidate_caches = _stamping(
            zipimport._read_directory, cls.invalidate_caches
        )
    return True


def main() -> None:
    install()
    from pyspark import daemon

    # re-read (and so stamp) the archives read before install(), so that
    # forked workers inherit a stamp for each
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
