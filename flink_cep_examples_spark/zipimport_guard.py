"""Skip zip-directory re-reads for archives that have not changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task. Before CPython 3.13, that makes every
``zipimporter`` on ``sys.path_importer_cache`` re-read its archive's
central directory. For ``pyspark.zip`` (~1,300 entries, ~18 importers
per worker) this costs 0.2-0.25 s of CPU per task, which is most of a
stream micro-batch's Python time.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads only when the archive's stat stamp differs from the one
taken before that importer's last read. A rewritten archive is therefore
still re-read. CPython 3.13+ reads zip directories lazily, so the guard
is not installed there. The package ``__init__`` installs it, so every
worker that unpickles an engine UDF gets it.
"""

from __future__ import annotations

import os
import sys
import zipimport

_ORIGINAL = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def _invalidate_if_changed(self) -> None:
    # Stat before reading: an archive rewritten between the two leaves an
    # older stamp behind, so the next call re-reads again.
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    _ORIGINAL(self)
    self._read_stamp = stamp


def install() -> bool:
    """Install the guard; return whether it is active. Idempotent."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return is_active()


def is_active() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_if_changed
