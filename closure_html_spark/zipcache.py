"""Stat-checked replacement for `zipimport.zipimporter.invalidate_caches`.

On Python 3.11 the stock method re-parses the archive's whole central
directory (`zipimport._read_directory`) on every call, whether or not the
archive changed.  The replacement calls the stock method only when the
archive's `(st_ino, st_size, st_mtime_ns)` differs from the stamp taken
when this importer last did so.  If the archive cannot be stat'ed it
always calls the stock method, so a deleted archive empties the importer
exactly as before.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _archive_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive changed."""
    # stamp BEFORE reading: a rewrite racing the read shows up next call
    stamp = _archive_stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_stat_stamp", None):
        _stock_invalidate_caches(self)
    self._stat_stamp = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
