"""Entry point of Spark's Python worker daemon (``spark.python.daemon.module``).

A Python worker calls ``importlib.invalidate_caches()`` at the start of every
task. Before CPython 3.13 (gh-103200) each ``zipimporter`` then re-reads its
archive's whole central directory, and a worker holds one importer per
package directory it imported from ``pyspark.zip``. Here the directory is
read again only when the archive's ``(st_mtime_ns, st_size, st_ino)`` changed
since this process last read it, and every importer of that archive shares
the one read. Worker reuse carries the memo from task to task.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_memo: dict[str, tuple[tuple[int, int, int], dict]] = {}


def invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
        if self.archive not in _memo or _memo[self.archive][0] != key:
            _memo[self.archive] = key, zipimport._read_directory(self.archive)
    except (OSError, zipimport.ZipImportError):
        _memo.pop(self.archive, None)
        _stock_invalidate(self)
        return
    self._files = zipimport._zip_directory_cache[self.archive] = _memo[self.archive][1]


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    manager()
