"""Python worker daemon whose zip importers re-read an archive only when
it changed.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, and on Python 3.11/3.12 each ``zipimporter`` then re-reads
its archive's whole central directory: pyspark.zip (1 328 entries)
behind 16 importers, 0.20-0.23 s of CPU per task that does nothing
(4-core host).
Here an importer re-reads only when the archive's ``(st_mtime_ns,
st_size)`` stamp changed or ``stat`` fails, so a rewritten archive is
still picked up. ``session.get_spark`` names this module as
``spark.python.daemon.module``: the patch lives in the daemon and the
workers it forks, never in the driver.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp, directory read at that stamp); process-wide, like
# zipimport's own _zip_directory_cache
_seen: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    seen = _seen.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _reread(self)
    _seen[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    importlib.invalidate_caches()  # read each archive once, before any fork
    from pyspark.daemon import manager

    manager()
