"""The Python worker daemon of engine sessions (``spark.python.daemon.module``,
set by ``session.get_spark``): pyspark's own daemon, with zip archives on
``sys.path`` re-read only when they change.

Every Python task calls ``importlib.invalidate_caches()`` (pyspark
``worker_util.setup_spark_files``). On CPython 3.11 that makes every cached
``zipimporter`` re-read its archive's central directory: the 16 importers
of pyspark.zip re-parse its 1,328 entries, ~50 ms per task. Here an
importer re-reads only when its archive's (mtime, size, inode) differs
from the last read; the forked workers inherit the patch and the seeded
directories.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive -> stat key of its last directory read; process-wide like the
# zipimport directory cache it mirrors
_read_at: dict = {}


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    key = _stat_key(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if key is None or key != _read_at.get(self.archive) or cached is None:
        _reread(self)  # stat first: a change during the read re-reads
        _read_at[self.archive] = key
    else:
        self._files = cached  # another importer of it already re-read


if __name__ == "__main__":
    import importlib

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # one read per archive, before forking
    from pyspark import daemon

    daemon.manager()
