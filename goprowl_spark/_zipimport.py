"""Re-read a zip archive on ``importlib.invalidate_caches()`` only if it changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task. Before CPython 3.13 that makes each ``zipimporter`` (one per
package prefix: 12+ for the 1,328-entry ``pyspark.zip``) re-parse its archive's
directory, about 200 ms of CPU paid by every Python task of a crawl round.
3.13 made it lazy. Below 3.13 an archive is re-read only when its
(mtime_ns, size) is not what it was at its last read; archives open at import
count as read then.
"""

import os
import sys
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


if sys.version_info < (3, 13):
    _stamps = {i.archive: _stamp(i.archive) for i in list(sys.path_importer_cache.values())
               if isinstance(i, zipimport.zipimporter)}
    _read, _reread = zipimport._read_directory, zipimport.zipimporter.invalidate_caches

    def _read_directory(archive):
        _stamps[archive] = _stamp(archive)  # before the read: a write during it re-reads
        return _read(archive)

    def _invalidate_caches(self):
        stamp, files = _stamp(self.archive), zipimport._zip_directory_cache.get(self.archive)
        if stamp is None or stamp != _stamps.get(self.archive) or files is None:
            _reread(self)
        else:  # the archive's other importers (one per package prefix) share one read
            self._files = files

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
