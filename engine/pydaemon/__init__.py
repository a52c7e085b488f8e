"""The Python daemon of every get_spark session: ``pyspark.daemon``, with
zip archives re-read only when they change.

Each Python task starts in pyspark's ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython 3.11 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` read its archive's
central directory again at once. A worker holds 14 or more of them: two
over the py4j zip, and 12 or more over pyspark.zip (its root and one per
imported pyspark subpackage), each of which reads all 1,328 entries. That
is 150-220 ms of CPU per task on a 4-core VM, most of a 1-shard WAND
query's worker time. CPython 3.12 made that re-read lazy.

``install`` makes ``zipimporter.invalidate_caches`` re-read an archive only
when its ``(st_mtime_ns, st_size)`` differs from the stamp taken when its
directory was last read, so a changed archive is still re-read.
``python -m engine.pydaemon`` installs it and runs ``pyspark.daemon``; every
worker the daemon forks inherits it.
"""

from __future__ import annotations

import os
import sys
import zipimport

_init = zipimport.zipimporter.__init__
_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp, directory) of the archive's last directory read
_last_read: dict[str, tuple[tuple[int, int] | None, dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _construct(self, path):
    _init(self, path)
    # a directory taken from zipimport's cache keeps the stamp of its read
    if _last_read.get(self.archive, (None, None))[1] is not self._files:
        _last_read[self.archive] = (_stamp(self.archive), self._files)


def _invalidate_caches(self):
    stamp = _stamp(self.archive)
    last_stamp, files = _last_read.get(self.archive, (None, None))
    if files is None or stamp != last_stamp:
        _reread(self)
        _last_read[self.archive] = (stamp, self._files)
    else:  # unchanged archive: its last read's directory, whoever read it
        self._files = files


def install() -> None:
    if sys.version_info >= (3, 12):  # the stock re-read is lazy there
        return
    zipimport.zipimporter.__init__ = _construct
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
