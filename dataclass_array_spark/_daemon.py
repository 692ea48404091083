"""Python worker daemon of the sessions ``get_spark`` builds.

pyspark ends every worker task with ``importlib.invalidate_caches()``,
and a stock ``zipimporter`` answers that by re-parsing its archive's
whole central directory in pure Python.  A worker holds one importer
per zip on its path (pyspark.zip, py4j, the spark-core jar) plus one
per package imported from them, so each task re-read thousands of
entries although no archive had changed.  The importer here re-reads an
archive only when its ``(st_mtime_ns, st_size)`` stamp changed — the
check the stdlib ``FileFinder`` makes for directories.  The rest is
``pyspark.daemon``; forked workers inherit the path hook.
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


class _StatZipImporter(zipimport.zipimporter):
    # archive → stamp of its listing in zipimport._zip_directory_cache,
    # which every importer of one archive shares
    _stamps: dict = {}

    def __init__(self, path):
        super().__init__(path)
        self._stamps.setdefault(self.archive, _stamp(self.archive))

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != self._stamps.get(self.archive):
            super().invalidate_caches()
            self._stamps[self.archive] = stamp
        else:  # pick up a re-read made through another importer
            self._files = zipimport._zip_directory_cache.get(self.archive, self._files)


if __name__ == "__main__":
    from pyspark import daemon

    if zipimport.zipimporter in sys.path_hooks:
        sys.path_hooks[sys.path_hooks.index(zipimport.zipimporter)] = _StatZipImporter
        sys.path_importer_cache.clear()
    daemon.manager()
