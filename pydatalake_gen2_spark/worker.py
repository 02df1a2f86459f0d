"""Engine daemon: its workers re-read a zip only when its stat changes (session.py)."""

import importlib
import os
import zipimport

_read = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None  # unknown: always re-read
    if key is None or key != getattr(self, "_read_stat", None):
        _read(self)
        self._read_stat = key


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    from pyspark import daemon
    importlib.invalidate_caches()  # read once here; forked workers inherit it
    daemon.manager()
