"""Python worker daemon: ``pyspark.daemon`` with a stat-keyed zip importer.

``session.get_spark`` points ``spark.python.daemon.module`` at this
module. It patches the zip importer, then runs ``pyspark.daemon``
unchanged; the workers the daemon forks inherit the patch.

Why: every Python task calls ``importlib.invalidate_caches()``
(pyspark 4.1 ``worker_util.py:144``, ``setup_spark_files``). On CPython
3.11 and 3.12 (``zipimport.py:329`` in 3.11) that makes every
``zipimporter`` eagerly re-read its archive's central directory:
``pyspark.zip`` (1,328 entries) and the py4j zip, once per importer
(one per package directory imported from a zip; a worker holds about
14), on every task, although neither file changes: about 0.13 s of CPU
a task. The patched ``invalidate_caches`` re-reads only when the
archive's ``(st_ino, st_size, st_mtime_ns)`` changed since its last
read by this importer, or ``os.stat`` fails; otherwise the importer
keeps the directory it holds.

CPython 3.13 made the re-read lazy (``zipimport.py:276``), so the patch
is skipped there. Delete this module, and the conf line in
``session.get_spark``, once the workers' Python is 3.13 or newer.
"""

import os
import runpy
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    # stat before the read: a rewrite racing the read shows as a new key next call
    if key is None or key != getattr(self, "_stat_key", None):
        _reread(self)
        self._stat_key = key


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
