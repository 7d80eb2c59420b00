"""Re-read a zip archive's directory on `importlib.invalidate_caches()` only
when the archive changed.

PySpark's `worker_util.setup_spark_files` calls `importlib.invalidate_caches()`
before every task a Python worker runs. On CPython < 3.13,
`zipimport.zipimporter.invalidate_caches` eagerly re-reads its archive's whole
central directory, and a worker holds a zipimporter over every zip and jar on
its `sys.path`: `pyspark.zip` (1,328 entries, about 10 ms a read), the py4j
zip, `spark-core_*.jar` (5,359 entries, about 40 ms), and any `--py-files`
archive. Measured on a 4-vCPU host with PySpark 4.1.2 and CPython 3.11, that
is 16 directory reads and 140-370 ms per task, against about 1.5 ms inside a
kernel that only counts the rows it is sent.

`install()` replaces `zipimporter.invalidate_caches` with a wrapper that
calls the original only when the archive's `(st_mtime_ns, st_size)` differs
from what that importer last read, or when the `stat` fails. A rewritten or
replaced archive (a new `addPyFile` zip) still reloads exactly as before; an
unchanged one costs one `os.stat`. The package `__init__` installs it, so it
is live in every worker that unpickles an engine kernel.

CPython 3.13 reloads lazily (`zipimporter._get_files`), where `install()`
does nothing. Delete this module once the interpreter floor is 3.13.
"""

from __future__ import annotations

import os
import zipimport


def install() -> None:
    """Wrap `zipimporter.invalidate_caches`, once per process."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files") or getattr(cls.invalidate_caches, "_reads_on_change", False):
        return
    reload = cls.invalidate_caches

    def invalidate_caches(self):
        # stat before the read: an archive changing between the two leaves
        # the old signature recorded, so the next call reads again
        try:
            st = os.stat(self.archive)
        except OSError:
            self._archive_signature = None
            reload(self)
            return
        signature = (st.st_mtime_ns, st.st_size)
        if signature != getattr(self, "_archive_signature", None):
            reload(self)
            self._archive_signature = signature

    invalidate_caches._reads_on_change = True
    cls.invalidate_caches = invalidate_caches
