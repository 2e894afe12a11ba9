"""Stop pyspark's Python workers re-reading ``pyspark.zip`` on every call.

pyspark's worker runs ``importlib.invalidate_caches()`` at the start of
every planner call and every task (``worker_util.setup_spark_files``).
Where ``zipimporter.invalidate_caches`` re-reads eagerly (CPython 3.11),
each of the ~16 importers on a worker's path then re-reads its archive's
whole central directory: ~1.7k entries of pyspark.zip each, about 0.19 s
per call on a 4-vCPU x86 VM. The guard re-reads an archive only when its
``(st_mtime_ns, st_size)`` changed since this process last read it, so a
rewritten zip is still picked up. Spark reuses its Python workers, so the
guard installed on the first import covers every later call.
"""

from __future__ import annotations

import os
import zipimport


def install(zi=zipimport) -> None:
    """Guard ``zi.zipimporter.invalidate_caches``; idempotent, and a no-op
    where the interpreter already re-reads lazily (3.13+ only drops the
    cache entry, so ``_read_directory`` is absent from the method)."""
    cls = zi.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "guarded", False) or "_read_directory" not in reread.__code__.co_names:
        return
    last: dict[str, tuple] = {}  # archive -> (stamp, files) of this process's last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        seen = last.get(self.archive)
        if seen is not None and seen[0] == stamp:
            self._files = zi._zip_directory_cache[self.archive] = seen[1]
            return
        reread(self)  # stamp taken first: a rewrite mid-read re-reads next time
        if self.archive in zi._zip_directory_cache:
            last[self.archive] = (stamp, self._files)

    invalidate_caches.guarded = True
    cls.invalidate_caches = invalidate_caches
