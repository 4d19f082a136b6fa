"""geospatial_spark — a from-scratch PySpark-native inverted-index + BM25
top-k query engine over multi-turn transcript tables, carrying the
capability set of the reference OpenSearch geospatial plugin
(/root/reference) re-expressed Spark-first.

Reference capability → package map (see SURVEY.md §2):
  ingest processors  (processor/FeatureProcessor.java)      → functions/tokenize.py
  field indexers     (index/mapper/xypoint|xyshape)         → operators/postings.py
  query operators    (index/query/*)                        → operators/scorer.py, operators/wand.py
  grid bucket agg    (search/aggregations/bucket/geogrid)   → operators/grid.py
  enrichment join    (ip2geo/dao/*)                         → operators/enrich.py
  datasource lifecycle (ip2geo/jobscheduler/*)              → plans/lifecycle.py, plans/build.py
  stats fan-out      (stats/upload/*)                       → plans/build.py metrics
"""

__version__ = "0.1.0"

# Allocator hygiene for the numpy/Arrow kernels (guide §5: memory).
# numpy madvises MADV_HUGEPAGE on every large allocation; on hosts where
# transparent_hugepage/defrag routes those faults through synchronous
# compaction (or where free memory is fragmented), first-touch of each
# fresh temp array serializes in the kernel — measured 6×+ wall blowup
# on the 16-way merge/encode kernels, pure system time. The kernels'
# throughput does not depend on huge pages (stream-shaped numpy ops),
# so default the madvise off; the env var must be set before numpy is
# first imported, which is why it lives here. Spark python workers
# inherit the driver's environment in local mode, so this covers the
# executor side too. Deployments that want huge pages back can export
# NUMPY_MADVISE_HUGEPAGE=1 (setdefault never overrides an explicit
# choice).
import os as _os

_os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")

# Per-task import hygiene for the Spark Python workers. PySpark calls
# importlib.invalidate_caches() before every task (setup_spark_files).
# On CPython < 3.12 each zipimporter answers by re-parsing its archive's
# whole central directory: a worker holds 17-19 of them (pyspark.zip, py4j
# and the --py-files package zip), ≈120 ms of CPU per task, more than
# the build kernels. The wrapped method re-reads only when the archive's
# (mtime, size, inode) changed since this importer last read it, so a
# replaced or re-added archive still imports correctly; a failed stat or
# an importer's first call runs the original. A worker installs it when
# it first unpickles an engine kernel, which imports this package.
# CPython 3.12+ re-reads lazily and is left alone.
import sys as _sys


def _guard_zip_rereads() -> None:
    if _sys.version_info >= (3, 12):
        return
    import functools
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if hasattr(reread, "__wrapped__"):
        return

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
        except OSError:
            self._dir_stat = None
            return reread(self)
        # stat before the read: an archive replaced during the read then
        # differs from the recorded stat and is re-read next time
        seen = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_dir_stat", None) != seen:
            reread(self)
            self._dir_stat = seen

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_rereads()
