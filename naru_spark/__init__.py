"""naru_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of naru-project/naru (neural cardinality
estimation), rebuilt Spark-first.

Reference semantics: /root/reference (naru-project/naru), cited per-module as
file:line. Architecture is NOT a port: data prep, exact estimators, workload
eval, and the LLM-data-pipeline extensions are Spark DataFrame jobs; the
autoregressive density model is a numpy re-implementation trained from
Spark-encoded data.
"""

import sys

__version__ = "0.1.0"

__all__ = [
    "ColumnMeta",
    "TableMeta",
    "DictionaryEncoder",
    "ColumnDictionary",
    "Query",
    "spark_predicate",
    "sql_predicate",
]

# Lazy re-exports (PEP 562): importing the bare package must stay CHEAP.
# The eager `from naru_spark.encoding import ...` form pulled pandas +
# numpy (~450 ms) into every process that touches any submodule —
# including the one-shot Python workers Spark spawns to plan/read the
# ``naru_snapshot`` DataSource (not covered by worker reuse), which pay
# the import per spawn, several times per streaming drain. The public
# API is unchanged: attribute access resolves to the same objects.
_LAZY = {
    "ColumnMeta": "naru_spark.meta",
    "TableMeta": "naru_spark.meta",
    "DictionaryEncoder": "naru_spark.encoding",
    "ColumnDictionary": "naru_spark.encoding",
    "Query": "naru_spark.predicates",
    "spark_predicate": "naru_spark.predicates",
    "sql_predicate": "naru_spark.predicates",
}


def __getattr__(name: str):
    mod = _LAZY.get(name)
    if mod is None:
        raise AttributeError(f"module 'naru_spark' has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(mod), name)


def _reread_changed_zips_only() -> None:
    """Skip ``zipimporter.invalidate_caches`` for archives whose stat did
    not change, inspired by Python 3.12's lazy invalidation (gh-103200).
    pyspark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and on 3.11 every ``zipimporter`` then re-reads its
    archive's whole directory: pyspark.zip alone has about a dozen
    importers, and the re-reads cost 130-260 ms per task. An importer now
    re-reads only when its archive's ``(st_mtime_ns, st_size, st_ino)``
    changed since it last did, so a rewritten zip is still seen. Unlike
    3.12, which drops the cached directory and re-reads it at the next
    lookup, this misses an in-place rewrite that keeps the size and the
    inode within one mtime tick."""
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            reread(self)
            return
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_read_stamp", None) != stamp:
            reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 12):  # Spark's Python workers import naru_spark
    _reread_changed_zips_only()
