"""webcrawl_spark — a from-scratch PySpark-native distributed URL-frontier
engine with the query/data-processing capabilities of AdamMil/WebCrawl.

Architecture (Spark-first, NOT a port):

- ``kernels/``    pure-pandas vectorized kernels (URL canonicalization, link
                  extraction, charset decode, MIME, scope, filters, robots)
                  shared by the Spark pandas-UDFs and the sequential oracle.
- ``functions/``  pandas_udf wrappers + training-data text/similarity funcs.
- ``operators/``  relational operators: politeness top-k, frontier dedup
                  (Bloom-prefiltered anti-join, salted), caps, retry routing,
                  dense-seq assignment, text dedup (exact/minhash/simhash),
                  ANN similarity search.
- ``sources/``    seeds, pages table readers, deterministic synthetic webs.
- ``plans/``      the per-round DataFrame pipeline, the multi-round BFS
                  driver, and atomic snapshot checkpointing (Iceberg-style
                  commit semantics over Parquet in-sandbox).
- ``oracle/``     sequential pure-Python reference crawler producing golden
                  traces (same deterministic schedule, same kernels).
- ``fixtures/``   deterministic synthetic web generators (seeded).

Reference semantics are cited per function as ``Backend/Crawler.cs:line``.
"""

__version__ = "0.1.0"


def _in_task() -> bool:
    from pyspark import TaskContext

    return TaskContext.get() is not None


# every engine UDF unpickles through this package, so a reused Python
# worker is patched on its first engine task; the driver is left alone
if _in_task():
    from .pyworker import lazy_zip_invalidation

    lazy_zip_invalidation()
