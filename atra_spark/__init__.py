"""atra_spark — a PySpark-native rebuild of the atra crawl engine.

A brand-new implementation (NOT a port) of the capabilities of the
reference crawler FelixEngl/atra (Rust, at /root/reference): a
distributed URL-frontier + fetch scheduler expressed as idiomatic
PySpark — DataFrame ops, vectorized pandas/Arrow UDFs, grouped
``applyInPandas`` state — over partitioned parquet/Iceberg-style
checkpoint tables of Common-Crawl-style pages.

Subpackages
-----------
- ``atra_spark.schemas``    explicit StructTypes for every table
- ``atra_spark.urlkit``     pure-Python URL kernel (canonicalize, origin, depth)
- ``atra_spark.functions``  vectorized pandas UDFs (decode, extract, lang, dedup)
- ``atra_spark.operators``  frontier / seen-set / politeness operators
- ``atra_spark.sources``    deterministic fixture synthesis + table store
- ``atra_spark.plans``      the round-loop crawl driver
"""

__version__ = "0.1.0"
