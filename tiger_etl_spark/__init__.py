"""tiger_etl_spark — a PySpark-native CDC / incremental-ingest engine.

A brand-new engine (NOT a port) with the query and data-processing
capabilities of the reference ``lawrence-gandhar/tiger_etl`` ETL platform,
re-expressed Spark-first per SURVEY.md:

- ``lake/``       — snapshot-isolated Parquet table format (Iceberg-style
                    manifests, bucket partitioning, MERGE with LWW,
                    merge-on-read deltas + compaction).
- ``cdc/``        — the change-data-capture pipeline: deterministic event
                    generators, validation/quarantine, schema-id mapping,
                    LWW dedup, hot-key salting, batch apply, Structured
                    Streaming wrapper, exactly-once lineage.
- ``operators/``  — general DataFrame operators mirroring the reference's
                    CRUD/search/window/set-op surface (SURVEY.md §2), plus
                    web-scale dedup (MinHash/SimHash) and ANN similarity.
- ``functions/``  — scalar/text function library (SURVEY.md §2.8) with
                    vectorized Arrow/pandas UDFs only (no per-row Python).

Importing the package installs ``_zipimport``: Spark's Python workers
then stop re-reading every zip archive on ``sys.path`` at each task.
"""

from tiger_etl_spark import _zipimport

_zipimport.install()

__version__ = "0.1.0"
