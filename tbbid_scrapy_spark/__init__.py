"""tbbid_scrapy_spark — a from-scratch, PySpark-native analytics + crawl
frontier engine with the query and data-processing capabilities of the
reference crawler AtomNotShy/tbbid-scrapy (studied read-only at
/root/reference; no code copied — the reference is a single-process Scrapy
spider, this is a partition-parallel Spark DataFrame engine).

Layout
------
- ``session``    : SparkSession builder tuned for local[N] testing and
                   cluster-scale defaults (AQE, Arrow, shuffle partitions).
- ``schemas``    : input and crawl-state StructTypes (interleaved-span
                   documents, seen shards, robots, politeness); the 8
                   relational sink tables are ``plans.relational.MERGE_SPECS``.
- ``functions``  : the scalar library (SURVEY.md §2.8) — URL
                   canonicalization, Chinese numerals, regex extraction,
                   HTML cleanup — built-ins first, Arrow UDFs only where
                   Catalyst has no primitive.
- ``operators``  : dedup (exact/minhash/simhash/jaccard/embedding),
                   similarity search, text analysis, bloom seen-set,
                   frontier politeness + ranking.
- ``sources``    : table loaders + MERGE-upsert sink (parquet snapshot
                   emulation of Iceberg MERGE INTO, atomic dir swap).
- ``plans``      : the crawl wave-loop (frontier expansion, checkpoint,
                   resume, metrics).
- ``fixtures``   : deterministic synthetic site-graph generator + the
                   single-threaded reference-skeleton simulator used as the
                   crawl-ordering / seen-set oracle.
"""

__version__ = "0.1.0"
