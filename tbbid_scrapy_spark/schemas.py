"""The engine's input and crawl-state schemas, as explicit StructTypes.

The reference keeps schemas dynamic at extraction (scrapy.Field dicts,
/root/reference/xizang/items.py:8-102) and fixed only at the Postgres sink
(/root/reference/xizang/models/models.py). The engine inverts this: fixed,
typed StructTypes end-to-end, nullable columns standing in for absent
fields (SURVEY.md §1.3). The 8 sink tables are declared once, with their
keys and merge rules, in ``plans.relational.MERGE_SPECS``; the crawl's
frontier columns are built in one place, ``plans.crawl._frontier_rows``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Primary input: interleaved text + media documents (BASELINE.json input_hint)
# ---------------------------------------------------------------------------

SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # text|title|link|table_cell|media
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),  # href/src for link/media
        T.StructField("offset", T.IntegerType(), False),  # 0-based document order
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),  # canonical URL of the page
        T.StructField("page_kind", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

# ---------------------------------------------------------------------------
# Crawl-state tables (FIXTURES.md §2)
# ---------------------------------------------------------------------------

SEEN_SHARDS = T.StructType(
    [
        T.StructField("shard_id", T.IntegerType(), False),
        T.StructField("bitset", T.BinaryType(), False),
        T.StructField("n_inserted", T.LongType(), False),
    ]
)

ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("path_prefix", T.StringType(), False),
        T.StructField("allow", T.BooleanType(), False),
    ]
)

POLITENESS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("budget_per_wave", T.IntegerType(), False),
        T.StructField("delay_s", T.DoubleType(), False),
    ]
)

# The engine's per-wave metrics live where they are produced:
# plans/crawl.py CrawlState.metrics_table (wave, partition_id, host,
# urls_scheduled, fetched_ok, failed_404, retried_5xx, spans_extracted),
# a view over the wave log.

CITIES = T.StructType(  # /root/reference/xizang/cities.json shape (342 rows)
    [
        T.StructField("code", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("province_code", T.StringType(), True),
    ]
)
