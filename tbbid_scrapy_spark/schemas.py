"""Every schema the engine uses, as explicit StructTypes.

The reference keeps schemas dynamic at extraction (scrapy.Field dicts,
/root/reference/xizang/items.py:8-102) and fixed only at the Postgres sink
(/root/reference/xizang/models/models.py). The engine inverts this: fixed,
typed StructTypes end-to-end, nullable columns standing in for absent
fields (SURVEY.md §1.3).
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

FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("url_norm", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("page_kind", T.StringType(), True),
        T.StructField("parent_id", T.StringType(), True),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("priority", T.IntegerType(), False),
        T.StructField("wave", T.IntegerType(), False),  # wave the URL was discovered
        T.StructField("state", T.StringType(), False),  # pending|fetched|failed|excluded
        T.StructField("attempts", T.IntegerType(), False),
        T.StructField("last_status", T.IntegerType(), True),
        T.StructField("seq", T.LongType(), False),  # discovery order within wave
    ]
)

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

SEEDS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

# The engine's per-wave metrics live where they are produced:
# plans/crawl.py CrawlState.metrics_table (wave, partition_id, host,
# urls_scheduled, fetched_ok, failed_404, retried_5xx, spans_extracted),
# a view over the wave log.

# ---------------------------------------------------------------------------
# Relational target tables (mirror /root/reference/xizang/models/models.py)
# ---------------------------------------------------------------------------

PROJECT = T.StructType(  # models.py:9-29
    [
        T.StructField("project_id", T.StringType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("time_show", T.TimestampType(), True),
        T.StructField("platform_name", T.StringType(), True),
        T.StructField("classify_show", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("notice_content", T.StringType(), True),
        T.StructField("district_show", T.StringType(), True),
        T.StructField("session_size", T.IntegerType(), True),
        T.StructField("company_req", T.StringType(), True),
        T.StructField("person_req", T.StringType(), True),
        T.StructField("construction_funds", T.StringType(), True),
        T.StructField("project_duration", T.StringType(), True),
        T.StructField("stage", T.IntegerType(), True),
    ]
)

BID_SECTION = T.StructType(  # models.py:32-53, key (project_id, section_id)
    [
        T.StructField("project_id", T.StringType(), False),
        T.StructField("section_id", T.StringType(), False),
        T.StructField("section_name", T.StringType(), True),
        T.StructField("bid_size", T.IntegerType(), True),
        T.StructField("bid_open_time", T.TimestampType(), True),
        T.StructField("info_source", T.StringType(), True),
        T.StructField("lot_ctl_amt", T.DoubleType(), True),
        T.StructField("session_size", T.IntegerType(), True),
        T.StructField("status", T.StringType(), True),
        T.StructField("winning_bidder", T.StringType(), True),
        T.StructField("winning_amount", T.DoubleType(), True),
        T.StructField("winning_time", T.TimestampType(), True),
    ]
)

BID = T.StructType(  # models.py:55-71, key (project_id, section_id, bidder_name)
    [
        T.StructField("project_id", T.StringType(), False),
        T.StructField("section_id", T.StringType(), False),
        T.StructField("section_name", T.StringType(), True),
        T.StructField("bidder_name", T.StringType(), False),
        T.StructField("bid_amount", T.DoubleType(), True),
        T.StructField("bid_open_time", T.TimestampType(), True),
    ]
)

BID_RANK = T.StructType(  # models.py:74-90, key (project_id, section_id, rank)
    [
        T.StructField("project_id", T.StringType(), False),
        T.StructField("section_id", T.StringType(), False),
        T.StructField("section_name", T.StringType(), True),
        T.StructField("bidder_name", T.StringType(), True),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("manager_name", T.StringType(), True),
        T.StructField("win_amt", T.DoubleType(), True),
        T.StructField("open_time", T.TimestampType(), True),
    ]
)

COMPANY_INFO = T.StructType(  # models.py:93-113, key corp_code
    [
        T.StructField("corp_code", T.StringType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("corp", T.StringType(), True),
        T.StructField("corp_asset", T.StringType(), True),
        T.StructField("reg_address", T.StringType(), True),
        T.StructField("valid_date", T.StringType(), True),
        T.StructField("qualifications", T.ArrayType(T.StringType()), True),
        T.StructField("bid_count", T.IntegerType(), True),
        T.StructField("win_count", T.IntegerType(), True),
        T.StructField("others", T.StringType(), True),
    ]
)

EMPLOYEE_INFO = T.StructType(  # models.py:116-135, key cert_code else (name, corp_code)
    [
        T.StructField("cert_code", T.StringType(), True),
        T.StructField("name", T.StringType(), False),
        T.StructField("corp_code", T.StringType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("major", T.ArrayType(T.StringType()), True),
        T.StructField("valid_date", T.StringType(), True),
        T.StructField("birth_date", T.TimestampType(), True),
        T.StructField("id_number", T.StringType(), True),
    ]
)

PERSON_PERFORMANCE = T.StructType(  # models.py:137-154
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("corp_code", T.StringType(), True),
        T.StructField("corp_name", T.StringType(), True),
        T.StructField("project_name", T.StringType(), True),
        T.StructField("data_level", T.StringType(), True),
        T.StructField("role", T.StringType(), True),
        T.StructField("record_id", T.StringType(), True),
        T.StructField("company_id", T.StringType(), True),
    ]
)

WINNER_BID_INFO = T.StructType(  # models.py:156-176, key (corp_code, project_name)
    [
        T.StructField("corp_code", T.StringType(), False),
        T.StructField("project_name", T.StringType(), False),
        T.StructField("bidder_name", T.StringType(), True),
        T.StructField("area_code", T.StringType(), True),
        T.StructField("win_amt", T.DoubleType(), True),
        T.StructField("create_time", T.TimestampType(), True),
        T.StructField("tender_org_name", T.StringType(), True),
        T.StructField("tos", T.StringType(), True),
        T.StructField("url", T.StringType(), True),
        T.StructField("notice_content", T.StringType(), True),
    ]
)

CITIES = T.StructType(  # /root/reference/xizang/cities.json shape (342 rows)
    [
        T.StructField("code", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("province_code", T.StringType(), True),
    ]
)

# Natural merge keys per table (SURVEY.md §2.10)
MERGE_KEYS: dict[str, list[str]] = {
    "project": ["project_id"],
    "bid_section": ["project_id", "section_id"],
    "bid": ["project_id", "section_id", "bidder_name"],
    "bid_rank": ["project_id", "section_id", "rank"],
    "company_info": ["corp_code"],
    "employee_info": ["merge_key"],  # computed coalesce(cert_code, name|corp_code)
    "person_performance": ["name", "corp_code", "project_name", "role"],
    "winner_bid_info": ["corp_code", "project_name"],
}
