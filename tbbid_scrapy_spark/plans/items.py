"""Span sequences → typed item rows (the reference's per-page XPath
programs, SURVEY.md §2.9, as declarative DataFrame transforms).

Input is the crawl's ``extracted`` table (doc_id, kind, text, media_ref,
offset, wave). Every rule here has a pure-Python twin in
fixtures/ref_items.py used as the parity oracle; the rules mirror the
reference's extraction semantics:

- listing  : anchor text = project title; 监理/造价咨询 anti-filter
             (bid_info.py:93-94); 招标公告 suffix trim (:101-102)
- stage    : project_id from '项目编号：…' split on '：' (:134)
- notice   : script-strip + funding/duration/qualification/profession
             regex extraction (util.py:133-147)
- bids     : header row then (bidder, amount) cell pairs (:239-254);
             lot_ctl_amt = first float-castable value in the 控制价
             column (:195-210, W5)
- candidates: stride-12 cell blocks per section — cells 0/3/6 =
             company/manager/amount (:289-300, W1); rank hardcoded 1
             (:318, W2); section_id = '%03d' % (block+1)

project/bid/rank identity comes from the pid embedded in the canonical
URL (…/notice/<pid> etc.) — the batch equivalent of the reference
threading the parent item through request.meta (J2: children inherit
parent columns, no join needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tbbid_scrapy_spark.functions.extract import (
    extract_construction_qualification,
    extract_duration,
    extract_funding_source,
    extract_profession_and_level,
    is_number,
    to_number,
    split_colon_field,
    title_suffix_trim,
)
from tbbid_scrapy_spark.functions.html import remove_script_tags_pd
from tbbid_scrapy_spark.functions.urls import resolve_and_canonicalize_pd
from tbbid_scrapy_spark.plans.crawl import _kind_expr


def _pid_from_url(doc_id, marker: str):
    return F.regexp_extract(doc_id, marker + r"([^/?#]+)", 1)


def with_page_kind(extracted: DataFrame) -> DataFrame:
    return extracted.withColumn("page_kind", _kind_expr("doc_id"))


def listing_projects(extracted: DataFrame) -> DataFrame:
    """Project stubs from listing pages: (stage_url, title). Applies the
    anti-keyword filter and the suffix trim."""
    ex = with_page_kind(extracted)
    links = ex.filter(
        (F.col("page_kind") == "listing")
        & (F.col("kind") == "link")
        & F.col("media_ref").contains("/project/")
    )
    links = links.withColumn(
        "stage_url", resolve_and_canonicalize_pd(F.col("media_ref"), F.col("doc_id"))
    )
    kept = links.filter(
        ~F.col("text").contains("监理") & ~F.col("text").contains("造价咨询")
    )
    # Deterministic dedup: the same /project/<id> link can appear on
    # several listing pages with different anchor text; dropDuplicates
    # would keep a plan/partitioning-dependent arbitrary row. Keep the
    # FIRST sighting in listing-scan order ((doc_id, offset) is a total
    # order over spans) so reruns of identical input emit identical rows.
    return (
        kept.select(
            "stage_url",
            title_suffix_trim(F.col("text")).alias("title"),
            F.struct("doc_id", "offset").alias("_ord"),
        )
        .groupBy("stage_url")
        .agg(F.min_by("title", F.col("_ord")).alias("title"))
    )


def stage_project_ids(extracted: DataFrame) -> DataFrame:
    """(stage_url, project_id) from the stage page's 项目编号 cell."""
    ex = with_page_kind(extracted)
    cells = ex.filter(
        (F.col("page_kind") == "stage")
        & (F.col("kind") == "table_cell")
        & F.col("text").startswith("项目编号：")
    )
    # min_by offset, not dropDuplicates: if a page ever carried two
    # 项目编号 cells the kept one must not depend on partitioning.
    return (
        cells.select(
            F.col("doc_id").alias("stage_url"),
            split_colon_field(F.col("text"), 1).alias("project_id"),
            F.col("offset"),
        )
        .groupBy("stage_url")
        .agg(F.min_by("project_id", F.col("offset")).alias("project_id"))
    )


def notice_analysis(extracted: DataFrame) -> DataFrame:
    """Per-project notice fields (F10 composite) from the notice page's
    text spans (the HTML body)."""
    ex = with_page_kind(extracted)
    body = (
        ex.filter((F.col("page_kind") == "notice") & (F.col("kind") == "text"))
        .groupBy("doc_id")
        .agg(
            # collect_list order is nondeterministic → sort by offset struct
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("offset", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("html")
        )
    )
    pure = remove_script_tags_pd(F.col("html"))
    return body.select(
        _pid_from_url(F.col("doc_id"), "/notice/").alias("project_id"),
        pure.alias("notice_content"),
        extract_funding_source(pure).alias("construction_funds"),
        extract_duration(pure).alias("project_duration"),
        F.array_join(extract_construction_qualification(pure), ",").alias("company_req"),
        extract_profession_and_level(pure).alias("person_req"),
    )


def bid_items(extracted: DataFrame) -> DataFrame:
    """Bid rows from bids pages: cells ordered by offset; offsets 0-1 are
    the header, then (bidder, amount) pairs. bid_amount NULL when the
    cell fails the float-castable test (is_number, F3)."""
    ex = with_page_kind(extracted)
    cells = ex.filter((F.col("page_kind") == "bids") & (F.col("kind") == "table_cell"))
    w = Window.partitionBy("doc_id").orderBy("offset")
    cells = cells.withColumn("pos", F.row_number().over(w) - 1).filter(F.col("pos") >= 2)
    pairs = (
        cells.withColumn("pair", ((F.col("pos") - 2) / 2).cast("int"))
        .withColumn("side", F.pmod(F.col("pos") - 2, F.lit(2)))
        .groupBy("doc_id", "pair")
        .agg(
            F.max(F.when(F.col("side") == 0, F.col("text"))).alias("bidder_name"),
            F.max(F.when(F.col("side") == 1, F.col("text"))).alias("amount_raw"),
        )
    )
    return pairs.filter(
        F.col("bidder_name").isNotNull() & (F.col("bidder_name") != "")
    ).select(
        _pid_from_url(F.col("doc_id"), "/bids/").alias("project_id"),
        F.lit("001").alias("section_id"),
        F.col("bidder_name"),
        to_number(F.col("amount_raw")).alias("bid_amount"),
        F.col("pair").alias("bid_pos"),
    )


def lot_control_amounts(extracted: DataFrame) -> DataFrame:
    """W5: per bids page, the first float-castable value in the 控制价
    column (column = odd cells of the pair area, mirroring the
    header-position scan of bid_info.py:195-210)."""
    ex = with_page_kind(extracted)
    cells = ex.filter((F.col("page_kind") == "bids") & (F.col("kind") == "table_cell"))
    w = Window.partitionBy("doc_id").orderBy("offset")
    cells = cells.withColumn("pos", F.row_number().over(w) - 1)
    amount_col = cells.filter(
        (F.col("pos") >= 2) & (F.pmod(F.col("pos") - 2, F.lit(2)) == 1)
    )
    numeric = amount_col.filter(is_number(F.col("text")))
    wfirst = Window.partitionBy("doc_id").orderBy("pos")
    first = (
        numeric.withColumn("_rn", F.row_number().over(wfirst))
        .filter(F.col("_rn") == 1)
    )
    return first.select(
        _pid_from_url(F.col("doc_id"), "/bids/").alias("project_id"),
        F.lit("001").alias("section_id"),
        to_number(F.col("text")).alias("lot_ctl_amt"),
    )


def candidate_ranks(extracted: DataFrame) -> DataFrame:
    """bid_rank rows from candidates pages: table cells in offset order,
    12-cell blocks = sections; cells 0/3/6 of each block are
    company/manager/amount; rank literal 1 (W1+W2)."""
    ex = with_page_kind(extracted)
    cells = ex.filter(
        (F.col("page_kind") == "candidates") & (F.col("kind") == "table_cell")
    )
    w = Window.partitionBy("doc_id").orderBy("offset")
    cells = cells.withColumn("pos", F.row_number().over(w) - 1)
    blocks = (
        cells.withColumn("block", (F.col("pos") / 12).cast("int"))
        .withColumn("slot", F.pmod(F.col("pos"), F.lit(12)))
        .filter(F.col("slot").isin(0, 3, 6))
        .groupBy("doc_id", "block")
        .agg(
            F.max(F.when(F.col("slot") == 0, F.col("text"))).alias("bidder_name"),
            F.max(F.when(F.col("slot") == 3, F.col("text"))).alias("manager_name"),
            F.max(F.when(F.col("slot") == 6, F.col("text"))).alias("amount_raw"),
        )
    )
    return blocks.select(
        _pid_from_url(F.col("doc_id"), "/candidates/").alias("project_id"),
        F.format_string("%03d", F.col("block") + 1).alias("section_id"),
        F.col("bidder_name"),
        F.lit(1).alias("rank"),
        F.col("manager_name"),
        to_number(F.col("amount_raw")).alias("win_amt"),
    )


def extract_all_items(extracted: DataFrame) -> dict[str, DataFrame]:
    """All item families in one pass over the extracted-span table."""
    projects = (
        listing_projects(extracted)
        .join(stage_project_ids(extracted), "stage_url", "inner")
        .join(notice_analysis(extracted), "project_id", "left")
        .select(
            "project_id",
            "title",
            F.col("stage_url").alias("url"),
            "notice_content",
            "construction_funds",
            "project_duration",
            "company_req",
            "person_req",
        )
    )
    return {
        "project": projects,
        "bid": bid_items(extracted),
        "lot_ctl": lot_control_amounts(extracted),
        "bid_rank": candidate_ranks(extracted),
    }
