"""Item extraction parity (engine vs pure-Python reference-skeleton
oracle) and relational sink state-machine semantics (SURVEY.md §2.10)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tbbid_scrapy_spark.fixtures import ref_items, sitegen
from tbbid_scrapy_spark.fixtures.simulator import simulate_crawl
from tbbid_scrapy_spark.plans import relational
from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine
from tbbid_scrapy_spark.plans.items import extract_all_items


@pytest.fixture(scope="module")
def crawl_extracted(spark, site_df, politeness_df, robots_df):
    eng = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
        CrawlConfig(max_waves=50),
    )
    return eng.run().extracted


@pytest.fixture(scope="module")
def sim_items(site):
    sim = simulate_crawl(
        site, sitegen.default_seeds(), sitegen.default_politeness(),
        sitegen.default_robots(), max_waves=50,
    )
    return ref_items.expected_items(sim.extracted)


def _rows(df, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in df.select(*cols).collect()
    )


def _expected(dicts, cols):
    return sorted(tuple(d[c] for c in cols) for d in dicts)


def test_project_items_match_oracle(spark, crawl_extracted, sim_items):
    items = extract_all_items(crawl_extracted)
    cols = ["project_id", "title", "url", "construction_funds",
            "project_duration", "company_req", "person_req"]
    assert _rows(items["project"], cols) == _expected(sim_items["project"], cols)


def test_notice_content_byte_equal(spark, crawl_extracted, sim_items):
    items = extract_all_items(crawl_extracted)
    got = {
        r.project_id: r.notice_content
        for r in items["project"].select("project_id", "notice_content").collect()
    }
    for d in sim_items["project"]:
        assert got[d["project_id"]] == d["notice_content"], d["project_id"]


def test_bid_items_match_oracle(spark, crawl_extracted, sim_items):
    items = extract_all_items(crawl_extracted)
    cols = ["project_id", "section_id", "bidder_name", "bid_amount"]
    assert _rows(items["bid"], cols) == _expected(sim_items["bid"], cols)


def test_lot_ctl_match_oracle(spark, crawl_extracted, sim_items):
    items = extract_all_items(crawl_extracted)
    cols = ["project_id", "section_id", "lot_ctl_amt"]
    assert _rows(items["lot_ctl"], cols) == _expected(sim_items["lot_ctl"], cols)


def test_rank_items_match_oracle(spark, crawl_extracted, sim_items):
    items = extract_all_items(crawl_extracted)
    cols = ["project_id", "section_id", "bidder_name", "rank", "manager_name", "win_amt"]
    assert _rows(items["bid_rank"], cols) == _expected(sim_items["bid_rank"], cols)


# ---------------------------------------------------------------------------
# relational state machine
# ---------------------------------------------------------------------------

def test_full_pipeline_stage_and_status(spark, crawl_extracted):
    items = extract_all_items(crawl_extracted)
    tables, pending = relational.upsert_wave(relational.empty_tables(spark), items)

    proj = {r.project_id: r for r in tables["project"].collect()}
    ranks_by_proj = {
        r.project_id for r in tables["bid_rank"].collect()
    }
    sects = tables["bid_section"].collect()
    sect_proj = {r.project_id for r in sects}
    assert proj, "no projects extracted"
    for pid, row in proj.items():
        expected_stage = 1 + (pid in sect_proj) + (pid in ranks_by_proj)
        assert row.stage == expected_stage, pid
    for s in sects:
        if s.winning_bidder is not None:
            assert s.status == "completed"
        else:
            assert s.status == "pending"
    # session_size = sections per project (A1)
    by_proj = {}
    for s in sects:
        by_proj[s.project_id] = by_proj.get(s.project_id, 0) + 1
    for pid, row in proj.items():
        assert (row.session_size or 0) == by_proj.get(pid, 0), pid


def test_children_before_parent_roll_forward(spark):
    """J3/C6: a bid arriving before its project waits in pending and lands
    once the project shows up — final state identical to in-order."""
    empty = relational.empty_tables(spark)
    bid_w1 = spark.createDataFrame(
        [("P9", "001", "某公司", 12.5, 0)],
        "project_id string, section_id string, bidder_name string, bid_amount double, bid_pos int",
    )
    no_proj = spark.createDataFrame([], empty["project"].schema)
    items_w1 = {
        "project": no_proj.select(
            "project_id", "title", "url", "notice_content", "construction_funds",
            "project_duration", "company_req", "person_req"),
        "bid": bid_w1,
        "lot_ctl": spark.createDataFrame([], "project_id string, section_id string, lot_ctl_amt double"),
        "bid_rank": spark.createDataFrame(
            [], "project_id string, section_id string, bidder_name string, rank int,"
                "manager_name string, win_amt double"),
    }
    t1, p1 = relational.upsert_wave(empty, items_w1)
    assert t1["bid"].count() == 0
    assert p1["bid"].count() == 1  # queued

    proj_w2 = spark.createDataFrame(
        [("P9", "标题", "https://h/p/P9", None, None, None, None, None)],
        "project_id string, title string, url string, notice_content string,"
        "construction_funds string, project_duration string, company_req string, person_req string",
    )
    items_w2 = {**items_w1, "project": proj_w2,
                "bid": spark.createDataFrame([], bid_w1.schema)}
    t2, p2 = relational.upsert_wave(t1, items_w2, p1)
    assert t2["bid"].count() == 1  # drained
    assert p2["bid"].count() == 0
    prow = t2["project"].collect()[0]
    assert prow.stage == 2 and prow.session_size == 1  # auto-created section
    srow = t2["bid_section"].collect()[0]
    assert srow.status == "pending" and srow.bid_size == 1


def test_listing_dedup_is_first_sighting(spark):
    """The same /project/<id> link on two listing pages with different
    anchor text must resolve to ONE deterministic title — the first
    sighting in (doc_id, offset) scan order — regardless of partitioning
    (dropDuplicates would keep a plan-dependent arbitrary row)."""
    from tbbid_scrapy_spark.plans.crawl import EXTRACTED_SCHEMA
    from tbbid_scrapy_spark.plans.items import listing_projects

    rows = [
        ("https://h.cn/listing?p=2", "link", "乙标题工程", "/project/P7", 3, 0),
        ("https://h.cn/listing?p=1", "link", "甲标题工程", "/project/P7", 5, 0),
        ("https://h.cn/listing?p=1", "link", "另一个工程", "/project/P8", 9, 0),
    ]
    for n_parts in (1, 7):
        ex = spark.createDataFrame(rows, EXTRACTED_SCHEMA).repartition(n_parts)
        got = {r.stage_url: r.title for r in listing_projects(ex).collect()}
        assert len(got) == 2
        # first sighting in (doc_id, offset) order: listing?p=1 sorts
        # before listing?p=2, so 甲标题工程 wins deterministically
        assert got["https://h.cn/project/P7"] == "甲标题工程"
        assert got["https://h.cn/project/P8"] == "另一个工程"


def test_completed_section_survives_later_bid_waves(spark):
    """Order-independence of the section state machine: rank 1 arriving in
    wave 1 completes the section; bids-only waves afterwards must neither
    downgrade status to 'pending' (the reference sets status ONLY on the
    rank path, bidSaver.py:367-375) nor reset bid_size to the wave-local
    count — bid_size is the count over the MERGED bid table."""
    empty = relational.empty_tables(spark)
    no_bid = spark.createDataFrame(
        [], "project_id string, section_id string, bidder_name string, bid_amount double")
    no_ctl = spark.createDataFrame(
        [], "project_id string, section_id string, lot_ctl_amt double")
    no_rank = spark.createDataFrame(
        [], "project_id string, section_id string, bidder_name string, rank int,"
            "manager_name string, win_amt double")
    proj = spark.createDataFrame(
        [("P1", "标题", "https://h/p/P1", None, None, None, None, None)],
        "project_id string, title string, url string, notice_content string,"
        "construction_funds string, project_duration string, company_req string,"
        "person_req string")
    no_proj = spark.createDataFrame([], proj.schema)

    # wave 1: project + rank 1 (winner known, zero bids yet)
    rank_w1 = spark.createDataFrame(
        [("P1", "001", "甲公司", 1, "张三", 99.5)], no_rank.schema)
    t1, p1 = relational.upsert_wave(
        empty, {"project": proj, "bid": no_bid, "lot_ctl": no_ctl, "bid_rank": rank_w1})
    s1 = t1["bid_section"].collect()[0]
    assert s1.status == "completed" and s1.winning_bidder == "甲公司"
    assert s1.bid_size is None  # no bids yet

    # wave 2: two bids for the same section, no rank items at all
    bid_w2 = spark.createDataFrame(
        [("P1", "001", "甲公司", 90.0), ("P1", "001", "乙公司", 95.0)], no_bid.schema)
    t2, _ = relational.upsert_wave(
        t1, {"project": no_proj, "bid": bid_w2, "lot_ctl": no_ctl, "bid_rank": no_rank}, p1)
    s2 = t2["bid_section"].collect()[0]
    assert s2.status == "completed", "bids-only wave downgraded a completed section"
    assert s2.winning_bidder == "甲公司"
    assert s2.bid_size == 2

    # wave 3: one MORE bid — bid_size must be the cross-wave total, not 1
    bid_w3 = spark.createDataFrame([("P1", "001", "丙公司", 97.0)], no_bid.schema)
    t3, _ = relational.upsert_wave(
        t2, {"project": no_proj, "bid": bid_w3, "lot_ctl": no_ctl, "bid_rank": no_rank})
    s3 = t3["bid_section"].collect()[0]
    assert s3.status == "completed" and s3.bid_size == 3


def test_company_others_kept_unless_truthy(spark):
    """CompanyEmployee.py:122-123: `if adapter.get('others')` — an empty/
    NULL incoming `others` keeps the stored value; a truthy one replaces."""
    cur = spark.createDataFrame(
        [("C1", "甲公司", 1, "历史备注"), ("C2", "乙公司", 1, "旧")],
        "corp_code string, name string, bid_count int, others string",
    )
    inc = spark.createDataFrame(
        [("C1", "甲公司", 1, ""), ("C2", "乙公司", 1, "新备注")],
        "corp_code string, name string, bid_count int, others string",
    )
    out = {r.corp_code: r.others for r in relational.upsert("company", cur, inc).collect()}
    assert out == {"C1": "历史备注", "C2": "新备注"}


def test_company_bid_count_increment(spark):
    cur = spark.createDataFrame(
        [("C1", "甲公司", 3)], "corp_code string, name string, bid_count int"
    )
    inc = spark.createDataFrame(
        [("C1", "甲公司", 2), ("C2", "乙公司", 1)],
        "corp_code string, name string, bid_count int",
    )
    out = {r.corp_code: r.bid_count for r in relational.upsert("company", cur, inc).collect()}
    assert out == {"C1": 5, "C2": 1}


def test_employee_conditional_key(spark):
    cur = spark.createDataFrame(
        [("K100", "张三", "C1", "一级建造师"), ("", "李四", "C2", "二级建造师")],
        "cert_code string, name string, corp_code string, role string",
    )
    inc = spark.createDataFrame(
        [("K100", "张三", "C1", "特级建造师"),   # matches by cert_code
         ("", "李四", "C2", "一级建造师"),        # matches by (name, corp)
         ("", "王五", "C3", "安全员B")],          # new
        "cert_code string, name string, corp_code string, role string",
    )
    out = relational.upsert("employee", cur, inc)
    assert out.count() == 3
    roles = {r.name: r.role for r in out.collect()}
    assert roles == {"张三": "特级建造师", "李四": "一级建造师", "王五": "安全员B"}


def test_winner_and_performance_keys(spark):
    cur = spark.createDataFrame(
        [("C1", "项目甲", 100.0)], "corp_code string, project_name string, win_amt double"
    )
    inc = spark.createDataFrame(
        [("C1", "项目甲", 200.0), ("C1", "项目乙", 50.0)],
        "corp_code string, project_name string, win_amt double",
    )
    out = {(r.corp_code, r.project_name): r.win_amt
           for r in relational.upsert("winner_bid", cur, inc).collect()}
    assert out == {("C1", "项目甲"): 200.0, ("C1", "项目乙"): 50.0}

    perf_cur = spark.createDataFrame(
        [("张三", "C1", "项目甲", "施工员", "L1")],
        "name string, corp_code string, project_name string, role string, data_level string",
    )
    perf_inc = spark.createDataFrame(
        [("张三", "C1", "项目甲", "施工员", "L2"),
         ("张三", "C1", "项目甲", "项目经理", "L1")],
        "name string, corp_code string, project_name string, role string, data_level string",
    )
    out2 = relational.upsert("person_performance", perf_cur, perf_inc)
    assert out2.count() == 2
    lv = {(r.name, r.role): r.data_level for r in out2.collect()}
    assert lv[("张三", "施工员")] == "L2"
