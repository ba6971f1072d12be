"""Company/employee/performance crawl chain (company_emp_info.py twin):
two-phase crawl parity + item extraction parity + relational upserts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tbbid_scrapy_spark import schemas
from tbbid_scrapy_spark.fixtures import ref_items, sitegen
from tbbid_scrapy_spark.fixtures.simulator import simulate_crawl
from tbbid_scrapy_spark.plans import relational
from tbbid_scrapy_spark.plans.corp_items import extract_corp_items
from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine
from tests.conftest import SITE_SCHEMA


@pytest.fixture(scope="module")
def corp_world(spark):
    site = sitegen.build_site(2, 4, seed=42)
    names = sitegen.bidder_names_of(site)
    site.update(sitegen.build_corp_site(names, seed=42))
    seeds = sitegen.default_seeds() + sitegen.company_seed_urls(names)
    pol = sitegen.default_politeness(100, 100)  # lifted: compress waves
    rob = sitegen.default_robots()
    sim = simulate_crawl(site, seeds, pol, rob, max_waves=80, default_budget=100)
    site_df = spark.createDataFrame(sitegen.site_to_rows(site), SITE_SCHEMA)
    eng = CrawlEngine(
        spark, site_df, seeds,
        spark.createDataFrame(pol, schemas.POLITENESS),
        spark.createDataFrame(rob, schemas.ROBOTS),
        CrawlConfig(max_waves=80, default_budget=100),
    )
    st = eng.run()
    return sim, st, names


def test_two_phase_crawl_parity(corp_world):
    sim, st, _ = corp_world
    order = [
        (r.wave, r.url_norm)
        for r in st.fetch_log.orderBy("wave", "fetch_pos").collect()
    ]
    assert order == sim.fetch_log
    assert {r.url_norm for r in st.seen.collect()} == sim.seen


def test_seed_names_include_semicolon_split(corp_world):
    _, _, names = corp_world
    assert any(n.startswith("联合体建设") for n in names), (
        "';'-split companies missing from seeds (T1)"
    )


@pytest.fixture(scope="module")
def corp_items(spark, corp_world):
    _, st, _ = corp_world
    return extract_corp_items(st.extracted)


@pytest.fixture(scope="module")
def sim_corp_items(corp_world):
    sim, _, _ = corp_world
    return ref_items.expected_corp_items(sim.extracted)


def _rows(df, cols):
    out = []
    for r in df.select(*cols).collect():
        out.append(tuple(tuple(v) if isinstance(v, list) else v for v in (r[c] for c in cols)))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _expected(ds, cols):
    out = []
    for d in ds:
        out.append(tuple(tuple(v) if isinstance(v, list) else v for v in (d[c] for c in cols)))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def test_company_items_match(corp_items, sim_corp_items):
    cols = ["corp_code", "name", "corp", "corp_asset", "reg_address",
            "valid_date", "qualifications", "others"]
    assert _rows(corp_items["company"], cols) == _expected(sim_corp_items["company"], cols)


def test_employee_items_match(corp_items, sim_corp_items):
    cols = ["corp_code", "name", "cert_code", "role", "valid_date", "major",
            "birth_date_raw", "id_number"]
    assert _rows(corp_items["employee"], cols) == _expected(sim_corp_items["employee"], cols)


def test_security_items_match(corp_items, sim_corp_items):
    cols = ["corp_code", "name", "cert_code", "role", "valid_date"]
    assert _rows(corp_items["security"], cols) == _expected(sim_corp_items["security"], cols)


def test_performance_items_match(corp_items, sim_corp_items):
    cols = ["name", "corp_code", "corp_name", "project_name", "data_level",
            "role", "record_id", "company_id"]
    assert _rows(corp_items["performance"], cols) == _expected(sim_corp_items["performance"], cols)


def test_qualification_filter_semantics(corp_items):
    """P5: only entries containing a keyword survive; 劳务分包资质 never
    appears; duplicates collapsed; canonical sorted order."""
    for r in corp_items["company"].select("qualifications").collect():
        if r.qualifications is None:
            continue
        assert all(
            any(k in q for k in ["工程施工", "工程专业", "承包贰级", "承包壹级"])
            for q in r.qualifications
        )
        assert len(set(r.qualifications)) == len(r.qualifications)
        assert list(r.qualifications) == sorted(r.qualifications)


def test_security_role_classification(corp_items):
    rows = corp_items["security"].collect()
    assert rows, "no security rows extracted"
    for r in rows:
        assert (r.role == "安全员B") == ("B" in r.cert_code)
        if r.role == "安全员C":
            assert "C" in r.cert_code and "B" not in r.cert_code


def test_company_employee_upserts(spark, corp_items):
    """Sink the crawled items through the company/employee/perf merges."""
    company_in = corp_items["company"].withColumn("bid_count", F.lit(1))
    cur = spark.createDataFrame([], company_in.schema)
    t1 = relational.upsert("company", cur, company_in)
    assert t1.count() == company_in.count()
    # re-sight: bid_count accumulates
    t2 = relational.upsert("company", t1, company_in)
    assert t2.filter(F.col("bid_count") == 2).count() == company_in.count()

    emp_in = corp_items["employee"].unionByName(
        corp_items["security"]
        .withColumn("major", F.lit(None).cast("array<string>"))
        .withColumn("birth_date_raw", F.lit(None).cast("string"))
        .withColumn("id_number", F.lit(None).cast("string"))
        .withColumn("person_id", F.lit(None).cast("string")),
        allowMissingColumns=False,
    ).drop("person_id")
    cur_e = spark.createDataFrame([], emp_in.schema)
    merged = relational.upsert("employee", cur_e, emp_in)
    # conditional key: no (cert or name|corp) collisions lost
    from tbbid_scrapy_spark.plans.relational import employee_merge_key

    keys = employee_merge_key(emp_in).select("merge_key").distinct().count()
    assert merged.count() == keys

    perf_in = corp_items["performance"]
    cur_p = spark.createDataFrame([], perf_in.schema)
    p1 = relational.upsert("person_performance", cur_p, perf_in)
    assert p1.count() == perf_in.dropDuplicates(
        ["name", "corp_code", "project_name", "role"]
    ).count()


def test_corp_edge_shapes_match_twin(spark):
    """Engine == twin on the latent page shapes the fixtures never emit:
    duplicate label cells (LAST wins), 资质条目 cells with no keyword
    (→ empty list, not NULL), duplicate 其他： (FIRST by offset), a
    trailing partial 7-span employee group (dropped), a NULL major
    cell (→ ['']), and a trailing partial 7-cell security group whose
    fragment carries a name AND a B-cert but no valid_date cell
    (dropped — the twin iterates len(cells) // 7)."""
    from tbbid_scrapy_spark.fixtures import ref_items
    from tbbid_scrapy_spark.plans.corp_items import extract_corp_items
    from tbbid_scrapy_spark.plans.crawl import EXTRACTED_SCHEMA

    search_url = "https://corp.example.org/corp/search?name=%E7%94%B2"
    detail_url = "https://corp.example.org/corp/detail?corpcode=C9"
    emp_url = "https://corp.example.org/corp/emps?corpcode=C9"
    sec_url = "https://corp.example.org/corp/security?corpcode=C9"
    site = {
        search_url: [
            ("table_cell", "甲公司", None, 0), ("table_cell", "x", None, 1),
            ("table_cell", "y", None, 2), ("table_cell", "C9", None, 3),
        ],
        detail_url: [
            ("table_cell", "法人姓名", None, 0), ("table_cell", "张三", None, 1),
            ("table_cell", "法人姓名", None, 2), ("table_cell", "李四", None, 3),
            ("table_cell", "其他：乙备注", None, 4),
            ("table_cell", "其他：甲备注", None, 5),
            ("table_cell", "资质条目：劳务分包资质", None, 6),
        ],
        emp_url: [
            ("table_cell", "1", None, 0),
            ("link", "王五", "https://corp.example.org/persondetail?id=P9", 1),
            ("table_cell", "K1", None, 2),
            ("table_cell", "一级建造师", None, 3),
            ("table_cell", "x", None, 4),
            ("table_cell", "2030-01-01", None, 5),
            ("table_cell", None, None, 6),        # NULL major cell
            ("table_cell", "2", None, 7),          # trailing fragment…
            ("link", "赵六", "https://corp.example.org/persondetail?id=P10", 8),
        ],
        sec_url: [
            ("table_cell", "1", None, 0), ("table_cell", "钱七", None, 1),
            ("table_cell", "x", None, 2), ("table_cell", "y", None, 3),
            ("table_cell", "B-001", None, 4), ("table_cell", "z", None, 5),
            ("table_cell", "2031-01-01", None, 6),
            # trailing 5-cell fragment: name + B cert present, NO
            # valid_date cell — must emit nothing on both sides
            ("table_cell", "2", None, 7), ("table_cell", "孙八", None, 8),
            ("table_cell", "x", None, 9), ("table_cell", "y", None, 10),
            ("table_cell", "B-002", None, 11),
        ],
    }
    expected = ref_items.expected_corp_items(site)
    rows = [
        (url, k, t, m, o, 0)
        for url, spans in site.items()
        for (k, t, m, o) in spans
    ]
    ex = spark.createDataFrame(rows, EXTRACTED_SCHEMA)
    items = extract_corp_items(ex)

    comp = items["company"].collect()
    assert len(comp) == len(expected["company"]) == 1
    got, want = comp[0].asDict(), expected["company"][0]
    assert got["corp"] == want["corp"] == "李四"                # last label wins
    assert got["others"] == want["others"] == "乙备注"          # first by offset
    assert list(got["qualifications"]) == want["qualifications"] == []

    emp = items["employee"].collect()
    assert len(emp) == len(expected["employee"]) == 1           # fragment dropped
    g, w = emp[0].asDict(), expected["employee"][0]
    for k in ("corp_code", "name", "cert_code", "role", "valid_date", "person_id"):
        assert g[k] == w[k], k
    assert list(g["major"]) == w["major"] == [""]               # null-safe split

    sec = items["security"].collect()
    assert len(sec) == len(expected["security"]) == 1           # fragment dropped
    s, t = sec[0].asDict(), expected["security"][0]
    for k in ("corp_code", "name", "cert_code", "role", "valid_date"):
        assert s[k] == t[k], k
    assert s["valid_date"] == "2031-01-01"
