"""Scalar-library parity tests (SURVEY.md §2.8) — Spark expressions vs
the reference semantics (pinned expectations derived from
/root/reference/xizang/utils/util.py; no reference code executed)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tbbid_scrapy_spark.functions.chinese import (
    chinese_to_arabic_py,
    extract_section_number,
)
from tbbid_scrapy_spark.functions.extract import (
    cookie_to_map,
    extract_construction_qualification,
    extract_duration,
    extract_funding_source,
    extract_profession_and_level,
    extract_url_from_click,
    multi_format_timestamp,
    province_from_usci,
    title_suffix_trim,
)
from tbbid_scrapy_spark.functions.urls import canonicalize_url_py


# ---- chinese_to_arabic (util.py:22-48) ----

@pytest.mark.parametrize(
    "s,expected",
    [
        ("一", 1), ("九", 9), ("十", 10), ("十一", 11), ("二十", 20),
        ("二十一", 21), ("九十九", 99), ("拾壹", 11), ("贰拾", 20),
        ("壹", 1), ("", -1), (None, -1), ("abc", -1), ("三五", 35),
    ],
)
def test_chinese_to_arabic(s, expected):
    assert chinese_to_arabic_py(s) == expected


def test_extract_section_number(spark):
    rows = [
        ("某项目(21标段)施工",),     # arabic → 021
        ("某项目(1234标段)施工",),   # arabic, no truncation → 1234
        ("总承包十一标段",),          # chinese parses → reference quirk → 001
        ("总承包标段",),              # chinese branch fails → '-01'
        ("普通标题",),                # no match → 001
    ]
    df = spark.createDataFrame(rows, "title string")
    got = [r[0] for r in df.select(extract_section_number(F.col("title"))).collect()]
    assert got == ["021", "1234", "001", "-01", "001"]


def test_title_suffix_trim(spark):
    df = spark.createDataFrame([("建设项目招标公告",), ("建设项目",)], "title string")
    got = [r[0] for r in df.select(title_suffix_trim(F.col("title"))).collect()]
    assert got == ["建设项目", "建设项目"]


def test_notice_field_extraction(spark):
    text = (
        "资金来源：政府投资（财政预算）。计划工期：100日历天。"
        "要求房屋建筑工程施工总承包壹级资质。项目经理须一级建造师。"
    )
    df = spark.createDataFrame([(text,)], "t string")
    row = df.select(
        extract_funding_source(F.col("t")).alias("funds"),
        extract_duration(F.col("t")).alias("dur"),
        extract_construction_qualification(F.col("t")).alias("quals"),
        extract_profession_and_level(F.col("t")).alias("prof"),
    ).collect()[0]
    assert row.funds == "政府投资"
    # reference regex `[年月天日]{1,2}` cannot match '历' (util.py:99) so
    # '100日历天' extracts as '100日' — pinned reference behavior
    assert row.dur == "100日"
    assert row.quals == ["房屋建筑工程施工总承包壹级"]
    assert row.prof == "一级建造师"


def test_empty_extractions(spark):
    df = spark.createDataFrame([("没有任何关键词的文本",)], "t string")
    row = df.select(
        extract_funding_source(F.col("t")).alias("funds"),
        extract_duration(F.col("t")).alias("dur"),
        extract_construction_qualification(F.col("t")).alias("quals"),
        extract_profession_and_level(F.col("t")).alias("prof"),
    ).collect()[0]
    assert row.funds == "" and row.dur == "" and row.quals == [] and row.prof == ""


def test_url_from_click(spark):
    df = spark.createDataFrame(
        [("showDetail(123,'x','/a/b.html')",), ("nothing",)], "c string"
    )
    got = [r[0] for r in df.select(extract_url_from_click(F.col("c"))).collect()]
    assert got == ["https://www.ggzy.gov.cn/information/a/b.html", None]


def test_multi_format_timestamp(spark):
    df = spark.createDataFrame(
        [("2024-01-02 03:04:05",), ("2024-01-02",), ("2024/01/02 03:04:05",),
         ("2024/01/02",), ("bogus",)],
        "s string",
    )
    got = [r[0] for r in df.select(multi_format_timestamp(F.col("s"))).collect()]
    assert got[0].hour == 3 and got[1].day == 2 and got[2].minute == 4
    assert got[3].year == 2024 and got[4] is None


def test_cookie_to_map(spark):
    df = spark.createDataFrame([("a=1; b=2;c = 3",)], "s string")
    got = df.select(cookie_to_map(F.col("s"))).collect()[0][0]
    assert got == {"a": "1", "b": "2", "c": "3"}


def test_cookie_to_map_first_equals_and_bare_keys(spark):
    """Reference parity (bid_notice.py:11-20): pairs split on the FIRST
    '=' only — a base64 value's '=' padding survives — and pairs without
    '=' are skipped entirely (`if '=' in pair`), not kept as null keys."""
    raw = "sess=dGVzdA==; arialoadData; k=v=w; t=1;"

    def reference_twin(cookie_str):   # bid_notice.py:11-20 semantics
        cookies = {}
        for pair in cookie_str.strip().split(";"):
            if "=" in pair:
                key, value = pair.strip().split("=", 1)
                cookies[key] = value
        return cookies

    expected = reference_twin(raw)
    df = spark.createDataFrame([(raw,)], "s string")
    got = df.select(cookie_to_map(F.col("s"))).collect()[0][0]
    assert got == expected == {"sess": "dGVzdA==", "k": "v=w", "t": "1"}


def test_extract_section_number_ansi_overflow(spark):
    """A digit run that overflows int32 must not raise under an ANSI-on
    session (the driver harness runs one); it falls through to '001'
    like any other unparseable section (try_cast, not cast)."""
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame(
            [("某项目(3000000000标段)施工",), ("某项目(21标段)施工",), ("普通标题",)],
            "title string",
        )
        got = [r[0] for r in df.select(extract_section_number(F.col("title"))).collect()]
        assert got == ["001", "021", "001"]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_province_from_usci(spark):
    df = spark.createDataFrame([("91540000X",), ("91110000Y",), ("91990000Z",)], "u string")
    got = [r[0] for r in df.select(province_from_usci(F.col("u"))).collect()]
    assert got == ["西藏", "北京", None]


# ---- URL canonicalizer ----

@pytest.mark.parametrize(
    "raw,expected",
    [
        ("HTTP://Example.COM:80/a?b=2&a=1#frag", "http://example.com/a?a=1&b=2"),
        ("https://example.com:443/x", "https://example.com/x"),
        ("https://example.com", "https://example.com/"),
        # cache-busters stripped (reference appends _=epoch-millis,
        # company_emp_info.py:95-97)
        ("https://h.cn/p?x=1&_=17000000", "https://h.cn/p?x=1"),
        ("https://h.cn/p?token=ab&x=1", "https://h.cn/p?x=1"),
    ],
)
def test_canonicalize(raw, expected):
    assert canonicalize_url_py(raw) == expected


def test_canonicalize_relative():
    assert (
        canonicalize_url_py("../other/page?z=1", "https://h.cn/a/b/c")
        == "https://h.cn/a/other/page?z=1"
    )


# ---------------------------------------------------------------------------
# JVM fast-path canonicalizer: byte-equality with the Python reference on
# every URL the plain-predicate admits, and correct routing of the rest.
# ---------------------------------------------------------------------------

def test_jvm_canonicalizer_byte_equal_on_plain(spark):
    import random

    from tbbid_scrapy_spark.functions.urls import (
        canonicalize_url_py,
        is_plain_url,
        with_canonical_jvm,
    )

    rnd = random.Random(7)
    hosts = ["Example.COM", "a.b.c.d", "xn--fiq.cn", "h-1.org"]
    ports = ["", ":80", ":443", ":8080", ":1", ":65535"]
    keys = ["a", "b", "PAGENUMBER", "_", "t", "zz", "k.y", "k~y", "k-y", ""]
    vals = ["", "1", "xx", "0.5", "A_B", "~z"]
    paths = ["", "/", "/x/y", "/x%2Fy", "/a.b/c-d_e~f", "/!$&'()*,;:@"]
    urls = [
        "https://Example.com:443/x?b=2&a=1&_=999",       # buster + default port
        "http://H.org:80/?x=",                            # bare '=' value
        "https://h.org/p?a&b=1&&c",                       # bare keys + empty chunk
        "HTTPS://UP.CASE/path#frag?not-a-query",          # fragment holding '?'
        "https://h.org/p?",                               # dangling '?'
        "https://h.org:8080/p?dup=1&dup=0&dup=1",         # duplicate keys
        "https://h.org/p?a=b=c",                          # '=' in value → %3D
        "https://h.org/p?a=b=c&a=b0",                     # sort on decoded value
    ]
    for _ in range(400):
        q = "&".join(
            f"{rnd.choice(keys)}={rnd.choice(vals)}" if rnd.random() < 0.8
            else rnd.choice(keys)
            for _ in range(rnd.randrange(0, 5))
        )
        u = (
            rnd.choice(["http", "https", "HTTP", "Https"]) + "://"
            + rnd.choice(hosts) + rnd.choice(ports) + rnd.choice(paths)
        )
        if q or rnd.random() < 0.2:
            u += "?" + q
        if rnd.random() < 0.3:
            u += "#frag"
        urls.append(u)
    # non-plain: must route to the Arrow fallback, never the JVM expr
    non_plain = [
        "https://h.org/p?a=%2F",          # percent-escape in query
        "https://h.org/p?a=b+c",          # '+' (space) in query
        "https://user@h.org/p",           # userinfo
        "https://[::1]/p",                # IPv6
        "ftp://h.org/p",                  # non-http scheme
        "https://h.org:0080/p",           # leading-zero port
        "https://h.org/a\tb",             # tab: urlsplit strips it anywhere
        "https://h.org/a b",              # space in path: parse_url rejects
        "https://h.org:65536/p",          # port out of range: urlsplit rejects
        "https://h.org:70000/p",          # port out of range (5-digit)
        "https://h.org:99999/p",          # old regex's upper admit bound
        "https://h.org/p\n",              # trailing \n: Java $ matches before it
        "https://h.org/p\r\n",            # trailing \r\n: same final-terminator leak
        "https://h.org/p#f\n",            # terminator after fragment
    ]
    df = spark.createDataFrame([(u,) for u in urls + non_plain], "url string")
    # the production fast path: the staged canonicalizer on the rows the
    # plain predicate admits (with_url_norm's hybrid split)
    jvm_rows = with_canonical_jvm(df.filter(is_plain_url(F.col("url"))), "url").collect()
    for r in jvm_rows:
        assert r.url_norm == canonicalize_url_py(r.url), (r.url, r.url_norm)
    assert len(jvm_rows) >= len(urls) * 0.95    # the fast path really is the common path
    rows = df.select("url", is_plain_url(F.col("url")).alias("plain")).collect()
    by_url = {r.url: r.plain for r in rows}
    for u in non_plain:
        assert not by_url[u], f"non-plain URL admitted to JVM path: {u}"


def test_trailing_newline_url_same_in_both_modes(spark):
    """A URL with a trailing line terminator must canonicalize identically
    through with_url_norm's JVM-first split and the all-Arrow UDF. Java's $ matches before a FINAL \\n, so a
    '$'-anchored plain-predicate would route 'http://a/b\\n' to the JVM
    path where parse_url (java.net.URI) NULLs it — collapsing every such
    URL onto one xxhash64 identity; \\z anchoring keeps them on the
    Python path, which strips the terminator (urlsplit semantics)."""
    from tbbid_scrapy_spark.functions.urls import canonicalize_url_pd, with_url_norm

    urls = ["http://h.org/a\n", "https://h.org/b\r\n", "https://h.org/c"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    hybrid = {r.url: r.url_norm for r in with_url_norm(df).collect()}
    python = {
        r.url: r.url_norm
        for r in df.withColumn("url_norm", canonicalize_url_pd("url")).collect()
    }
    assert hybrid == python
    assert hybrid["http://h.org/a\n"] == "http://h.org/a"
    assert hybrid["https://h.org/b\r\n"] == "https://h.org/b"
