"""Corp/employee/performance item extraction from crawled spans —
the batch re-expression of company_emp_info.py's callbacks
(SURVEY.md §3.2). Pure-Python twin: fixtures/ref_items.expected_corp_items.

Page-kind rules (span layouts documented in fixtures/sitegen.build_corp_site):

- corp_search       : 4th table_cell = corp_code (td[4], :79-81); company
                      name = url-decoded ?name= query param
- corp_detail       : label-sibling pairs 法人姓名/注册资本/经营地址/报送有效期
                      (:109-114); 资质条目： cells → P5 keyword filter
                      {工程施工, 工程专业, 承包贰级, 承包壹级} + dedup
                      (:115-121; reference set-order nondeterminism is
                      canonicalized to array_sort — documented divergence);
                      其他： cell → others
- emp_list          : 7-span rows (idx, name-link, cert, role, state,
                      valid, major'、'-split) (:197-211); pagination links
                      excluded by their pageIndex param
- person_perf_list  : 出生日期 label pair (:151-154); stride-3 perf rows
                      (data_level, zipped-role, detail link) — the zipped
                      role is IGNORED for the item: perform.role =
                      employee.role (:171-177, reference quirk replicated)
- perf_detail       : label pairs 项目名称/个人业绩记录编号/企业业绩记录编号/
                      人员证件号码 (:134-139)
- security_list     : 7-cell rows; role = 安全员B if 'B' in cert else
                      安全员C if 'C' else dropped (P8, :256-261)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tbbid_scrapy_spark.plans.crawl import _kind_expr

QUAL_KEYWORDS = ["工程施工", "工程专业", "承包贰级", "承包壹级"]  # :115-117


def _q(doc_id, key: str):
    return F.url_decode(F.parse_url(doc_id, F.lit("QUERY"), F.lit(key)))


def _cells(extracted: DataFrame, kind: str) -> DataFrame:
    """Table cells of one page kind with a dense per-doc position."""
    ex = extracted.withColumn("page_kind", _kind_expr("doc_id"))
    cells = ex.filter(
        (F.col("page_kind") == kind) & (F.col("kind") == "table_cell")
    )
    w = Window.partitionBy("doc_id").orderBy("offset")
    return cells.withColumn("pos", F.row_number().over(w) - 1)


def _label_value(cells: DataFrame, label: str, out: str) -> DataFrame:
    """Label-sibling extraction: value = the cell right after the label
    cell (following-sibling::td[1] analog). If a label cell appears more
    than once on a page, the LAST occurrence wins (the pure-Python
    twin's dict overwrite, ref_items._labels) — a plain join would
    instead duplicate the base row per occurrence."""
    labels = cells.filter(F.col("text") == label).select(
        "doc_id", (F.col("pos") + 1).alias("pos")
    )
    return (
        labels.join(cells, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.max_by(F.col("text"), F.col("pos")).alias(out))
    )


def corp_search_items(extracted: DataFrame) -> DataFrame:
    """(search_url, name, corp_code) — rows only when a code cell exists
    (the 'No company code found' path yields nothing, :102-103)."""
    cells = _cells(extracted, "corp_search")
    code = cells.filter(F.col("pos") == 3).select(
        "doc_id", F.col("text").alias("corp_code")
    )
    return code.select(
        F.col("doc_id").alias("search_url"),
        _q(F.col("doc_id"), "name").alias("name"),
        "corp_code",
    )


def corp_detail_items(extracted: DataFrame) -> DataFrame:
    cells = _cells(extracted, "corp_detail")
    base = cells.select("doc_id").distinct().select(
        "doc_id", _q(F.col("doc_id"), "corpcode").alias("corp_code")
    )
    for label, out in [
        ("法人姓名", "corp"),
        ("注册资本", "corp_asset"),
        ("经营地址", "reg_address"),
        ("报送有效期", "valid_date"),
    ]:
        base = base.join(_label_value(cells, label, out), "doc_id", "left")
    quals = (
        cells.filter(F.col("text").startswith("资质条目："))
        .withColumn("q", F.substring(F.col("text"), 6, 10**6))
        .filter(
            F.exists(
                F.array(*[F.lit(k) for k in QUAL_KEYWORDS]),
                lambda k: F.col("q").contains(k),
            )
        )
        .groupBy("doc_id")
        .agg(F.array_sort(F.array_distinct(F.collect_list("q"))).alias("qualifications"))
    )
    others = (
        cells.filter(F.col("text").startswith("其他："))
        .groupBy("doc_id")
        # FIRST 其他： cell in page order, like the twin's next(...) —
        # a plain min() would pick the lexicographic minimum instead
        .agg(F.min_by(
            F.trim(F.substring(F.col("text"), 4, 10**6)), F.col("pos")
        ).alias("others"))
    )
    return (
        base.join(quals, "doc_id", "left")
        # no keyword-matching qual cell (or none at all) is an EMPTY
        # list, not NULL — the twin computes sorted(set()) == []
        .withColumn(
            "qualifications",
            F.coalesce(F.col("qualifications"), F.array().cast("array<string>")),
        )
        .join(others, "doc_id", "left")
        .drop("doc_id")
    )


def _emp_spans(extracted: DataFrame) -> DataFrame:
    """emp_list spans minus pagination links, densely positioned."""
    ex = extracted.withColumn("page_kind", _kind_expr("doc_id"))
    spans = ex.filter(
        (F.col("page_kind") == "emp_list")
        & (
            (F.col("kind") == "table_cell")
            | ((F.col("kind") == "link") & ~F.col("media_ref").contains("pageIndex="))
        )
    )
    w = Window.partitionBy("doc_id").orderBy("offset")
    return spans.withColumn("pos", F.row_number().over(w) - 1)


def employee_rows(extracted: DataFrame) -> DataFrame:
    """One row per employee from the 7-span stride (td1..td7). Only
    COMPLETE 7-span groups produce rows — the twin iterates
    range(len(rows_spans) // 7), so a trailing fragment on a truncated
    page must not emit a phantom employee with NULL cert/role/major."""
    spans = _emp_spans(extracted)
    n_spans = F.count("*").over(Window.partitionBy("doc_id"))
    spans = spans.withColumn("_n", n_spans).filter(
        F.col("pos") < (F.col("_n") / 7).cast("int") * 7
    )
    rows = (
        spans.withColumn("row", (F.col("pos") / 7).cast("int"))
        .withColumn("slot", F.pmod(F.col("pos"), F.lit(7)))
        .groupBy("doc_id", "row")
        .agg(
            F.max(F.when(F.col("slot") == 1, F.col("text"))).alias("name"),
            F.max(F.when(F.col("slot") == 1, F.col("media_ref"))).alias("person_url"),
            F.max(F.when(F.col("slot") == 2, F.col("text"))).alias("cert_code"),
            F.max(F.when(F.col("slot") == 3, F.col("text"))).alias("role"),
            F.max(F.when(F.col("slot") == 5, F.col("text"))).alias("valid_date"),
            F.max(F.when(F.col("slot") == 6, F.col("text"))).alias("major_raw"),
        )
        .filter(F.col("name").isNotNull() & (F.trim("name") != ""))
    )
    return rows.select(
        _q(F.col("doc_id"), "corpcode").alias("corp_code"),
        F.trim("name").alias("name"),
        "cert_code",
        "role",
        "valid_date",
        # null-safe like the twin's (text or '').strip().split('、'):
        # a NULL major cell yields [''], not NULL
        F.split(F.trim(F.coalesce(F.col("major_raw"), F.lit(""))), "、").alias("major"),
        F.regexp_extract("person_url", r"id=([^&#]+)", 1).alias("person_id"),
    )


def person_pages(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(birth_dates, perf_stubs): birth per person; stride-3 performance
    rows with data_level and the perf-detail key."""
    ex = extracted.withColumn("page_kind", _kind_expr("doc_id"))
    spans = ex.filter(F.col("page_kind") == "person_perf_list")
    w = Window.partitionBy("doc_id").orderBy("offset")
    spans = spans.withColumn("pos", F.row_number().over(w) - 1)
    birth = (
        spans.filter((F.col("pos") == 1) & (F.col("kind") == "table_cell"))
        .select(
            F.regexp_extract("doc_id", r"id=([^&#]+)", 1).alias("person_id"),
            F.trim("text").alias("birth_date_raw"),
        )
    )
    perf = (
        spans.filter(F.col("pos") >= 2)
        .withColumn("row", ((F.col("pos") - 2) / 3).cast("int"))
        .withColumn("slot", F.pmod(F.col("pos") - 2, F.lit(3)))
        .groupBy("doc_id", "row")
        .agg(
            F.max(F.when(F.col("slot") == 0, F.col("text"))).alias("data_level"),
            F.max(F.when(F.col("slot") == 2, F.col("media_ref"))).alias("perf_url"),
        )
        .filter(F.col("perf_url").isNotNull())
        .select(
            F.regexp_extract("doc_id", r"id=([^&#]+)", 1).alias("person_id"),
            "data_level",
            F.regexp_extract("perf_url", r"id=([^&#]+)", 1).alias("perf_id"),
        )
    )
    return birth, perf


def perf_detail_items(extracted: DataFrame) -> DataFrame:
    cells = _cells(extracted, "perf_detail")
    base = cells.select("doc_id").distinct().select(
        "doc_id", F.regexp_extract("doc_id", r"id=([^&#]+)", 1).alias("perf_id")
    )
    for label, out in [
        ("项目名称", "project_name"),
        ("个人业绩记录编号", "record_id"),
        ("企业业绩记录编号", "company_id"),
        ("人员证件号码", "id_number"),
    ]:
        base = base.join(_label_value(cells, label, out), "doc_id", "left")
    return base.drop("doc_id").select(
        "perf_id",
        F.trim("project_name").alias("project_name"),
        F.trim("record_id").alias("record_id"),
        F.trim("company_id").alias("company_id"),
        F.trim("id_number").alias("id_number"),
    )


def security_rows(extracted: DataFrame) -> DataFrame:
    """P8: cert contains B → 安全员B, C → 安全员C, else dropped. Only
    COMPLETE 7-cell groups produce rows (the twin iterates
    range(len(cells) // 7), ref_items.py security_list branch) — a
    trailing fragment on a truncated page carrying a name and a B/C
    cert but no valid_date cell must not emit a phantom row, the same
    guard employee_rows applies to its 7-span stride."""
    cells = _cells(extracted, "security_list")
    n_cells = F.count("*").over(Window.partitionBy("doc_id"))
    cells = cells.withColumn("_n", n_cells).filter(
        F.col("pos") < (F.col("_n") / 7).cast("int") * 7
    )
    rows = (
        cells.withColumn("row", (F.col("pos") / 7).cast("int"))
        .withColumn("slot", F.pmod(F.col("pos"), F.lit(7)))
        .groupBy("doc_id", "row")
        .agg(
            F.max(F.when(F.col("slot") == 1, F.col("text"))).alias("name"),
            F.max(F.when(F.col("slot") == 4, F.col("text"))).alias("cert_code"),
            F.max(F.when(F.col("slot") == 6, F.col("text"))).alias("valid_date"),
        )
        .filter(F.col("name").isNotNull() & (F.trim("name") != ""))
    )
    return rows.select(
        _q(F.col("doc_id"), "corpcode").alias("corp_code"),
        F.trim("name").alias("name"),
        "cert_code",
        F.when(F.col("cert_code").contains("B"), "安全员B")
        .when(F.col("cert_code").contains("C"), "安全员C")
        .alias("role"),
        "valid_date",
    ).filter(F.col("role").isNotNull())


def extract_corp_items(extracted: DataFrame) -> dict[str, DataFrame]:
    """All corp-chain item families, joined into sink-ready frames."""
    search = corp_search_items(extracted)
    detail = corp_detail_items(extracted)
    # ONE row per corp_code like the twin's dict (two search pages
    # resolving to the same code must not duplicate the company nor fan
    # out every matching performance row); max_by(search_url) is the
    # deterministic pick where the twin's dict order is ambient.
    search_one = search.groupBy("corp_code").agg(
        F.max_by("name", "search_url").alias("name")
    )
    company = search_one.join(detail, "corp_code", "left").select(
        "corp_code", "name", "corp", "corp_asset", "reg_address",
        "valid_date", "qualifications", "others",
    )

    emp = employee_rows(extracted)
    birth, perf_stub = person_pages(extracted)
    perf_det = perf_detail_items(extracted)

    employees = (
        emp.join(birth, "person_id", "left")
        .join(
            # id_number rides back from the perf detail page (:139-142);
            # any of the person's perf details supplies it
            perf_det.withColumn(
                "person_id", F.regexp_extract("perf_id", r"^(.+)-\d+$", 1)
            )
            .filter(F.col("id_number") != "")
            .groupBy("person_id")
            .agg(F.min("id_number").alias("id_number")),
            "person_id",
            "left",
        )
        .select(
            "corp_code", "name", "cert_code", "role", "valid_date", "major",
            "birth_date_raw", "id_number", "person_id",
        )
    )

    performances = (
        perf_stub.join(perf_det, "perf_id")
        .join(
            emp.select("person_id", "name", "role", "corp_code"), "person_id"
        )
        .join(
            # LEFT: a corp whose search page is absent still emits its
            # performance rows with corp_name NULL (twin: searches.get)
            search_one.select(F.col("corp_code"), F.col("name").alias("corp_name")),
            "corp_code",
            "left",
        )
        .select(
            "name", "corp_code", "corp_name", "project_name",
            "data_level",
            F.col("role"),  # reference quirk: employee role, not zipped role
            "record_id", "company_id",
        )
    )

    security = security_rows(extracted)
    return {
        "company": company,
        "employee": employees,
        "security": security,
        "performance": performances,
    }
