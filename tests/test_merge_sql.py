"""Iceberg MERGE INTO surface (VERDICT r1 missing #2): to_merge_sql must
emit parser-valid Spark SQL with merge_upsert's exact semantics for every
sink table's natural key (reference bidSaver.py:61-395,
CompanyEmployee.py:28-188, winner_bid.py:20-67)."""

from __future__ import annotations

import datetime
import re

import pytest
from pyspark.sql import types as T

from tbbid_scrapy_spark.plans import relational
from tbbid_scrapy_spark.plans.relational import MERGE_SPECS, merge_sql_for
from tbbid_scrapy_spark.sources.sink import to_merge_sql


def _parse(spark, sql: str):
    """Spark's own SQL parser (syntax gate; analysis needs a v2 catalog
    this sandbox doesn't ship — the point is the statement is valid MERGE
    grammar, not resolvable here)."""
    return spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)


def test_all_eight_tables_generate_valid_merge(spark):
    assert set(MERGE_SPECS) == {
        "project", "bid_section", "bid", "bid_rank",
        "company", "employee", "person_performance", "winner_bid",
    }
    for table in MERGE_SPECS:
        sql = merge_sql_for(table, catalog_table=f"warehouse.db.{table}")
        plan = _parse(spark, sql)
        assert "MergeIntoTable" in plan.getClass().getSimpleName() or \
               "MergeInto" in str(plan.getClass()), (table, sql)


def test_merge_sql_key_and_update_shape(spark):
    sql = merge_sql_for("company")
    # counter accumulation on conflict (CompanyEmployee.py:121-122)
    assert "t.bid_count = coalesce(t.bid_count, 0) + coalesce(s.bid_count, 0)" in sql
    assert "ON t.corp_code <=> s.corp_code" in sql
    # composite natural key
    sql_perf = merge_sql_for("person_performance")
    for k in ("name", "corp_code", "project_name", "role"):
        assert f"t.{k} <=> s.{k}" in sql_perf
    # keep-existing coalesce on project re-sight
    sql_proj = merge_sql_for("project")
    assert "t.title = coalesce(s.title, t.title)" in sql_proj
    # keys never appear in UPDATE SET
    assert "t.project_id = " not in sql_proj.split("UPDATE SET")[1].split("WHEN NOT")[0]


def test_merge_sql_executes_on_a_real_merge_capable_engine(spark):
    """End-to-end semantics check without Iceberg jars: DuckDB implements
    ANSI MERGE (1.3+); run the generated statement there (swapping <=> for
    IS NOT DISTINCT FROM, the ANSI spelling) and compare against
    merge_upsert on the same rows."""
    import duckdb

    try:
        con = duckdb.connect()
        con.execute("CREATE TABLE company (corp_code text, name text, bid_count int)")
    except Exception:
        pytest.skip("duckdb unavailable")
    con.execute("INSERT INTO company VALUES ('C1', 'a', 3)")
    con.execute("CREATE TABLE _incoming (corp_code text, name text, bid_count int)")
    con.execute("INSERT INTO _incoming VALUES ('C1', 'a', 2), ('C2', 'b', 1)")
    spec = MERGE_SPECS["company"]
    sql = to_merge_sql(
        "company", spec["keys"], ["corp_code", "name", "bid_count"],
        spec["on_matched_sql"],
    ).replace("<=>", "IS NOT DISTINCT FROM")
    try:
        con.execute(sql)
    except duckdb.ParserException:
        pytest.skip("this duckdb build lacks MERGE")
    got = dict(con.execute("SELECT corp_code, bid_count FROM company").fetchall())
    assert got == {"C1": 5, "C2": 1}

    cur = spark.createDataFrame([("C1", "a", 3)], "corp_code string, name string, bid_count int")
    inc = spark.createDataFrame([("C1", "a", 2), ("C2", "b", 1)],
                                "corp_code string, name string, bid_count int")
    emulated = relational.upsert("company", cur, inc)
    assert {(r.corp_code, r.bid_count) for r in emulated.collect()} == set(got.items())


def test_merge_upsert_duplicate_key_dedup_is_deterministic(spark):
    """Source rows sharing a key but differing in payload must resolve to
    the SAME kept row regardless of partitioning: the default dedup
    order is keys + all data columns (keys alone cannot break the tie,
    leaving a shuffle-dependent arbitrary winner)."""
    from tbbid_scrapy_spark.sources.sink import merge_upsert

    target = spark.createDataFrame([("K1", 0.0, "old")], "k string, amt double, tag string")
    dup_rows = [("K1", 5.0, "a"), ("K1", 9.0, "b"), ("K2", 1.0, "c"), ("K2", 1.0, "c")]
    results = set()
    for n_parts in (1, 3, 7):
        src = spark.createDataFrame(dup_rows, target.schema).repartition(n_parts)
        out = merge_upsert(target, src, ["k"])
        results.add(tuple(sorted(map(tuple, out.collect()))))
    assert len(results) == 1, f"partitioning-dependent merge result: {results}"
    # desc over (keys, data cols): K1 keeps (9.0, 'b')
    kept = {r.k: (r.amt, r.tag) for r in out.collect()}
    assert kept["K1"] == (9.0, "b") and kept["K2"] == (1.0, "c")


def test_merge_upsert_on_duplicate_error_matches_iceberg(spark):
    """on_duplicate='error' fails on duplicate source keys like Iceberg
    MERGE INTO's multiple-match error — required for ADDITIVE
    on_matched_sql rules (counter accumulation), where silent last-wins dedup would drop an
    increment. Unique-key sources pass through unchanged."""
    import pytest

    from tbbid_scrapy_spark.sources.sink import merge_upsert

    target = spark.createDataFrame([("K1", 1)], "k string, n int")
    ok = spark.createDataFrame([("K1", 2), ("K2", 3)], "k string, n int")
    add = {"n": "t.n + s.n"}
    out = {r.k: r.n for r in
           merge_upsert(target, ok, ["k"], on_matched_sql=add,
                        on_duplicate="error").collect()}
    assert out == {"K1": 3, "K2": 3}

    dup = spark.createDataFrame([("K1", 1), ("K1", 1)], "k string, n int")
    with pytest.raises(Exception) as ei:
        merge_upsert(target, dup, ["k"], on_matched_sql=add,
                     on_duplicate="error").collect()
    assert "duplicate" in str(ei.value)

    with pytest.raises(ValueError):
        merge_upsert(target, ok, ["k"], on_duplicate="bogus")


def test_upsert_company_rejects_duplicate_corp_batch(spark):
    """The company upsert's bid_count is additive — a batch with the same
    corp_code twice must FAIL (the pipeline pre-aggregates; silently
    dropping a sighting increment would diverge from the reference's
    row-at-a-time upsert)."""
    cur = spark.createDataFrame(
        [("C1", "n", 2)], "corp_code string, name string, bid_count int"
    )
    dup = spark.createDataFrame(
        [("C1", "n", 1), ("C1", "n", 1)],
        "corp_code string, name string, bid_count int",
    )
    with pytest.raises(Exception):
        relational.upsert("company", cur, dup).collect()


def _value(dtype: T.DataType, i: int):
    return {
        "string": f"v{i}", "int": i, "double": float(i), "array<string>": [f"v{i}"],
        "timestamp_ntz": datetime.datetime(2024, 1, 1 + i),
    }[dtype.simpleString()]


@pytest.mark.parametrize("table", sorted(MERGE_SPECS))
def test_spec_declares_empty_table_merge_sql_and_upsert(spark, table):
    """MERGE_SPECS is the one declaration of a sink table: the empty
    table, the MERGE INTO insert list and the parquet upsert all follow
    it. A source with a duplicated key keeps one row per key, except
    for the additive company table, which must fail."""
    spec = MERGE_SPECS[table]
    declared = T._parse_datatype_string(spec["ddl"])
    empty = relational.empty_tables(spark)[table]
    assert empty.columns == spec["cols"]
    assert [f.dataType for f in empty.schema] == [f.dataType for f in declared]

    insert = re.search(r"INSERT \((.*?)\) VALUES", merge_sql_for(table)).group(1)
    assert insert.split(", ") == spec["cols"]

    # rows (key i, payload j): two share key 0, one has key 1
    rows = [
        tuple(_value(f.dataType, k if f.name in spec["keys"] else j) for f in empty.schema)
        for k, j in [(0, 0), (0, 1), (1, 2)]
    ]
    src = spark.createDataFrame(rows, empty.schema)
    merged = relational.upsert(table, empty, src)
    if spec["on_duplicate"] == "error":
        with pytest.raises(Exception, match="duplicate"):
            merged.collect()
        return
    got = merged.collect()
    assert len(got) == 2
    assert len({tuple(r[k] for k in spec["keys"]) for r in got}) == 2
