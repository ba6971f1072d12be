"""Local replica of the driver's correctness gate: every queries() entry
with an oracle_sql() runs on Spark AND DuckDB at sf0.01; row counts and
values (column-name-sorted, row-sorted) must match."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        if pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


def test_every_oracle_key_has_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, ddb, name):
    spark_pdf = _canon(QUERIES[name](spark, SF_DIR).toPandas())
    duck_pdf = _canon(ddb.sql(ORACLES[name]).df())
    assert list(spark_pdf.columns) == list(duck_pdf.columns), (
        f"{name}: columns {list(spark_pdf.columns)} vs {list(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: rows {len(spark_pdf)} vs {len(duck_pdf)}"
    )
    pd.testing.assert_frame_equal(
        spark_pdf, duck_pdf, check_dtype=False, check_exact=False, rtol=0, atol=0
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    assert QUERIES[name](spark, SF_DIR).count() >= 0


def test_schema_trust_is_per_data_directory(spark, tmp_path, monkeypatch):
    """A directory whose files match the declared schemas must not vouch
    for another: a second directory with a drifted column type (here
    r_regionkey written as a string) falls back to schema inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    monkeypatch.setattr(entrymod, "_SCHEMA_TRUSTED", {})
    good = entrymod._t(spark, SF_DIR, "region")
    assert good.schema == entrymod._TESTDATA_SCHEMAS["region"]
    assert entrymod._SCHEMA_TRUSTED == {SF_DIR: True}

    drifted = tmp_path / "drifted"
    drifted.mkdir()
    pq.write_table(
        pa.table({"r_regionkey": ["0", "1"], "r_name": ["AFRICA", "AMERICA"]}),
        str(drifted / "region.parquet"),
    )
    df = entrymod._t(spark, str(drifted), "region")
    assert df.schema["r_regionkey"].dataType == T.StringType()
    assert sorted(r.r_regionkey for r in df.collect()) == ["0", "1"]
    assert entrymod._SCHEMA_TRUSTED[str(drifted)] is False
