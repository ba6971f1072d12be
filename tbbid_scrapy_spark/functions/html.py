"""HTML cleanup + notice analysis (F9/F10).

The reference strips <script> tags with BeautifulSoup then runs four regex
extractors over the result (/root/reference/xizang/utils/util.py:123-147).
bs4/lxml are not available in this environment, so the script strip is a
conservative regex pass (case-insensitive, dotall, tolerant of attributes)
— equivalent on well-formed markup, and the fixture generator only emits
well-formed markup, which the parity tests pin.

The downstream field extraction (funding / duration / qualifications /
profession) is pure Catalyst regex — see functions.extract.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tbbid_scrapy_spark.functions.extract import (
    extract_construction_qualification,
    extract_duration,
    extract_funding_source,
    extract_profession_and_level,
)

_SCRIPT_RE = re.compile(r"<script\b[^>]*>.*?</script\s*>", re.IGNORECASE | re.DOTALL)


def remove_script_tags_py(html: str | None) -> str | None:
    if html is None:
        return None
    return _SCRIPT_RE.sub("", html)


@F.pandas_udf(T.StringType())
def remove_script_tags_pd(html: pd.Series) -> pd.Series:
    """Arrow-batched <script> strip (F9, util.py:123-130)."""
    return html.map(remove_script_tags_py)


def analyse_notice_cols(html_col: Column) -> dict[str, Column]:
    """Composite notice analysis (F10, util.py:133-147): returns the five
    derived columns keyed by their project-table names."""
    pure = remove_script_tags_pd(html_col)
    return {
        "notice_content": pure,
        "construction_funds": extract_funding_source(pure),
        "project_duration": extract_duration(pure),
        "company_req": extract_construction_qualification(pure),
        "person_req": extract_profession_and_level(pure),
    }
