"""Batch fetch operator — Arrow-batched ``mapInPandas`` with a pluggable
transport, sharing the exact row contract of the join-based sandbox fetch
in plans/crawl.py.

The reference fetches through Scrapy's downloader + middleware chain
(/root/reference/xizang/middlewares.py:139-158 — per-request UA/proxy
mutation; settings.py:77-79 — retry policy). In the engine, retry policy
stays in the WAVE LOOP (attempts tracking / re-enqueue, crawl.py), so a
transport performs exactly ONE attempt and reports what happened:

    transport(url_norm, attempts) -> (status:int, body:str|None)

Two transports ship:

- ``SyntheticTransport`` — a deterministic in-memory site (the fixture
  pages serialized as JSON bodies), byte-equivalent to the equi-join
  fetch: missing page → 404, ``attempts < fail_first`` → 503, else 200.
  Crawl parity vs the single-threaded simulator is asserted with this
  transport swapped in (tests/test_fetch_operator.py).
- ``HttpTransport`` — a REAL socket fetch (stdlib urllib; no third-party
  deps), with timeout and status mapping. Exercised in tests against a
  local ``http.server`` serving the same JSON bodies, so the operator is
  real code, not prose — a deployment points it at real hosts and the
  wave loop, politeness, retries and parsing are unchanged.

The crawl engine runs this operator exactly when a transport is passed
(``CrawlEngine(..., transport=...)``); without one it fetches with the
sandbox equi-join.

Partitioning note: the batch arrives range-partitioned by global fetch
order (dense_index), which interleaves hosts across tasks; for
connection-pool affinity a deployment repartitions on
(host, url_hash mod salt) before this stage.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# body payload schema: the synthetic page serialized the way a parsed
# HTML/JSON response would be handed to the extractor stage. Built FROM
# schemas.SPAN (single source of truth) so the mapInPandas fetch path's
# from_json can never silently drop a field the join-based path carries
# — a hand-copied struct here once meant a new SPAN field would decode
# as null in one mode only.
from tbbid_scrapy_spark import schemas as _schemas

PAGE_BODY_SCHEMA = T.StructType(
    [
        T.StructField("page_kind", T.StringType(), True),
        T.StructField("spans", T.ArrayType(_schemas.SPAN), True),
    ]
)


@dataclass
class SyntheticTransport:
    """Deterministic fake transport over a {url_norm: page dict} map.

    ``pages[url] = {"page_kind": ..., "spans": [...], "fail_first": n}``.
    Small-fixture use only (the map rides the task closure); at scale the
    transport IS the network and carries no corpus.
    """

    pages: dict[str, dict]

    def __call__(self, url_norm: str, attempts: int) -> tuple[int, str | None]:
        page = self.pages.get(url_norm)
        if page is None:
            return 404, None
        if attempts < page.get("fail_first", 0):
            return 503, None
        return 200, json.dumps(
            {"page_kind": page["page_kind"], "spans": page["spans"]}
        )


@dataclass
class HttpTransport:
    """One real HTTP GET per row via stdlib urllib (Arrow batch loop, one
    connection per request — a deployment would pool per host). HTTP
    errors map to their status; transport-level failures (DNS, refused,
    timeout) map to 503 so the wave loop's retry policy (5xx, ≤3
    attempts) treats them like the reference's RETRY_HTTP_CODES."""

    timeout_sec: float = 10.0
    user_agent: str = "tbbid-scrapy-spark/0.2"

    def __call__(self, url_norm: str, attempts: int) -> tuple[int, str | None]:
        import http.client
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            url_norm, headers={"User-Agent": self.user_agent}
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout_sec) as resp:
                # honor the declared charset (the reference's targets
                # commonly serve gbk/gb2312 — hardcoded utf-8 turned every
                # CJK page into U+FFFD and the Chinese-regex extractors
                # silently returned null on status-200 bodies)
                charset = resp.headers.get_content_charset() or "utf-8"
                raw = resp.read()
                try:
                    return resp.status, raw.decode(charset, "replace")
                except LookupError:  # bogus charset token from the server
                    return resp.status, raw.decode("utf-8", "replace")
        except urllib.error.HTTPError as e:
            return e.code, None
        except (
            urllib.error.URLError,
            OSError,
            TimeoutError,
            # NOT OSError subclasses: BadStatusLine / IncompleteRead /
            # LineTooLong / InvalidURL — a malformed server response must
            # settle as a retryable 503 row, not crash the mapInPandas
            # task (Spark would re-fetch the whole partition and abort
            # the wave after 4 task failures)
            http.client.HTTPException,
        ):
            return 503, None


def fetch_map_in_pandas(
    batch: DataFrame,
    transport: Callable[[str, int], tuple[int, str | None]],
) -> DataFrame:
    """batch rows + (status int, body string) via mapInPandas.

    Input must carry ``url_norm`` and ``attempts``; every input column
    passes through unchanged, so downstream parsing/metrics/state code is
    identical for the join fetch and this operator."""
    out_schema = T.StructType(
        list(batch.schema.fields)
        + [
            T.StructField("status", T.IntegerType(), False),
            T.StructField("body", T.StringType(), True),
        ]
    )
    cols = [f.name for f in batch.schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            statuses, bodies = [], []
            for url, att in zip(pdf["url_norm"], pdf["attempts"]):
                s, b = transport(url, int(att))
                statuses.append(s)
                bodies.append(b)
            out = pdf[cols].copy()
            out["status"] = pd.Series(statuses, dtype="int32")
            out["body"] = pd.Series(bodies, dtype="object")
            yield out

    return batch.mapInPandas(run, schema=out_schema)


def parse_fetched_body(fetched: DataFrame) -> DataFrame:
    """JVM-side body → (_doc_kind, spans) parse (from_json; no Python),
    yielding the same columns the equi-join fetch produces so the rest of
    the wave plan is shared verbatim."""
    pg = F.from_json("body", PAGE_BODY_SCHEMA)
    return fetched.withColumn("_pg", pg).select(
        "*",
        F.col("_pg.page_kind").alias("_doc_kind"),
        F.col("_pg.spans").alias("spans"),
    ).drop("_pg", "body")


def site_to_transport_pages(site_rows: list) -> dict[str, dict]:
    """Fixture site rows (schemas.DOCUMENTS + fail_first) → transport map.
    Span fields come from schemas.SPAN so all three copies of the span
    contract (DOCUMENTS, PAGE_BODY_SCHEMA, this serializer) stay in
    lockstep."""
    span_fields = [f.name for f in _schemas.SPAN.fields]
    return {
        r.doc_id: {
            "page_kind": r.page_kind,
            "fail_first": r.fail_first,
            "spans": [{k: s[k] for k in span_fields} for s in r.spans],
        }
        for r in site_rows
    }
