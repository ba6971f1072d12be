"""The mapInPandas fetch operator (VERDICT r1 missing #1): identical row
contract to the join-based sandbox fetch — full crawl parity with the
synthetic transport swapped in, and a REAL socket test for HttpTransport
against a local http.server."""

from __future__ import annotations

import http.server
import json
import threading

import pytest
from pyspark.sql import functions as F

from tbbid_scrapy_spark.fixtures import sitegen
from tbbid_scrapy_spark.fixtures.simulator import simulate_crawl
from tbbid_scrapy_spark.operators.fetch import (
    HttpTransport,
    SyntheticTransport,
    fetch_map_in_pandas,
    parse_fetched_body,
    site_to_transport_pages,
)
from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine


def _sim(site, seeds, politeness_df, robots_rows, max_waves=50):
    return simulate_crawl(
        site,
        seeds,
        [(r.host, r.budget_per_wave, r.delay_s) for r in politeness_df.collect()],
        robots=robots_rows,
        max_waves=max_waves,
    )


def test_crawl_parity_with_mapinpandas_fetch(spark, site, site_df, politeness_df,
                                             robots_df):
    """The ordering/seen/retry oracle must hold with the fetch stage
    swapped from equi-join to the batch-transport operator."""
    transport = SyntheticTransport(site_to_transport_pages(site_df.collect()))
    st = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
        CrawlConfig(max_waves=50), transport=transport,
    ).run()
    sim = _sim(site, sitegen.default_seeds(), politeness_df, sitegen.default_robots())
    eng_order = [
        (r.wave, r.url_norm)
        for r in st.fetch_log.orderBy("wave", "fetch_pos").collect()
    ]
    assert eng_order == sim.fetch_log
    assert {r.url_norm for r in st.seen.collect()} == sim.seen
    eng_front = {
        r.url_norm: (r.state, r.attempts) for r in st.frontier.collect()
    }
    sim_front = {e.url_norm: (e.state, e.attempts) for e in sim.entries.values()}
    assert eng_front == sim_front


def test_synthetic_transport_status_contract(spark, site_df):
    """404 on miss, 503 while attempts < fail_first, 200 with a parseable
    body otherwise — byte-matching the join fetch's when-chain."""
    pages = site_to_transport_pages(site_df.collect())
    t = SyntheticTransport(pages)
    some_url = next(iter(pages))
    assert t("https://nowhere.example/xyz", 0)[0] == 404
    status, body = t(some_url, 99)  # attempts past any fail_first
    assert status == 200
    parsed = json.loads(body)
    assert parsed["page_kind"] == pages[some_url]["page_kind"]
    failer = next((u for u, p in pages.items() if p["fail_first"] > 0), None)
    if failer:
        assert t(failer, 0)[0] == 503
        assert t(failer, pages[failer]["fail_first"])[0] == 200


class _SiteHandler(http.server.BaseHTTPRequestHandler):
    pages: dict[str, dict] = {}

    def do_GET(self):  # noqa: N802 (stdlib casing)
        page = self.pages.get(self.path)
        if page is None:
            self.send_error(404)
            return
        body = json.dumps(page).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture(scope="module")
def local_site_server():
    _SiteHandler.pages = {
        "/page/ok": {"page_kind": "listing",
                     "spans": [{"kind": "text", "text": "hello", "media_ref": None,
                                "offset": 0}]},
    }
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _SiteHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_http_transport_real_sockets(spark, local_site_server):
    """fetch_map_in_pandas + HttpTransport against a live local server:
    real GETs from executor Python workers, status mapping for 200/404,
    and 503 for a refused connection."""
    base = local_site_server
    batch = spark.createDataFrame(
        [
            (f"{base}/page/ok", 0),
            (f"{base}/page/missing", 0),
            ("http://127.0.0.1:1/unreachable", 0),  # port 1: refused
        ],
        "url_norm string, attempts int",
    )
    out = parse_fetched_body(
        fetch_map_in_pandas(batch, HttpTransport(timeout_sec=5.0))
    )
    rows = {r.url_norm: r for r in out.collect()}
    assert rows[f"{base}/page/ok"].status == 200
    assert rows[f"{base}/page/ok"]._doc_kind == "listing"
    assert rows[f"{base}/page/ok"].spans[0].text == "hello"
    assert rows[f"{base}/page/missing"].status == 404
    assert rows["http://127.0.0.1:1/unreachable"].status == 503


def test_http_transport_malformed_response_maps_to_503():
    """A garbage status line raises http.client.BadStatusLine — an
    HTTPException, NOT an OSError — which must settle as a retryable 503
    row, not escape and kill the mapInPandas task (Spark would re-fetch
    the whole partition and abort the wave after 4 task failures)."""
    import socket

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    done = threading.Event()

    def garbage_server():
        conn, _ = srv.accept()
        conn.recv(4096)
        conn.sendall(b"GARBAGE NOT HTTP\r\n\r\n")
        conn.close()
        done.set()

    t = threading.Thread(target=garbage_server, daemon=True)
    t.start()
    try:
        status, body = HttpTransport(timeout_sec=5.0)(
            f"http://127.0.0.1:{port}/x", 0
        )
        assert status == 503 and body is None
        assert done.wait(5.0)
    finally:
        srv.close()


def test_http_transport_honors_declared_charset(local_site_server):
    """The reference's targets commonly serve gbk/gb2312; hardcoded
    utf-8 decoding mojibaked every CJK byte (U+FFFD) so the Chinese
    regex extractors silently returned null on 200 bodies. The declared
    Content-Type charset must be honored, with utf-8 fallback for a
    bogus token."""
    text = "资金来源：为国家投资"

    class _GbkHandler(_SiteHandler):
        def do_GET(self):  # noqa: N802
            if self.path == "/page/gbk":
                body = text.encode("gbk")
                ct = "text/html; charset=gbk"
            elif self.path == "/page/badcharset":
                body = "plain ascii".encode()
                ct = "text/html; charset=no-such-codec"
            else:
                return super().do_GET()
            self.send_response(200)
            self.send_header("Content-Type", ct)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _GbkHandler)
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        tr = HttpTransport(timeout_sec=5.0)
        status, body = tr(f"{base}/page/gbk", 0)
        assert status == 200 and body == text  # no U+FFFD mojibake
        status, body = tr(f"{base}/page/badcharset", 0)
        assert status == 200 and body == "plain ascii"  # utf-8 fallback
    finally:
        srv.shutdown()


def test_fetch_preserves_all_input_columns(spark, site_df):
    pages = site_to_transport_pages(site_df.collect())
    batch = spark.createDataFrame(
        [(u, 0, i, "x") for i, u in enumerate(list(pages)[:5])],
        "url_norm string, attempts int, extra_num long, extra_str string",
    )
    out = fetch_map_in_pandas(batch, SyntheticTransport(pages))
    assert out.columns == ["url_norm", "attempts", "extra_num", "extra_str",
                           "status", "body"]
    assert out.filter(F.col("status") != 200).count() == 0
    assert out.count() == 5


def test_non_retryable_status_fails_permanently(spark, site_df, politeness_df,
                                                robots_df):
    """A status outside {200, 404} ∪ RETRYABLE (e.g. 410 Gone from a real
    HttpTransport) must settle the row as 'failed' immediately — before
    this pin such rows stayed 'pending' with attempts never incremented
    and were refetched every wave until max_waves (the crawl never
    drained)."""
    pages = site_to_transport_pages(site_df.collect())
    base = SyntheticTransport(pages)
    gone = sorted(pages)[0]  # deterministic victim page

    def transport(url_norm, attempts):
        if url_norm == gone:
            return 410, None
        return base(url_norm, attempts)

    st = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), politeness_df, robots_df,
        CrawlConfig(max_waves=50), transport=transport,
    ).run()
    front = {r.url_norm: (r.state, r.last_status, r.attempts)
             for r in st.frontier.collect()}
    assert gone in front, "victim page never scheduled — vacuous test"
    state, last_status, attempts = front[gone]
    assert state == "failed"
    assert last_status == 410
    assert attempts == 0  # failed immediately, never retried
    # the crawl drained: no live pending rows left behind by 410s
    assert all(s != "pending" or ls is None
               for s, ls, _ in front.values()), "undrained pending rows"
