"""SparkSession restart in one process: the lru_cache'd Column trees are
built under the first session, so a second session (``spark.stop()``
then a new ``get_spark()``) must still give identical results from URL
canonicalization (the JVM-first path and the all-Arrow UDF), robots
filtering, a crawl and simhash dedup.

Runs in a subprocess, like test_spark_submit.py: stopping the session
in-process would take the suite's shared session fixture down with it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = """
import json

from pyspark.sql import functions as F

from tbbid_scrapy_spark import schemas
from tbbid_scrapy_spark.fixtures import sitegen
from tbbid_scrapy_spark.fixtures.sitegen_spark import SITE_SCHEMA
from tbbid_scrapy_spark.functions.urls import canonicalize_url_pd, url_hash_col, with_url_norm
from tbbid_scrapy_spark.operators import dedup
from tbbid_scrapy_spark.operators.frontier import apply_robots_joined, robots_rules
from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine
from tbbid_scrapy_spark.session import get_spark

HOT = sitegen.HOT_HOST
URLS = [
    f"https://{HOT}/listing?page=1&province=540000",
    f"HTTPS://{HOT.upper()}/project/../listing?page=2&province=540000#top",
    f"https://{HOT}/listing?page=1&province=540000&_=1699999999",
    f"https://{HOT}/admin/login?next=1",
    "https://example.com/路径?q=中文",
]
# five groups of near-duplicate pairs (one token differs: 3-shingle
# Jaccard 9/11); groups share no tokens
DOCS = [
    (2 * g + v, " ".join(f"w{g}t{i}" for i in range(11)) + f" end{v}")
    for g in range(5) for v in range(2)
]


def probe():
    spark = get_spark(app_name="restart", cpus=2, shuffle_partitions=2)
    robots = spark.createDataFrame(sitegen.default_robots(), schemas.ROBOTS)
    urls = spark.createDataFrame([(u,) for u in URLS], "url string")
    arrow = urls.withColumn("url_norm", canonicalize_url_pd("url")).select(
        "url", "url_norm",
        url_hash_col(F.col("url_norm")).alias("url_hash"),
        F.lower(F.parse_url("url_norm", F.lit("HOST"))).alias("host"),
    )
    norm = {
        mode: sorted(
            (r.url, r.url_norm, r.url_hash, r.host)
            for r in apply_robots_joined(df, robots_rules(robots)).collect()
        )
        for mode, df in (("python", arrow), ("hybrid", with_url_norm(urls)))
    }
    site = sitegen.build_site(n_listing_pages=2, projects_per_listing=5, seed=42)
    site_df = spark.createDataFrame(sitegen.site_to_rows(site), SITE_SCHEMA)
    pol = spark.createDataFrame(sitegen.default_politeness(), schemas.POLITENESS)
    st = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), pol, robots, CrawlConfig(max_waves=3)
    ).run()
    order = [
        (r.wave, r.url_norm)
        for r in st.fetch_log.orderBy("wave", "fetch_pos").collect()
    ]
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    pairs = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 9))
        for r in dedup.simhash_verified_pairs(docs, n=3, threshold=0.5).collect()
    )
    spark.stop()
    return {"url_norm": norm, "fetch_order": order, "simhash_pairs": pairs}


first = probe()
second = probe()
print("RESTART_RESULT:" + json.dumps({"first": first, "second": second}))
"""


def test_results_identical_after_session_restart(tmp_path):
    env = dict(os.environ)
    # Arrow UDF workers are fresh Python processes: they find the
    # package through PYTHONPATH, not the driver's sys.path
    env["PYTHONPATH"] = REPO
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", JOB],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=900, env=env,
    )
    out = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESTART_RESULT:")]
    assert proc.returncode == 0 and out, (
        f"rc={proc.returncode}\nstdout tail: {proc.stdout[-1500:]}\n"
        f"stderr tail: {proc.stderr[-3000:]}"
    )
    res = json.loads(out[0][len("RESTART_RESULT:"):])
    first, second = res["first"], res["second"]
    # the probes did real work: robots dropped /admin, the crawl ran three
    # waves, and every planted near-duplicate pair was found
    for rows in first["url_norm"].values():
        assert len(rows) == 4 and not any("/admin" in r[1] for r in rows)
    assert {w for w, _ in first["fetch_order"]} == {0, 1, 2}
    assert [(a, b) for a, b, _ in first["simhash_pairs"]] == [
        (2 * g, 2 * g + 1) for g in range(5)
    ]
    assert second == first
