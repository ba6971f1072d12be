"""spark-submit entry point.

    spark-submit --py-files tbbid_scrapy_spark.zip -m tbbid_scrapy_spark ...
    # or locally:
    python -m tbbid_scrapy_spark crawl --checkpoint /tmp/ck --max-waves 20
    python -m tbbid_scrapy_spark resume --checkpoint /tmp/ck
    python -m tbbid_scrapy_spark bench

The crawl/resume commands run the frontier engine against the synthetic
site fixture (a real deployment swaps the site table for an HTTP fetch
stage with the same row contract — plans/crawl.py step 3). On a cluster,
drop the --cpus flag and let spark-submit's --master/--num-executors
govern parallelism; the engine reads the active SparkSession.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="tbbid_scrapy_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    for cmd, help_ in (("crawl", "run the frontier crawl"),
                       ("resume", "resume a checkpointed crawl")):
        p = sub.add_parser(cmd, help=help_)
        p.add_argument("--checkpoint", required=cmd == "resume", default=None)
        p.add_argument("--max-waves", type=int, default=100)
        p.add_argument("--cpus", type=int, default=None)
        # the fixture site is rebuilt deterministically at resume, so these
        # must match the original crawl's values or pending URLs point at
        # pages the rebuilt site doesn't carry
        p.add_argument("--seen-mode", default="hybrid",
                       choices=["exact", "bloom", "hybrid", "cuckoo"])
        p.add_argument("--listings", type=int, default=4)
        p.add_argument("--projects", type=int, default=400)
        p.add_argument("--budget", type=int, default=4)

    sub.add_parser("bench", help="run bench.py main")

    args = ap.parse_args(argv)

    if args.cmd == "bench":
        import bench

        bench.main()
        return 0

    from tbbid_scrapy_spark import schemas
    from tbbid_scrapy_spark.fixtures import sitegen
    from tbbid_scrapy_spark.fixtures.sitegen_spark import SITE_SCHEMA
    from tbbid_scrapy_spark.operators.bloom import BloomSpec
    from tbbid_scrapy_spark.operators.cuckoo import CuckooSpec
    from tbbid_scrapy_spark.plans.crawl import CrawlConfig, CrawlEngine
    from tbbid_scrapy_spark.session import get_spark

    spark = get_spark(app_name=f"tbbid_{args.cmd}", cpus=args.cpus)
    site = sitegen.build_site(args.listings, args.projects, seed=42)
    site_df = spark.createDataFrame(sitegen.site_to_rows(site), SITE_SCHEMA)
    pol = spark.createDataFrame(
        sitegen.default_politeness(args.budget, args.budget), schemas.POLITENESS
    )
    rob = spark.createDataFrame(sitegen.default_robots(), schemas.ROBOTS)
    spec = BloomSpec.for_capacity(10_000_000, 0.01, 64)
    cuckoo = (
        CuckooSpec.for_capacity(10_000_000, 64)
        if args.seen_mode == "cuckoo"
        else None
    )
    eng = CrawlEngine(
        spark, site_df, sitegen.default_seeds(), pol, rob,
        CrawlConfig(max_waves=args.max_waves, seen_mode=args.seen_mode,
                    bloom_spec=spec, cuckoo_spec=cuckoo,
                    checkpoint_dir=args.checkpoint),
    )
    st = eng.run(resume=args.cmd == "resume")

    summary = {
        "waves": st.wave,
        "fetched": st.fetch_log.count(),
        "seen": st.seen.count(),
        "extracted_spans": st.extracted.count(),
        # st.metrics is the THIS-process per-wave list (empty right after
        # a resume that ran no waves); the durable per-(wave, partition,
        # host) lineage is metrics_table, a view over the wave log
        "metrics": st.metrics,
        "metric_rows_total": st.metrics_table.count(),
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
