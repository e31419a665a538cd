#!/usr/bin/env python
"""spark-submit entry point for the crawl engine (north_rule: ships via
``spark-submit --py-files``).

Package the library and submit:

    cd /root/repo && zip -qr /tmp/crawler_spark.zip crawler_spark
    spark-submit --master <cluster-or-local[N]> \
        --py-files /tmp/crawler_spark.zip \
        jobs/crawl_job.py --store /tmp/crawl_state --max-waves 20

On a real cluster, point ``--pages`` at the Common-Crawl-style pages
table (url, warc_ts, html, text, lang) instead of generating the
virtual web, and raise ``--sections`` et al. The job is resumable: run
it again with the same ``--store`` and it continues from the last
committed wave.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default=None,
                    help="parquet path of the pages table; default: generate the virtual web")
    ap.add_argument("--store", default=None, help="durable state directory (enables resume)")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--max-waves", type=int, default=50)
    ap.add_argument("--wave-seconds", type=float, default=8.0)
    ap.add_argument("--bench-sections", type=int, default=0,
                    help=">0: use the synthetic bench site set at this many sections")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # under spark-submit the session/master comes from the submit command
    spark = SparkSession.builder.appName("crawler-spark-job").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from crawler_spark.config import SITES
    from crawler_spark.corpus import webgen as wg
    from crawler_spark.engine.driver import CrawlParams, crawl
    from crawler_spark.state.lakestore import LakeStore

    if args.bench_sections:
        sites = wg.bench_sites(sections=args.bench_sections)
        spec = wg.CorpusSpec(items_per_page=20, default_pages=2,
                             empty_last_page_sources=())
    else:
        sites = SITES
        spec = wg.test_spec()

    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        pages = wg.corpus_df(spark, spec, sites).persist()
        pages.count()

    store = LakeStore(args.store) if args.store else None
    res = crawl(
        spark, pages,
        CrawlParams(wave_seconds=args.wave_seconds, max_waves=args.max_waves,
                    record_order=False),
        sites=sites, store=store, resume=args.resume,
    )
    summary = {
        "waves": res.waves,
        "items": res.items.count(),
        "errors": res.errors.count(),
        "seen_urls": res.seen.count(),
        "per_wave": res.metrics,
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
