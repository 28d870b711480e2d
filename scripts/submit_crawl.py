"""spark-submit entry point for the crawl engine (north_rule: "run via
spark-submit --py-files on a multi-executor cluster").

Ships the package as a zip through --py-files so executors import it without
any cluster-side install:

    cd /root/repo && python -c "
    import shutil; shutil.make_archive('/tmp/upton_spark_pkg', 'zip', '.', 'upton_spark')"
    /opt/spark/bin/spark-submit --master 'local[8]' --driver-memory 8g \
        --py-files /tmp/upton_spark_pkg.zip \
        scripts/submit_crawl.py --corpus <pages.parquet dir> --hosts 600 --ipp 100

(--driver-memory sizes the single local JVM; on a cluster use executor
sizing instead. html-heavy pages need it — see plans/session.py notes.)

On a real cluster only --master (+ executor sizing) changes; the job itself
is identical. Prints one JSON line with crawl stats.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True, help="pages parquet directory")
    ap.add_argument("--hosts", type=int, default=600)
    ap.add_argument("--ipp", type=int, default=100)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    # spark-submit owns master/deploy config; we only set the engine's
    # SQL-level settings, the same dict get_spark applies.
    from upton_spark.plans.session import ENGINE_SQL_CONF

    spark = (
        SparkSession.builder.appName("upton_spark_submit_crawl")
        .config(map=ENGINE_SQL_CONF)
        .getOrCreate()
    )
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))

    from upton_spark.crawler import Crawler
    from upton_spark.sources.corpus import synth_seeds

    pages = spark.read.parquet(args.corpus)
    seeds = synth_seeds(args.hosts, args.ipp)
    t0 = time.time()
    crawler = Crawler(
        spark, pages, seeds, expected_url_capacity=1 << 21, assume_unique_urls=True,
        pages_path=args.corpus,
    )
    result = crawler.crawl()
    # force the extraction UDF (a bare count() would let Catalyst prune the
    # text column and skip extraction entirely)
    from pyspark.sql import functions as F

    row = result.extracted.agg(
        F.count("*").alias("n"), F.sum(F.length("text")).alias("b")
    ).collect()[0]
    n_extracted = row["n"]
    n_frontier = result.frontier.count()
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "urls": n_frontier + n_extracted,
                "frontier_rows": n_frontier,
                "extracted_rows": n_extracted,
                "seconds": round(dt, 2),
                "urls_per_sec": round((n_frontier + n_extracted) / dt, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
