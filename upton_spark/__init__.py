"""upton_spark — a brand-new PySpark-native crawl/extraction analytics engine.

Re-expresses the capabilities of the reference scraper framework
(propublica/upton v0.3.6, surveyed in /root/repo/SURVEY.md) as an idiomatic
Spark dataflow:

* a **URL frontier + fetch scheduler** over an Iceberg-style table of
  Common-Crawl-style pages (``url, warc_ts, html, text, lang``),
* **dedup** as an exact anti-join against the URL-seen set, keyed on
  xxhash64-hashed canonical URLs,
* **per-host politeness** as a token-bucket admission window
  (reference: sleep_time_between_requests, lib/upton.rb:96,220-223),
* **CSS-selector extraction** as Arrow-vectorized pandas UDFs over the
  ``html`` column (reference: Nokogiri blocks, lib/upton.rb:281-288,
  lib/upton/utils.rb:20-40),
* snapshot-per-round **lineage + resume** (ManifestCatalog; Iceberg seam).

Everything here is built from scratch on the public PySpark API; nothing is
ported from the reference's Ruby implementation.
"""

__version__ = "0.1.0"

from upton_spark.plans.session import get_spark  # noqa: F401
