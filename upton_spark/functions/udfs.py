"""Arrow-vectorized pandas UDFs — the only place Python touches row data.

Per BASELINE.json ``input_hint`` the engine uses pandas/Arrow UDFs
throughout, never per-row Python UDFs: each call below receives whole Arrow
batches (pd.Series) and loops in compiled pandas/CPython over one batch at a
time, amortizing serialization. JVM-side built-ins (``F.hash``,
``F.xxhash64``, ``F.md5``, ``F.parse_url``) are preferred wherever the
semantics allow; these UDFs cover exactly the parts Spark cannot express:
HTML parsing/CSS selection (reference lib/upton.rb:281-288,
lib/upton/utils.rb:20-40) and Ruby-golden URL algebra (lib/upton.rb:149-164,
233-259).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F, types as T

from upton_spark import urlkit
from upton_spark.html import dom, extract


def _decode(html) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray)):
        return dom.decode_html_bytes(bytes(html))
    return html


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_links_udf(html: pd.Series, selector: pd.Series, base_url: pd.Series) -> pd.Series:
    """Anchor hrefs per page, resolved, NULLs preserved (parse_index)."""
    return pd.Series(
        [
            extract.extract_links(_decode(h), s, b) if s else []
            for h, s, b in zip(html, selector, base_url)
        ]
    )


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series, selector: pd.Series) -> pd.Series:
    """NodeSet#text of the selector per page ('' when absent)."""
    return pd.Series([extract.extract_text(_decode(h), s) if s else "" for h, s in zip(html, selector)])


@F.pandas_udf(T.ArrayType(T.StringType()))
def extract_list_udf(html: pd.Series, selector: pd.Series) -> pd.Series:
    """Upton::Utils.list — one text per matched element."""
    return pd.Series(
        [extract.extract_list(_decode(h), s) if s else [] for h, s in zip(html, selector)]
    )


@F.pandas_udf(T.ArrayType(T.ArrayType(T.StringType())))
def extract_table_udf(html: pd.Series, selector: pd.Series) -> pd.Series:
    """Upton::Utils.table — header row then td rows."""
    return pd.Series(
        [extract.extract_table(_decode(h), s) if s else [] for h, s in zip(html, selector)]
    )


@F.pandas_udf(T.StringType())
def decode_html_udf(html: pd.Series) -> pd.Series:
    """BINARY html → decoded text (meta-charset sniff, utf-8 default)."""
    return pd.Series([_decode(h) for h in html])


@F.pandas_udf(T.StringType())
def main_content_udf(html: pd.Series) -> pd.Series:
    """Selector-free main-content extraction (operators.boilerplate):
    kept leaf blocks of the jusText-style text/link-density classifier,
    newline-joined — the extract_kind='content' training-data path."""
    from upton_spark.operators.boilerplate import main_content

    return pd.Series([main_content(_decode(h)) if h is not None else "" for h in html])


@F.pandas_udf(T.StringType())
def resolve_url_udf(href: pd.Series, base_url: pd.Series) -> pd.Series:
    """Nil-tolerant resolve (NULL href → NULL, invalid → NULL)."""
    return pd.Series([urlkit.resolve_url_or_none(h, b) for h, b in zip(href, base_url)])


@F.pandas_udf(T.ArrayType(T.StringType()))
def index_page_urls_udf(seed: pd.DataFrame) -> pd.Series:
    """Each index seed's chain of page URLs: ``seed`` is a struct of
    ``urlkit.index_page_urls``' arguments, by name."""
    return pd.Series([urlkit.index_page_urls(**kw) for kw in seed.to_dict("records")])


@F.pandas_udf(T.StringType())
def set_query_param_udf(url: pd.Series, param: pd.Series, value: pd.Series) -> pd.Series:
    return pd.Series(
        [urlkit.set_query_param(u, p, v) if u is not None else None for u, p, v in zip(url, param, value)]
    )


MAX_FILENAME_LENGTH = 130  # reference downloader.rb:18


def readable_key_col(url_col, cache_location_len: int = len("/tmp/upton")):
    """Readable stash filename — reference readable_filename_from_uri
    (downloader.rb:130-135): strip every char outside [A-Za-z0-9_-], truncate
    to MAX_FILENAME_LENGTH - len('html') - len(cache_location), append
    '.html'. (The reference does not budget for the '.' — quirk preserved.)
    Pure JVM regexp_replace + substring: runs in codegen."""
    clean = F.regexp_replace(url_col, "[^A-Za-z0-9\\-_]", "")
    keep = MAX_FILENAME_LENGTH - len("html") - cache_location_len
    return F.concat(F.substring(clean, 1, keep), F.lit(".html"))


def host_col(url_col):
    """Host (authority) of a URL — JVM-side ``parse_url``, no Python.

    This is the partitioning/politeness key, so it must stay in codegen:
    at 10^10 rows a Python hop here would dominate the plan."""
    return F.lower(F.parse_url(url_col, F.lit("HOST")))


@F.pandas_udf(
    T.ArrayType(
        T.StructType(
            [
                T.StructField("href", T.StringType(), True),
                T.StructField("anchor", T.StringType(), True),
            ]
        )
    )
)
def extract_anchors_udf(
    html: pd.Series, selector: pd.Series, base_url: pd.Series
) -> pd.Series:
    """(href, anchor text) structs per page, document order, hrefs resolved
    and NULL-preserved — the anchor-text link projection for web-graph
    planning."""
    return pd.Series(
        [
            [
                {"href": href, "anchor": anchor}
                for href, anchor in extract.extract_anchors(_decode(h), s, b)
            ]
            if s
            else []
            for h, s, b in zip(html, selector, base_url)
        ]
    )
