"""URL canonicalization and URL-level dedup for web-crawl corpora.

The reference keys crawled docs by their remote Solr id verbatim
(`geoparser_app/views.py:357-403`) — it never sees the same page twice
under different URL spellings.  A real crawl does, constantly:
scheme/host case, default ports, trailing slashes, fragment noise and
query-parameter order make N spellings of one resource.  Canonical-
izing BEFORE dedup/fetch-dedup is a core web-pipeline operator
(complementing sources/warc.py ingestion).

Everything here is native column expressions (regexp_extract over the
RFC 3986 component grammar, array ops for query-param sorting) — zero
Python, fully codegen'd, map-only.  The regex stays inside the
Java-regex/RE2 common subset (no backrefs, no lookaround) so the
DuckDB oracle runs the SAME pattern.

Semantics (documented subset of RFC 3986 normalization):
- scheme and host lowercased; userinfo preserved as-is
- default ports stripped (http:80, https:443)
- empty path -> '/', trailing slash stripped from non-root paths
- query parameters sorted bytewise ('&'-split; empty params dropped);
  '?' dropped when the query is empty
- fragment always dropped
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# RFC 3986 appendix-B style component split, RE2-compatible
_URL_RE = (
    r"^(?:([A-Za-z][A-Za-z0-9+.-]*)://)?([^/?#]*)([^?#]*)"
    r"(?:\?([^#]*))?(?:#.*)?$"
)


def _part(url: Column, idx: int) -> Column:
    return F.regexp_extract(url, _URL_RE, idx)


def canonical_url(url: Column) -> Column:
    """Canonical form of `url` as a single native expression tree."""
    scheme = F.lower(_part(url, 1))
    authority = _part(url, 2)
    # authority = [userinfo@]host[:port]; host case-folds, userinfo not
    at = F.instr(authority, "@")
    host_port = F.when(at > 0, F.substring_index(authority, "@", -1)) \
        .otherwise(authority)
    user_prefix = F.when(
        at > 0, F.concat(F.substring_index(authority, "@", 1), F.lit("@"))
    ).otherwise(F.lit(""))
    lower_hp = F.lower(host_port)
    hp = (
        F.when((scheme == "http") & lower_hp.endswith(":80"),
               F.substring_index(lower_hp, ":", 1))
        .when((scheme == "https") & lower_hp.endswith(":443"),
              F.substring_index(lower_hp, ":", 1))
        .otherwise(lower_hp)
    )
    path = _part(url, 3)
    norm_path = (
        F.when(path == "", F.lit("/"))
        .when((path != "/") & path.endswith("/"),
              F.substring(path, F.lit(1), F.length(path) - 1))
        .otherwise(path)
    )
    query = _part(url, 4)
    sorted_q = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"), lambda p: p != "")), "&")
    q_suffix = F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)) \
        .otherwise(F.lit(""))
    return F.concat(
        F.when(scheme != "", F.concat(scheme, F.lit("://")))
        .otherwise(F.lit("")),
        user_prefix,
        hp,
        norm_path,
        q_suffix,
    )


def url_dedup(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Group rows by canonical URL: (canon_url, n_variants,
    first_url) — first_url is the bytewise-min raw spelling, a
    deterministic representative."""
    c = df.withColumn("canon_url", canonical_url(F.col(url_col)))
    return c.groupBy("canon_url").agg(
        F.count("*").alias("n_variants"),
        F.min(url_col).alias("first_url"),
    )


def links_from_html(docs: "DataFrame", html_col: str = "html",
                    id_col: str = "doc_id") -> "DataFrame":
    """Outbound-link table: (id, pos, url) for every <a href> in
    document order (operators/html_main.extract_links — same parse
    chain as the main-content extractor).  Arrow-batched map-only
    kernel; feeds canonicalize_url + the host-graph edge derivation
    — WARC pages → links → canonical hosts."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    from geoparser_spark.operators.html_main import extract_links

    schema = T.StructType([
        T.StructField(id_col, docs.schema[id_col].dataType, False),
        T.StructField("pos", T.IntegerType(), False),
        T.StructField("url", T.StringType(), False),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, poss, urls = [], [], []
            for i, h in zip(pdf[id_col], pdf[html_col]):
                for p, u in enumerate(
                        extract_links(h if isinstance(h, str) else "")):
                    ids.append(i)
                    poss.append(p)
                    urls.append(u)
            yield pd.DataFrame({id_col: ids, "pos": poss, "url": urls})

    return docs.select(id_col, html_col).mapInPandas(kernel, schema=schema)
