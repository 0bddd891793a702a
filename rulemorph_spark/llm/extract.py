"""Web-corpus extraction: HTML → text and URL/domain gating — the
front door of a real pretraining pipeline (raw crawls arrive as HTML
with a URL, not as clean text columns).

* :func:`html_to_text` — pure-stdlib (``html.parser``) extraction in
  an Arrow-batched pandas UDF: drops ``script/style/template/head``
  subtrees and HTML comments, unescapes entities, emits block-level
  newlines so the line-shape signals downstream (``c4_clean_lines``,
  Gopher line rules) see real lines.  Per-document parse failures
  degrade to empty text, never kill the job (same corrupt-isolation
  discipline as the media codecs).  Scale shape: a pure map stage —
  no shuffle, partitioning preserved.
* :func:`url_domain` / :func:`domain_filter` — registrable-domain-ish
  key (last two labels, a deliberate public-suffix simplification —
  documented, swap in a PSL table for production) and an allow/block
  gate by exact domain or any-parent suffix.  The list is a broadcast
  join on the extracted key: the corpus never shuffles, and suffix
  matching is a bounded explode of each URL's ≤ ``max_labels`` parent
  suffixes, not a cross join against the list.
"""

from __future__ import annotations

from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SKIP_TAGS = {"script", "style", "template", "noscript",
              "svg", "iframe"}
_BLOCK_TAGS = {"p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3",
               "h4", "h5", "h6", "tr", "table", "section", "article",
               "header", "footer", "blockquote", "pre", "title"}


class _TextExtractor(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
        elif tag in _BLOCK_TAGS:
            self.parts.append("\n")

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS and self._skip_depth:
            self._skip_depth -= 1
        elif tag in _BLOCK_TAGS:
            self.parts.append("\n")

    def handle_data(self, data):
        if not self._skip_depth and data:
            self.parts.append(data)

    def text(self) -> str:
        lines = (ln.strip() for ln in "".join(self.parts).split("\n"))
        return "\n".join(ln for ln in lines if ln)


def _extract_one(html: str | None) -> str:
    if not html:
        return ""
    p = _TextExtractor()
    try:
        p.feed(html)
        p.close()
    except Exception:  # malformed markup: keep what was parsed
        pass
    return p.text()


def html_to_text(df: DataFrame, html_col: str = "html",
                 out_col: str = "text") -> DataFrame:
    """Add ``out_col`` with the extracted text (block-level newlines
    preserved).  Arrow-batched; no shuffle."""
    @F.pandas_udf(T.StringType())
    def _extract(s: pd.Series) -> pd.Series:
        return s.map(_extract_one)

    return df.withColumn(out_col, _extract(F.col(html_col)))


def url_domain(url: Column) -> Column:
    """Lowercased host of ``url`` (scheme/port/path/userinfo stripped).
    Pure JVM regex — scan speed."""
    lower = F.lower(url)
    auth = r"^(?:[a-z][a-z0-9+.-]*:)?//(?:[^/@]*@)?"
    v6 = F.regexp_extract(lower, auth + r"\[([^\]]+)\]", 1)
    host = F.regexp_extract(lower, auth + r"([^/:?#\[]+)", 1)
    bare = F.regexp_extract(lower, r"^([^/:?#]+)", 1)
    return (F.when(v6 != "", v6)
            .when(host != "", host)
            .otherwise(bare))


def domain_filter(df: DataFrame, domains: DataFrame | list[str],
                  url_col: str = "url", mode: str = "block",
                  max_labels: int = 5) -> DataFrame:
    """Keep (``mode='allow'``) or drop (``'block'``) documents whose
    URL host equals a listed domain OR is any subdomain of one.

    Matching is ``max_labels`` broadcast LEFT joins — one per parent
    suffix of the host (``a.b.c.d`` → ``a.b.c.d``, ``b.c.d``,
    ``c.d``) — so the corpus NEVER shuffles, row multiplicity is
    exactly preserved, and cost is O(rows × max_labels) hash probes
    against the in-memory list.
    """
    if mode not in ("allow", "block"):
        raise ValueError(f"mode must be 'allow' or 'block', got {mode!r}")
    spark = df.sparkSession
    if isinstance(domains, list):
        # a list entry with more labels than we generate suffixes for
        # could NEVER match — silently ignoring it would punch a hole
        # in a blocklist, so reject it up front
        too_deep = sorted(d for d in domains
                          if len(d.split(".")) > max_labels)
        if too_deep:
            raise ValueError(
                f"domain entries exceed max_labels={max_labels} and can "
                f"never match: {too_deep[:5]} — raise max_labels")
        # dedupe driver-side: the dim subtree is re-planned per suffix
        # join, so keeping it exchange-free keeps the WHOLE query
        # exchange-free (a duplicate domain would duplicate rows)
        dim = spark.createDataFrame(
            [(d,) for d in sorted({x.lower() for x in domains})],
            "__dom__ string")
    else:
        dim = (domains.select(F.lower(F.col("domain"))
                              .alias("__dom__")).distinct())
        # same never-match guard; the dim is broadcast-small by
        # contract so this one-row aggregate is cheap
        deepest = dim.agg(F.max(F.size(F.split(
            F.col("__dom__"), r"\."))).alias("d")).first()["d"]
        if deepest is not None and deepest > max_labels:
            raise ValueError(
                f"domain table has entries with {deepest} labels but "
                f"max_labels={max_labels} — they can never match")
    labels = F.split(url_domain(F.col(url_col)), r"\.")
    n = F.size(labels)
    cur = df
    hit = F.lit(False)
    for i in range(max_labels):
        sfx = F.when(n > i, F.array_join(
            F.slice(labels, n - i, i + 1), "."))
        d = F.broadcast(dim.withColumnRenamed("__dom__", f"__d{i}__"))
        cur = cur.join(d, sfx == F.col(f"__d{i}__"), "left")
        hit = hit | F.col(f"__d{i}__").isNotNull()
    keep = hit if mode == "allow" else ~hit
    return cur.filter(keep).drop(
        *[f"__d{i}__" for i in range(max_labels)])
