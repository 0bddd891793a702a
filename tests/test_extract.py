"""HTML extraction + URL/domain gating (llm/extract.py)."""

import pytest
from pyspark.sql import functions as F

from rulemorph_spark.functions.diag import plan_summary
from rulemorph_spark.llm.extract import (
    domain_filter,
    html_to_text,
    url_domain,
)

HTML = """<html><head><title>Page Title</title>
<script>var x = "SCRIPT NOISE";</script>
<style>.c { color: red }</style></head>
<body>
<h1>Header &amp; More</h1>
<!-- a comment -->
<p>First paragraph with <b>bold</b> text.</p>
<div>Second<br>block</div>
<ul><li>item one</li><li>item two</li></ul>
<a href="https://example.com/a">link text</a>
<noscript>NOSCRIPT NOISE</noscript>
</body></html>"""


def test_html_to_text_blocks_and_noise(spark):
    df = spark.createDataFrame(
        [(1, HTML), (2, "<p>unclosed <b>still fine"), (3, None),
         (4, "plain text, no tags")],
        "doc_id long, html string")
    got = {r["doc_id"]: r["text"]
           for r in html_to_text(df).collect()}
    lines = got[1].split("\n")
    assert "Page Title" in lines
    assert "Header & More" in lines          # entity unescaped
    assert "First paragraph with bold text." in lines
    assert "item one" in lines and "item two" in lines
    assert "Second" in lines and "block" in lines  # <br> splits
    assert "SCRIPT NOISE" not in got[1]
    assert "NOSCRIPT NOISE" not in got[1]
    assert "a comment" not in got[1]
    assert "link text" in got[1]
    assert got[2] == "unclosed still fine"
    assert got[3] == ""
    assert got[4] == "plain text, no tags"


def test_url_domain_forms(spark):
    urls = ["https://Sub.Example.COM/path?q=1",
            "http://user@host.org:8080/x",
            "example.net/bare",
            "//proto.relative.io/y",
            "https://[2001:db8::1]/v6"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r["d"] for r in
           df.select(url_domain(F.col("url")).alias("d")).collect()]
    assert got == ["sub.example.com", "host.org", "example.net",
                   "proto.relative.io", "2001:db8::1"]


def test_domain_filter_block_allow_and_plan(spark):
    rows = [(1, "https://ads.tracker.com/x"),
            (2, "https://deep.sub.tracker.com/y"),
            (3, "https://tracker.com/z"),
            (4, "https://nottracker.com/ok"),
            (5, "https://docs.example.org/page"),
            (6, None)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    blocked = domain_filter(df, ["tracker.com"], mode="block")
    assert sorted(r["doc_id"] for r in blocked.collect()) == [4, 5, 6]
    allowed = domain_filter(df, ["example.org", "tracker.com"],
                            mode="allow")
    assert sorted(r["doc_id"] for r in allowed.collect()) == [1, 2, 3, 5]
    # multiplicity preserved for duplicate rows
    dup = df.unionByName(df)
    assert domain_filter(dup, ["tracker.com"], mode="block") \
        .count() == 6
    # zero corpus shuffle: every list probe is a broadcast join
    s = plan_summary(domain_filter(df, ["tracker.com"], mode="block"))
    assert s["shuffle_exchanges"] == 0
    assert s["broadcast_exchanges"] >= 1
    with pytest.raises(ValueError):
        domain_filter(df, ["x.com"], mode="nope")


def test_html_pipeline_composes_with_filters(spark):
    """Extraction output feeds the existing line-shape cleaners."""
    from rulemorph_spark.llm.filters import c4_clean_lines
    page = ("<html><body><p>This line has enough words to survive "
            "the cleaner today.</p><br><p>no</p></body></html>")
    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    text = html_to_text(df).select("doc_id", "text")
    cleaned = c4_clean_lines(text, "text", "doc_id", 3, 1)
    out = cleaned.collect()[0]
    assert "enough words" in out["text"]
    assert "\nno" not in out["text"]


def test_domain_filter_rejects_unmatchable_deep_entries(spark):
    """A blocklist entry with more labels than max_labels could never
    match — silently ignoring it would punch a hole in the blocklist."""
    df = spark.createDataFrame([(1, "https://a.b.c/x")],
                               "doc_id long, url string")
    deep = "a.b.c.d.e.f"  # 6 labels > default max_labels=5
    with pytest.raises(ValueError, match="never match"):
        domain_filter(df, [deep], mode="block")
    # same guard on the DataFrame-dim path
    dim = spark.createDataFrame([(deep,)], "domain string")
    with pytest.raises(ValueError, match="never match"):
        domain_filter(df, dim, mode="block")
    # raising max_labels makes it legal again
    assert domain_filter(df, [deep], mode="block",
                         max_labels=6).count() == 1
