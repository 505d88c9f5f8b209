"""Capstone: the crawl ingestion lifecycle through this session's
operators — WARC archives -> HTML extraction -> Unicode cleaning ->
URL canonicalization dedup -> domain blocklist -> curation gates.
Every hop has its own oracle elsewhere; this
pins that they COMPOSE into the C4/RefinedWeb-shaped pipeline the
modules document."""
from __future__ import annotations

import gzip

from pyspark.sql import functions as F

from valkey_search_spark.operators.cleaning import clean_text
from valkey_search_spark.operators.html import extract_documents
from valkey_search_spark.operators.pipeline import (CurationConfig,
                                                    curate_documents)
from valkey_search_spark.operators.urlops import domain_filter, url_dedup
from valkey_search_spark.sources.warc import warc_html_documents


def _http(body: bytes, ctype: str = "text/html") -> bytes:
    return (f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n\r\n"
            ).encode() + body


def _record(rid: str, uri: str, payload: bytes) -> bytes:
    head = (f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Date: 2026-01-02T03:04:05Z\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n").encode()
    return head + payload + b"\r\n\r\n"


def test_crawl_lifecycle(spark, sf_dir, tmp_path):
    # 0. build the crawl: real corpus text wrapped in markup; one page
    # crawled twice under tracking-param variants; one mojibake page;
    # one blocklisted domain; one low-quality stub
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .orderBy("doc_id").limit(40).collect()
    wdir = tmp_path / "crawl"
    wdir.mkdir()
    out = []
    for r in docs:
        body = (f"<html><head><title>doc {r.doc_id}</title></head>"
                f"<body><p>{r.text}</p></body></html>").encode()
        out.append(_record(f"d{r.doc_id}",
                           f"https://site{r.doc_id % 5}.example.com"
                           f"/page/{r.doc_id}", _http(body)))
    # same canonical URL twice (param order + tracking param differ)
    dup_body = b"<html><body><p>" + (b"crawl dup words " * 20) + \
        b"</p></body></html>"
    out.append(_record("dupA", "https://dup.example.com/p?a=1&b=2",
                       _http(dup_body)))
    out.append(_record("dupB",
                       "https://dup.example.com/p?b=2&a=1&utm_source=x",
                       _http(dup_body)))
    # mojibake page (UTF-8 mis-decoded as cp1252 upstream)
    moji = ("<html><body><p>" + "clean words " * 20 +
            "cafÃ© donâ€™t</p></body></html>").encode()
    out.append(_record("moji", "https://m.example.com/x", _http(moji)))
    # blocklisted domain + a too-short stub
    out.append(_record("spam", "https://spam.bad/z",
                       _http(b"<html><body><p>" +
                             b"spam words repeated " * 20 +
                             b"</p></body></html>")))
    out.append(_record("stub", "https://site0.example.com/stub",
                       _http(b"<html><body><p>tiny</p></body></html>")))
    (wdir / "crawl.warc.gz").write_bytes(
        b"".join(gzip.compress(rec) for rec in out))

    # 1. WARC -> html docs
    pages = warc_html_documents(spark, str(wdir))
    assert pages.count() == 45

    # 2. extract + clean (mojibake repair on)
    ex = extract_documents(pages, html_col="html")
    ex = clean_text(ex, "text", fix_mojibake=True)

    # 3. URL canonicalization dedup: the two dup-page variants collapse.
    # The key derives from the RAW url (unique per record here), never
    # monotonically_increasing_id — that is plan-local and would not
    # line up across the two separately-planned frames below
    ex = ex.withColumn("k", F.xxhash64("url"))
    verdict = url_dedup(ex, key="k", url_col="url")
    assert verdict.count() == 44
    dup = verdict.where(F.col("norm_url") ==
                        "https://dup.example.com/p?a=1&b=2").first()
    assert dup.dup_count == 2
    survivors = ex.join(verdict.select("k"), "k", "left_semi")

    # 4. domain blocklist
    kept = domain_filter(survivors, blocklist=["spam.bad"])
    assert kept.count() == 43
    assert kept.where(F.col("url").contains("spam.bad")).count() == 0

    # 4b. robots.txt compliance: site0 disallows /page/*5 paths
    from valkey_search_spark.operators.robots import (parse_robots,
                                                      robots_gate)

    robots = spark.createDataFrame(
        [("site0.example.com", "User-agent: *\nDisallow: /page/*5$\n")],
        "host string, robots_txt string")
    n_before = kept.count()
    kept = robots_gate(kept, parse_robots(robots))
    blocked = [r.doc_id for r in docs
               if r.doc_id % 5 == 0 and str(r.doc_id).endswith("5")]
    assert kept.count() == n_before - len(blocked)

    # 5. curation gates (quality + min tokens drop the stub)
    clean, funnel = curate_documents(
        kept.withColumn("doc_id", F.col("k")),
        config=CurationConfig(min_tokens=10, min_quality=0.0,
                              near_dup_threshold=None))
    assert funnel["input"] == 39                 # 43 - 4 robots-blocked
    assert funnel["quality_gate"] == 38          # stub gated
    rows = clean.collect()
    # the mojibake page came out repaired
    m = [r for r in rows if "m.example.com" in r.url]
    assert len(m) == 1 and "café don’t" in m[0].text
