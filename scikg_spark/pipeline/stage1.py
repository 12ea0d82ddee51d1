"""Stage 1: pages -> statements.

``pages(url, warc_ts, html, text, lang)`` (Iceberg/parquet) is filtered by
language, HTML is reduced to text by the byte-deterministic shared extractor,
and each text line (one annotated statement, the reference's corpus shape) is
parsed into aligned WORD/POSTAG/CAP arrays (S2, utils.py:727-776).

Scale notes:
  * everything is one narrow mapInPandas pass — no shuffle;
  * the wide ``html`` column is never referenced downstream, so Catalyst
    prunes it from every later scan;
  * the language filter is a pushed-down parquet predicate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from scikg_spark.core.parsing import parse_annotated
from scikg_spark.core.textextract import extract_text

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"

STATEMENTS_SCHEMA = (
    "url string, doc_id string, stmt_id int, "
    "words array<string>, postags array<string>, caps array<string>"
)
STATEMENTS_COLS = ["url", "doc_id", "stmt_id", "words", "postags", "caps"]


def build_pages_from_documents(documents: DataFrame, lang: str | None = None) -> DataFrame:
    """Re-dress the driver's ``documents`` table as a deterministic pages
    corpus (synthesis happens executor-side, scales with partitions)."""
    from scikg_spark.core.synth import page_from_tokens

    cols = documents.select("doc_id", "text", "lang")
    if lang is not None:
        cols = cols.filter(F.col("lang") == lang)

    def gen(batches):
        for pdf in batches:
            rows = []
            for doc_id, text, lang_ in zip(pdf["doc_id"], pdf["text"], pdf["lang"]):
                rows.append(page_from_tokens(str(doc_id), str(text).split(), lang_))
            if rows:  # empty pandas frames degrade list columns to float64
                yield pd.DataFrame(
                    rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return cols.mapInPandas(gen, schema=PAGES_SCHEMA)


def build_fetch_log(documents: DataFrame) -> DataFrame:
    """The synthetic crawl's FETCH LOG: one row per (raw url, doc) fetch —
    the table a Common-Crawl-style URL-dedup stage actually scans (the same
    page appears under scheme / case / www. / tracking / fragment / slash
    variants across crawl snapshots; the pages table keys on the canonical
    form). Pure JVM string construction (no Python), kept row-for-row equal
    to :func:`scikg_spark.core.synth.fetch_urls_for` by a pinning test.
    Schema: (url string, doc_id)."""
    base = F.concat(F.lit("https://example.org/doc/"),
                    F.col("doc_id").cast("string"))
    variants = F.array(
        base,
        F.concat(F.lit("http://EXAMPLE.org/doc/"),
                 F.col("doc_id").cast("string"), F.lit("/")),
        F.concat(F.lit("https://www.example.org/doc/"),
                 F.col("doc_id").cast("string"), F.lit("?utm_source=feed")),
        F.concat(base, F.lit("#section-2")),
    )
    return documents.select(
        F.explode(variants).alias("url"), "doc_id")


def _page_statements(url, html):
    """One page -> ``(doc_id, stmt_id, words, postags, caps)`` per text line
    that parses as an annotated statement; stmt_id is the 1-based line."""
    doc_id = url.rsplit("/", 1)[-1]
    for i, line in enumerate(extract_text(html).split("\n")):
        if not line:
            continue
        try:
            words, postags, caps = parse_annotated(line, lower=False)
        except (ValueError, AssertionError):
            continue  # non-statement line (e.g. page title/boilerplate)
        yield doc_id, i + 1, words, postags, caps


def statements_frame(pages_pdf: pd.DataFrame) -> pd.DataFrame:
    """A pandas batch of ``(url, html)`` pages -> its statements batch."""
    return pd.DataFrame(
        [(url, *stmt) for url, html in zip(pages_pdf["url"], pages_pdf["html"])
         for stmt in _page_statements(url, html)],
        columns=STATEMENTS_COLS)


def extract_statements(pages: DataFrame, lang: str | None = "en") -> DataFrame:
    """pages -> one row per statement with aligned token arrays."""
    if lang is not None:
        pages = pages.filter(F.col("lang") == lang)

    def gen(batches):
        for pdf in batches:
            out = statements_frame(pdf)
            if len(out):
                yield out

    return pages.select("url", "html").mapInPandas(
        gen, schema=STATEMENTS_SCHEMA)


def verify_extraction(pages: DataFrame) -> int:
    """Row-for-row stage-1 invariant: Spark-side ``extract_text(html)`` must
    byte-equal the oracle ``text`` column. Returns the number of violating
    rows (gate: 0)."""
    src = pages.select("url", "html", "text")

    def gen(batches):
        for pdf in batches:
            bad = [
                url
                for url, html, text in zip(pdf["url"], pdf["html"], pdf["text"])
                if extract_text(html) != text
            ]
            yield pd.DataFrame({"url": bad})

    return src.mapInPandas(gen, schema="url string").count()
