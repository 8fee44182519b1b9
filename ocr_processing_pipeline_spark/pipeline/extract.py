"""Extraction stage: pages → docs (mapInPandas over Arrow batches).

The single vectorized UDF stage of the north rule: batched HTML boilerplate
stripping + PDF/layout parsing. The UDF body is a thin loop over the Arrow
batch that calls the deterministic oracle ``extractor.core.extract_page`` —
identical semantics to the single-threaded pytest oracle by construction.

Plan shape (checked by tests/test_plans.py): one shuffle-free stage —
parquet scan (column-pruned) → ArrowEvalPython/MapInPandas → project.
``doc_id = xxhash64(url)`` is computed JVM-side (codegen), not in Python.

Replaces: the reference's per-document HTTP fetch + sequential /process
handler (Data/OCR_data_crawler.py:58-80;
lora_chunking_container/app/lora_chunking_api.py:243-269).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extractor.core import FailureCode, extract_page
from ..extractor.textproc import detect_lang_tokens, tokenize

# Giant-page quarantine (SCALE.md item 2): one outlier page bigger than
# this never enters an Arrow batch — the bytes are nulled out JVM-side
# and the row is emitted with failure_code=OVERSIZED_INPUT, so a single
# pathological crawl record can't blow a python worker at 100×. The
# checkpoint rows' failure histogram records the quarantine count.
DEFAULT_MAX_PAGE_BYTES = 100 * 1024 * 1024

# Spans are emitted as arrays of structs so downstream stages and the parity
# suite can check monotone, in-bounds offsets (FIXTURES.md §3 invariants).
DOCS_UDF_SCHEMA = (
    "url string, warc_ts timestamp, lang string, detected_lang string, "
    "text string, token_length int, failure_code string, "
    "content_kind string, n_blocks_total int, n_blocks_kept int, "
    "extract_us long, "
    "spans array<struct<start:long,end:long>>"
)


# The docs fields the Python side computes per page, in output order.
EXTRACT_FIELDS = ("detected_lang", "text", "token_length", "failure_code",
                  "content_kind", "n_blocks_total", "n_blocks_kept",
                  "extract_us", "spans")

# The docs table's columns, in order.
DOCS_COLUMNS = ("doc_id", "url", "warc_ts", "lang", "detected_lang", "text",
                "token_length", "failure_code", "content_kind",
                "n_blocks_total", "n_blocks_kept", "extract_us", "spans")


def extract_columns(htmls, texts, oversized) -> dict[str, list]:
    """Run the extractor over one Arrow batch of pages; returns the
    EXTRACT_FIELDS as column lists, in input row order. The one loop body
    behind extract_docs and the extraction job's fused pass (job.py)."""
    # per-doc wall time (µs) — the instrumentation the reference got from
    # codecarbon's per-doc tracker (lora_chunking_api.py:250, A7);
    # aggregated into the checkpoint/lineage rows per bucket
    from time import perf_counter_ns
    out = {k: [] for k in EXTRACT_FIELDS}
    for html, pre_text, too_big in zip(htmls, texts, oversized):
        t0 = perf_counter_ns()
        if too_big:
            # bytes were nulled JVM-side; emit the quarantine row
            res = extract_page(None, None)
            res.failure_code = FailureCode.OVERSIZED
            res.content_kind = "quarantined"
        else:
            res = extract_page(
                bytes(html) if html is not None else None, pre_text)
        toks = tokenize(res.text)      # one pass shared by count+langid
        out["text"].append(res.text)
        out["token_length"].append(len(toks))
        out["failure_code"].append(res.failure_code)
        out["content_kind"].append(res.content_kind)
        out["n_blocks_total"].append(res.n_blocks_total)
        out["n_blocks_kept"].append(res.n_blocks_kept)
        out["spans"].append(
            [{"start": s, "end": e} for s, e in res.spans])
        out["detected_lang"].append(detect_lang_tokens(toks))
        out["extract_us"].append((perf_counter_ns() - t0) // 1000)
    return out


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame({
            "url": pdf["url"], "warc_ts": pdf["warc_ts"], "lang": pdf["lang"],
            **extract_columns(pdf["html"], pdf["text"], pdf["_oversized"])})


def gate_pages(pages: DataFrame, max_page_bytes: int | None) -> DataFrame:
    """pages → (url, warc_ts, html, text, lang, _oversized): the five
    input columns the extractor reads, with the payloads of oversized
    pages nulled JVM-side (see extract_docs)."""
    if max_page_bytes is None:
        return (pages
                .select("url", "warc_ts", "html", "text", "lang")
                .withColumn("_oversized", F.lit(False)))
    limit = F.lit(int(max_page_bytes))
    too_big = ((F.coalesce(F.octet_length("html"), F.lit(0)) > limit)
               | (F.coalesce(F.octet_length("text"), F.lit(0)) > limit))
    return pages.select(
        "url", "warc_ts",
        F.when(F.coalesce(too_big, F.lit(False)),
               F.lit(None).cast("binary"))
        .otherwise(F.col("html")).alias("html"),
        F.when(F.coalesce(too_big, F.lit(False)),
               F.lit(None).cast("string"))
        .otherwise(F.col("text")).alias("text"),
        "lang",
        F.coalesce(too_big, F.lit(False)).alias("_oversized"))


def docs_projection(extracted: DataFrame) -> DataFrame:
    """The docs table from a frame holding the url, warc_ts, lang and
    EXTRACT_FIELDS columns: ``doc_id = xxhash64(url)`` is computed
    JVM-side (codegen, and never null), not in Python."""
    return (extracted.withColumn("doc_id", F.xxhash64("url"))
            .select(*DOCS_COLUMNS))


def extract_docs(pages: DataFrame,
                 max_page_bytes: int = DEFAULT_MAX_PAGE_BYTES) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → docs table.

    Column pruning: only the five input columns are read; Catalyst pushes
    the projection into the parquet scan.

    Pages whose html OR pre-text payload exceeds ``max_page_bytes`` are
    quarantined JVM-side (octet_length test in the same projection —
    still one shuffle-free stage): the payloads are replaced by NULL
    before the Arrow transfer and the row comes back with
    failure_code=OVERSIZED_INPUT, empty text. The text column is gated
    too because extract_page's pre_text fallback is a real input path —
    an html-only gate would leave a giant text string a way into the
    Arrow batch. ``max_page_bytes=None`` disables the gate.
    """
    return docs_projection(gate_pages(pages, max_page_bytes)
                           .mapInPandas(_extract_batches,
                                        schema=DOCS_UDF_SCHEMA))


__all__ = ["extract_docs", "gate_pages", "extract_columns",
           "docs_projection", "DOCS_UDF_SCHEMA", "DOCS_COLUMNS",
           "EXTRACT_FIELDS"]
