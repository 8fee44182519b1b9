"""Chunking stage: docs → chunks (Arrow-batched, shuffle-free).

Wraps the deterministic chunker ``extractor.chunking.chunk_document``
(W1-W6 semantics — budget 512, window 8192/overlap 256, single-sentence
merge, span offsets) in mapInPandas. One input row (a whole document)
expands to N chunk rows inside the same task — order-dependent folds stay
within a doc, docs are never split across tasks (SURVEY §7 hard part 2).

Replaces: lora_chunking_container/app/lora_chunking_api.py:270-403
(the per-document semantic_chunking + merge + window loop).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

CHUNKS_SCHEMA = (
    "doc_id long, url string, warc_ts timestamp, chunk_id string, "
    "chunk_order int, content string, lang string, span_start long, "
    "span_end long, n_tokens int, n_sentences int"
)


CHUNK_COLUMNS = ("doc_id", "url", "warc_ts", "chunk_id", "chunk_order",
                 "content", "lang", "span_start", "span_end", "n_tokens",
                 "n_sentences")


def chunk_rows(doc_id, url, warc_ts, text, lang) -> list[dict]:
    """One document's chunk rows (CHUNK_COLUMNS); none for empty text.
    Shared by chunk_docs and the extraction job's fused pass (job.py)."""
    from ..extractor.chunking import chunk_document
    if not text:
        return []
    return [{
        "doc_id": doc_id,
        "url": url,
        "warc_ts": warc_ts,
        "chunk_id": c["chunk_id"],
        "chunk_order": c["chunk_order"],
        "content": c["content"],
        "lang": lang,
        "span_start": c["span_start"],
        "span_end": c["span_end"],
        "n_tokens": c["n_tokens"],
        "n_sentences": c["n_sentences"],
    } for c in chunk_document(str(doc_id), text)]


def _chunk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [r for doc in zip(pdf["doc_id"], pdf["url"], pdf["warc_ts"],
                                 pdf["text"], pdf["lang"])
                for r in chunk_rows(*doc)]
        yield pd.DataFrame(rows, columns=CHUNK_COLUMNS)


def chunk_docs(docs: DataFrame) -> DataFrame:
    """docs → chunks; empty-text docs produce no chunks (F12 guard)."""
    return (
        docs
        .select("doc_id", "url", "warc_ts", "text", "lang")
        .mapInPandas(_chunk_batches, schema=CHUNKS_SCHEMA)
    )


__all__ = ["chunk_docs", "chunk_rows", "CHUNKS_SCHEMA", "CHUNK_COLUMNS"]
