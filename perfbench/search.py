"""The search layer (``operators.search``), measured in the ingest traced
run over the docs/chunks/edges tables its job just wrote. Every request
reads the tables from their parquet files, so the file and partition
layout the job wrote is what is read.

Requests (gen.search_requests): ``bm25_topk`` on docs, ``layered_topk``
from docs to fixed chunk windows, and an entity lookup (edges filtered
by object, semi-joined to chunks). Each request runs once to record its
top-k and compile its plans, then once under a span; the traced response
must equal the recorded one.
"""

from __future__ import annotations

import os
import statistics
import sys

from pyspark.sql import functions as F

import gen
from ocr_processing_pipeline_spark.operators.search import (bm25_topk,
                                                             layered_topk)
from tracing import tree_files

K = 10
KINDS = ("bm25", "layered", "entity")
READS = {"bm25": ("docs",), "layered": ("docs",),
         "entity": ("edges", "chunks")}


def respond(spark, tables: str, req: dict) -> list[tuple]:
    """One request, answered through the package's public operators."""
    def table(name):
        return spark.read.parquet(os.path.join(tables, name))

    if req["kind"] == "bm25":
        df = bm25_topk(table("docs"), "text", "doc_id", req["terms"], k=K)
    elif req["kind"] == "layered":
        df = layered_topk(table("docs"), "text", "doc_id", req["terms"], k=K)
    else:
        hits = (table("edges").filter(F.col("object") == req["object"])
                .select("chunk_id"))
        df = (table("chunks").join(hits, "chunk_id", "left_semi")
              .select("chunk_id", "doc_id", "chunk_order")
              .orderBy("chunk_id").limit(K))
    return [tuple(r) for r in df.collect()]


def replay(ctx, tables: str, corpus_dir: str, tracer):
    """(per-layer values, failures)."""
    texts = gen.read_rows(os.path.join(tables, "docs"), ["text"])
    requests = gen.search_requests(
        ctx.seed, gen.corpus_vocabulary(r["text"] for r in texts),
        gen.gazetteer_urls(corpus_dir))
    expected = [respond(ctx.spark, tables, r) for r in requests]
    spans, bad = [], 0
    with tracer.span("search"):
        for req, want in zip(requests, expected):
            with tracer.span(f"search.{req['kind']}") as s:
                got = respond(ctx.spark, tables, req)
            spans.append((req["kind"], s))
            if got != want:
                bad += 1
                print(f"search {req}: {got} != {want}", file=sys.stderr)
    files = {t: tree_files(os.path.join(tables, t))[0]
             for t in ("docs", "chunks", "edges")}
    med = statistics.median
    values = {f"search.{k}_ms": med(tracer.wall(s) * 1000
                                    for kind, s in spans if kind == k)
              for k in KINDS}
    values.update({
        "search.jobs_per_query": med(s["counts"]["spark_jobs"]
                                     for _, s in spans),
        "search.tasks_per_query": med(s["counts"]["tasks"] for _, s in spans),
        "search.files_scanned": med(sum(files[t] for t in READS[k])
                                    for k, _ in spans),
    })
    return values, bad
