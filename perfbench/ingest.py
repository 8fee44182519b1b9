"""ingest: ``pipeline.job.run_pipeline`` over a seeded pages corpus, each
job into a fresh out dir (resume on, so a second call is the no-op
resume). One operation = one whole job, writes and checkpoint commit
included. Set-up runs two jobs over the same corpus first, so the timed
jobs find the Python workers started, their NER memo filled and the
job's plans compiled.

Sizing: 1,500 pages written in 32 shards, shaped like the sf0.1 corpus
(one host ≈50%, 3% PDF, ≈1% malformed), and ``2 × nproc`` buckets. A job
then takes a few seconds, so several fit in one run; at the CLI default
of 64 buckets such a job is dominated by 192 Python tasks.

Checks per job, against the pure-Python ``extractor`` pass that set-up
runs: docs, chunks and edges counts, an md5 over the sorted (url, text)
of the written docs, exactly one checkpoint row per bucket, and a no-op
resume that returns ``skipped``. The traced run also measures the
search layer (search.py) over the tables its job wrote.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time

import pyarrow.parquet as pq

import gen
import search
from common import materialize, noop, timed
from ocr_processing_pipeline_spark.extractor.chunking import chunk_document
from ocr_processing_pipeline_spark.extractor.core import extract_page
from ocr_processing_pipeline_spark.extractor.ner import (GazetteerIndex,
                                                          link_mentions)
from ocr_processing_pipeline_spark.extractor.textproc import (
    detect_lang_tokens, tokenize)
from ocr_processing_pipeline_spark.pipeline import chunk as chunk_mod
from ocr_processing_pipeline_spark.pipeline import extract as extract_mod
from ocr_processing_pipeline_spark.pipeline import lineage
from ocr_processing_pipeline_spark.pipeline import ner as ner_mod
from ocr_processing_pipeline_spark.pipeline.job import run_pipeline
from ocr_processing_pipeline_spark.sources.corpus import write_corpus
from tracing import tree_files

PAGES = 1500
SHARDS = 32
TABLES = ("docs", "chunks", "edges", "checkpoint")


def generate(ctx, out_dir: str) -> dict:
    paths = write_corpus(out_dir, PAGES, seed=ctx.seed, shards=SHARDS)
    paths["dir"] = out_dir
    return paths


def docs_md5(pairs) -> str:
    h = hashlib.md5()
    for url, text in sorted(pairs):
        h.update(url.encode())
        h.update(b"\x00")
        h.update((text or "").encode())
        h.update(b"\x01")
    return h.hexdigest()


def oracle(corpus_dir: str, pages_path: str) -> dict:
    """The pure-Python extractor pass in this one process: what the job
    must write, and the busy time of each extractor function. The extract
    body is what the extract UDF runs per page (extract_page, tokenize,
    language id)."""
    rows = gen.read_rows(pages_path)
    gaz = [gen.read_rows(os.path.join(corpus_dir, f"{n}.parquet"))
           for n in ("persons", "places", "orgs")]
    busy = {"extract_page": 0.0, "chunk_document": 0.0, "ner": 0.0}
    docs, chunks = [], []
    for r in rows:
        t = time.perf_counter()
        html = r["html"]
        res = extract_page(bytes(html) if html is not None else None,
                           r["text"])
        detect_lang_tokens(tokenize(res.text))
        busy["extract_page"] += time.perf_counter() - t
        docs.append((r["url"], res.text))
        if res.text:
            t = time.perf_counter()
            chunks += [(c["content"], r["warc_ts"])
                       for c in chunk_document(r["url"], res.text)]
            busy["chunk_document"] += time.perf_counter() - t
    t = time.perf_counter()
    index, memo = GazetteerIndex(*gaz), {}
    n_edges = sum(
        len(link_mentions(index.scan(content), index,
                          ts.date() if ts is not None else None, content,
                          memo=memo))
        for content, ts in chunks)
    busy["ner"] = time.perf_counter() - t
    return {"docs": len(docs), "chunks": len(chunks), "edges": n_edges,
            "md5": docs_md5(docs), "busy": busy}


def prepare(ctx, paths: dict) -> dict:
    """Expected outputs, then two jobs over the same corpus to start the
    Python workers, fill their NER memo and compile the job's plans (the
    JIT is still compiling through the second job)."""
    state = {"paths": paths, "nb": 2 * ctx.cores,
             "expect": oracle(paths["dir"], paths["pages"])}
    for i in range(2):
        _job(ctx, state, os.path.join(ctx.work, f"warm{i}"))
    return state


def _job(ctx, state, out: str) -> dict:
    p = state["paths"]
    return run_pipeline(ctx.spark, p["pages"], p["dir"], out,
                        n_buckets=state["nb"])


def check(state, out: str, counts: dict) -> list[str]:
    """Mismatches of one finished job's out dir against the oracle."""
    exp, nb = state["expect"], state["nb"]
    bad = [f"{k}: {counts.get(k)} != {exp[k]}"
           for k in ("docs", "chunks", "edges") if counts.get(k) != exp[k]]
    docs = pq.read_table(os.path.join(out, "docs"), columns=["url", "text"])
    got = docs_md5(zip(docs.column("url").to_pylist(),
                       docs.column("text").to_pylist()))
    if got != exp["md5"]:
        bad.append(f"docs md5 {got} != {exp['md5']}")
    buckets = sorted(pq.read_table(os.path.join(out, "checkpoint"),
                                   columns=["bucket"])
                     .column("bucket").to_pylist())
    if buckets != list(range(nb)):
        bad.append(f"checkpoint rows per bucket: {buckets}")
    return bad


def operation(ctx, state, i: int):
    out = os.path.join(ctx.work, "jobs", f"job{i}")
    dt, counts = timed(_job, ctx, state, out)
    bad = check(state, out, counts)
    if "skipped" not in _job(ctx, state, out):
        bad.append("no-op resume did not skip")
    shutil.rmtree(out)
    for b in bad:
        print(f"ingest job {i}: {b}", file=sys.stderr)
    return dt, PAGES, not bad


def replay(ctx, state, tracer):
    """The job untraced, twice under a span, untraced again (so the
    tracing overhead compares the same run_pipeline call with and without
    a span, and drift between the four jobs cancels); the first traced
    job's no-op resume and the search requests over its tables; then
    run_pipeline's stages one public layer call at a time, each on a
    materialized input."""
    untraced_s, _, ok = operation(ctx, state, 0)
    spark, p, nb = ctx.spark, state["paths"], state["nb"]
    out = os.path.join(ctx.work, "replay-job")
    with tracer.span("job") as job:
        counts = _job(ctx, state, out)
    bad = check(state, out, counts)
    with tracer.span("lineage.noop_resume") as resume:
        if "skipped" not in _job(ctx, state, out):
            bad.append("no-op resume did not skip")
    written = [tree_files(os.path.join(out, t)) for t in TABLES]
    found, search_bad = search.replay(ctx, out, p["dir"], tracer)
    out2 = os.path.join(ctx.work, "replay-job2")
    with tracer.span("job") as job2:
        counts = _job(ctx, state, out2)
    bad += check(state, out2, counts)
    untraced2_s, _, ok2 = operation(ctx, state, 1)

    rp = os.path.join(ctx.work, "replay-stages")
    path = {t: os.path.join(rp, t) for t in TABLES}
    layers = {}
    with tracer.span("stages"):
        pages = spark.read.parquet(p["pages"])
        with tracer.span("lineage.remaining_pages") as s:
            todo = lineage.remaining_pages(spark, pages, path["checkpoint"],
                                           "docs", nb)
            noop(todo)
        layers["lineage.remaining_pages_s"] = s
        todo = materialize(tracer, "todo", todo.repartition(nb, "bucket"))
        with tracer.span("ner.load_gazetteers") as s:
            gaz = ner_mod.load_gazetteers(
                spark, *(os.path.join(p["dir"], f"{n}.parquet")
                         for n in ("persons", "places", "orgs")))
        layers["ner.load_gazetteers_s"] = s

        def stage(name, build, inp, table):
            with tracer.span(name) as s:
                noop(build(inp))
            layers[f"{name}.wall_s"] = s
            out_df = materialize(tracer, table,
                                 lineage.with_bucket(build(inp), nb))
            with tracer.span(f"lineage.write_{table}") as w:
                lineage.write_partitioned(out_df, path[table])
            layers[f"lineage.write_{table}_s"] = w
            return s, out_df.count(), spark.read.parquet(path[table])

        ex, _, docs = stage("extract", extract_mod.extract_docs, todo,
                            "docs")
        ch, n_chunks, chunks = stage("chunk", chunk_mod.chunk_docs, docs,
                                     "chunks")
        ne, n_edges, _ = stage(
            "ner", lambda c: ner_mod.link_entities(c, gaz), chunks, "edges")
        with tracer.span("lineage.checkpoint_commit") as s:
            lineage.append_checkpoint(
                lineage.checkpoint_rows_with_failures(docs, "docs"),
                path["checkpoint"])
        layers["lineage.checkpoint_commit_s"] = s

    wall = tracer.wall
    busy = state["expect"]["busy"]
    exp = state["expect"]
    if (n_chunks, n_edges) != (exp["chunks"], exp["edges"]):
        bad.append(f"replay chunks/edges {n_chunks}/{n_edges}")
    for b in bad:
        print(f"ingest replay: {b}", file=sys.stderr)
    stage_sum = sum(wall(s) for s in layers.values())
    values = {k: wall(s) for k, s in layers.items()}
    values.update({
        "extractor.extract_page.busy_s": busy["extract_page"],
        "extractor.chunk_document.busy_s": busy["chunk_document"],
        "extractor.ner.busy_s": busy["ner"],
        "extractor.docs": exp["docs"],
        "extractor.chunks": exp["chunks"],
        "extractor.edges": exp["edges"],
        "extract.tasks": ex["counts"]["tasks"],
        "extract.overhead_s": (wall(ex)
                               - busy["extract_page"] / ctx.cores),
        "chunk.tasks": ch["counts"]["tasks"],
        "chunk.rows_out": n_chunks,
        "ner.tasks": ne["counts"]["tasks"],
        "ner.edges_out": n_edges,
        "lineage.files_written": sum(n for n, _ in written),
        "lineage.bytes_written": sum(b for _, b in written),
        "lineage.noop_resume_s": wall(resume),
        "job.wall_s": wall(job),
        "job.orchestration_s": wall(job) - stage_sum,
        "job.spark_jobs": job["counts"]["spark_jobs"],
        "job.tasks": job["counts"]["tasks"],
    })
    values.update(found)
    values["trace.overhead_s"] = (wall(job) + wall(job2)
                                  - untraced_s - untraced2_s) / 2
    return values, 4, (not ok) + (not ok2) + len(bad) + search_bad
