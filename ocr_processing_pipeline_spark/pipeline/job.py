"""End-to-end extraction job: pages → docs + chunks + edges + checkpoint.

Partitioning strategy (north rule: explicit skew handling + url-hash
partitioning + AQE):

- The corpus is host-skewed (one host ≈ 50% of rows, FIXTURES.md §1), so
  the job never partitions on host. Its unit is the **url-hash bucket**
  ``pmod(xxhash64(url), n_buckets)``: xxhash64 of distinct urls is about
  uniform, so buckets hold about equal page counts whatever the host
  skew, and the bucket is also the resumability commit unit (lineage.py).
- The one shuffle is ``repartition(n, "bucket")``, and it is NOT
  bucket-aligned: Spark re-hashes the bucket ids with Murmur3, so
  several buckets can share a partition while others stay empty (bench
  corpus, seed 1, 8 buckets: 551 / 375 / 210 / 187 / 177 / 0 / 0 / 0
  rows per partition). Empty partitions still start a Python task.
  Per-doc cost skew (a giant page) is bounded by the Arrow batch cap
  (session.py) and the oversized-page gate (extract.py).
- After that shuffle, ONE Python pass (mapInPandas) runs extract → chunk
  → link per page and returns the docs row with its chunks and edges as
  arrays: one Python task per partition per job. The pass is
  materialized once (localCheckpoint, docs/serving.md), and the docs,
  chunks and edges writes and the checkpoint rows all read it.
- Gazetteers are broadcast (J1) — no shuffle for the linking "join".

``main`` is the job's one CLI. Run it as a module:

    python -m ocr_processing_pipeline_spark.pipeline.job \
        --pages .../pages.parquet --gazetteers-dir ... --out ... \
        [--n-buckets N] [--no-resume] [--max-page-bytes B] [--cpus N]

or through spark-submit, which runs a driver FILE: tools/submit_job.py
calls ``main`` with the same flags, and tools/package_pyfiles.py builds
the zip for --py-files.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import chunk as chunk_mod
from . import extract as extract_mod
from . import lineage
from . import ner as ner_mod

DEFAULT_N_BUCKETS = 64

# One page's row out of the job's Python pass: the docs fields, plus the
# page's chunk rows and edge rows as arrays of the stage schemas.
PASS_SCHEMA = (f"{extract_mod.DOCS_UDF_SCHEMA}, "
               f"chunks array<struct<{chunk_mod.CHUNKS_SCHEMA}>>, "
               f"edges array<struct<{ner_mod.EDGES_SCHEMA}>>")


def extract_chunk_link(
        todo: DataFrame, gaz_bc, n_partitions: int,
        max_page_bytes: int | None = extract_mod.DEFAULT_MAX_PAGE_BYTES
) -> DataFrame:
    """Bucketed pages → one PASS_SCHEMA row per page: the repartition to
    ``n_partitions`` on bucket, then one mapInPandas that runs the
    per-batch bodies of extract_docs → chunk_docs → link_entities
    (extract_columns, chunk_rows, link_rows) on each page."""
    def run(batches):
        idx, memo = ner_mod._get_index_and_memo(gaz_bc)
        for pdf in batches:
            docs = extract_mod.extract_columns(pdf["html"], pdf["text"],
                                               pdf["_oversized"])
            chunks = [chunk_mod.chunk_rows(*doc) for doc in zip(
                pdf["doc_id"], pdf["url"], pdf["warc_ts"], docs["text"],
                pdf["lang"])]
            edges = [[e for c in doc_chunks
                      for e in ner_mod.link_rows(
                          idx, memo, c["doc_id"], c["url"], c["chunk_id"],
                          c["content"], c["warc_ts"])]
                     for doc_chunks in chunks]
            yield pd.DataFrame({
                "url": pdf["url"], "warc_ts": pdf["warc_ts"],
                "lang": pdf["lang"], **docs,
                "chunks": chunks, "edges": edges})

    pages = todo.repartition(n_partitions, "bucket")
    return (extract_mod.gate_pages(pages, max_page_bytes)
            .withColumn("doc_id", F.xxhash64("url"))   # chunk ids embed it
            .mapInPandas(run, schema=PASS_SCHEMA))


def _ensure_meta(out_dir: str, meta_path: str, n_buckets: int) -> None:
    """Record the n_buckets contract once, BEFORE any checkpoint state
    or data write lands under out_dir (both write sites share this so
    the ordering invariant can't drift between them)."""
    if not os.path.exists(meta_path):
        os.makedirs(out_dir, exist_ok=True)
        with open(meta_path, "w") as fh:
            json.dump({"n_buckets": n_buckets}, fh)


def run_pipeline(spark: SparkSession, pages_path: str, gazetteers_dir: str,
                 out_dir: str, n_buckets: int = DEFAULT_N_BUCKETS,
                 resume: bool = True,
                 max_page_bytes: int | None =
                 extract_mod.DEFAULT_MAX_PAGE_BYTES) -> dict:
    """Run (or resume) the full pipeline; returns per-table row counts.

    ``max_page_bytes`` is extract_docs' quarantine threshold; None
    disables the gate."""
    checkpoint_path = os.path.join(out_dir, "checkpoint")
    meta_path = os.path.join(out_dir, "checkpoint_meta.json")

    # n_buckets contract: every committed bucket id and the all-committed
    # check below are defined RELATIVE to the n_buckets the checkpoint
    # was written with. Resuming with a different value silently
    # re-buckets the url space — committed ids no longer mean what the
    # anti-join assumes (e.g. old 32 → new 128 would reprocess already-
    # committed pages into different bucket partitions: duplicates). A
    # mismatch must fail loudly, never mis-decide.
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta.get("n_buckets") != n_buckets:
            raise ValueError(
                f"checkpoint at {out_dir} was written with n_buckets="
                f"{meta.get('n_buckets')}; resume invoked with "
                f"n_buckets={n_buckets}. Bucket ids are not comparable "
                "across bucket counts — rerun with the original value "
                "(or start a fresh out dir).")

    # all-committed fast path: commits are BUCKET-level, so when every
    # bucket id is already in the checkpoint the anti-join below is empty
    # by construction — detect that from the tiny checkpoint table alone
    # (O(n_buckets) rows) BEFORE even opening the input (reading the
    # pages path would list and footer-read every shard). A 100 TB no-op
    # resume must not touch the 100 TB. (Empty buckets carry sentinel
    # rows — see empty_bucket_sentinels — so the check also closes for
    # corpora that leave buckets empty.)
    prior_done: set[int] = set()
    if resume and lineage._exists(checkpoint_path):
        prior_done = {r.bucket for r in lineage.committed_buckets(
            spark, checkpoint_path, "docs").collect()}
        if prior_done >= set(range(n_buckets)):
            return {"docs": 0, "chunks": 0, "edges": 0, "checkpoint": 0,
                    "skipped": "nothing to do (all buckets committed)"}

    pages = spark.read.parquet(pages_path)
    todo = (lineage.remaining_pages(spark, pages, checkpoint_path, "docs",
                                    n_buckets)
            if resume else lineage.with_bucket(pages, n_buckets))

    # buckets touched by THIS run. Fresh run (no checkpoint): all buckets
    # by construction — skip the discovery scan entirely.
    if resume and not lineage._exists(checkpoint_path):
        run_buckets = list(range(n_buckets))
    else:
        run_buckets = [r.bucket for r in
                       todo.select("bucket").distinct().collect()]
    if not run_buckets:
        # todo is EMPTY, so every bucket not yet committed has zero
        # remaining pages — commit its sentinel now, or the no-op fast
        # path above can never close (e.g. resuming over a checkpoint
        # whose non-empty buckets are all committed but whose empty
        # buckets predate sentinel rows). With resume=True, prior_done
        # already IS the committed set (read moments ago, nothing
        # written since); only a resume=False run (which skipped that
        # read) must fetch it here — range - {} would otherwise stack
        # full-range 'empty' sentinels onto buckets that hold real
        # committed rows.
        committed = prior_done
        if not resume and lineage._exists(checkpoint_path):
            committed = {r.bucket for r in lineage.committed_buckets(
                spark, checkpoint_path, "docs").collect()}
        missing = sorted(set(range(n_buckets)) - committed)
        if missing:
            # sentinels are checkpoint state too — the n_buckets
            # contract must land first (same invariant as below)
            _ensure_meta(out_dir, meta_path, n_buckets)
            lineage.append_checkpoint(
                lineage.empty_bucket_sentinels(spark, missing, "docs"),
                checkpoint_path)
        return {"docs": 0, "chunks": 0, "edges": 0, "checkpoint": 0,
                "skipped": "nothing to do (all buckets committed)"}

    # record the n_buckets contract BEFORE the first data write: docs
    # parquet lands before the checkpoint rows, so a crash mid-run must
    # already leave the meta guard in place — otherwise a later resume
    # with a different n_buckets would pass the check above and
    # re-bucket a half-written output.
    _ensure_meta(out_dir, meta_path, n_buckets)

    gaz_bc = ner_mod.load_gazetteers(
        spark,
        os.path.join(gazetteers_dir, "persons.parquet"),
        os.path.join(gazetteers_dir, "places.parquet"),
        os.path.join(gazetteers_dir, "orgs.parquet"))

    # The job's one shuffle and one Python pass, materialized once
    # (docs/serving.md batch rule): the three writes and the checkpoint
    # rows below all read it, so the pass runs exactly once per job.
    fused = extract_chunk_link(todo, gaz_bc,
                               min(n_buckets, len(run_buckets)),
                               max_page_bytes).localCheckpoint(eager=False)
    docs = lineage.with_bucket(extract_mod.docs_projection(fused), n_buckets)
    docs_path = os.path.join(out_dir, "docs")
    chunks_path = os.path.join(out_dir, "chunks")
    edges_path = os.path.join(out_dir, "edges")
    lineage.write_partitioned(docs, docs_path)
    lineage.write_partitioned(
        lineage.with_bucket(fused.select(F.inline("chunks")), n_buckets),
        chunks_path)
    lineage.write_partitioned(
        lineage.with_bucket(fused.select(F.inline("edges")), n_buckets),
        edges_path)

    # lineage/metrics rows LAST (commit point) — crash before this line ⇒
    # buckets get reprocessed and dynamically overwritten next run. This
    # run exhausted the todo set, so any bucket neither previously
    # committed nor producing rows now has ZERO pages — commit sentinels
    # so the no-op fast path closes over them. The rows are evaluated
    # once (localCheckpoint): the bucket probe and the append read them.
    ckpt = (lineage.checkpoint_rows_with_failures(docs, "docs")
            .localCheckpoint())
    have = {r.bucket for r in ckpt.select("bucket").collect()}
    empty = sorted(set(range(n_buckets)) - prior_done - have)
    if empty:
        ckpt = ckpt.unionByName(
            lineage.empty_bucket_sentinels(spark, empty, "docs"))
    lineage.append_checkpoint(ckpt, checkpoint_path)

    return {
        "docs": spark.read.parquet(docs_path).count(),
        "chunks": spark.read.parquet(chunks_path).count(),
        "edges": spark.read.parquet(edges_path).count(),
        "checkpoint": spark.read.parquet(checkpoint_path).count(),
    }


def main(argv=None):
    from ..session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--gazetteers-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--n-buckets", type=int, default=DEFAULT_N_BUCKETS)
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    def _page_bytes(s: str) -> int | None:
        v = int(s)
        if v < 0:
            # a typo'd negative must error, not silently disable the gate
            raise argparse.ArgumentTypeError(
                "--max-page-bytes must be >= 0 (0 disables the gate)")
        return v or None

    ap.add_argument("--max-page-bytes", type=_page_bytes,
                    default=extract_mod.DEFAULT_MAX_PAGE_BYTES,
                    help="quarantine pages whose html or text exceeds "
                         "this many bytes (failure_code=OVERSIZED_INPUT). "
                         "Omit for the 100 MiB default; pass 0 to disable "
                         "the gate entirely (negative values are rejected)")
    args = ap.parse_args(argv)

    spark = get_spark("extraction_job", cpus=args.cpus)
    t0 = time.time()
    counts = run_pipeline(spark, args.pages, args.gazetteers_dir, args.out,
                          n_buckets=args.n_buckets,
                          resume=not args.no_resume,
                          max_page_bytes=args.max_page_bytes)
    elapsed = time.time() - t0
    print(json.dumps({"elapsed_sec": round(elapsed, 2), **counts}))


if __name__ == "__main__":
    main()
