"""End-to-end pipeline: chunks + edges over the corpus, vs the oracle."""

import glob
import os

import pandas as pd
import pyarrow.parquet as pq

from ocr_processing_pipeline_spark.extractor.chunking import chunk_document
from ocr_processing_pipeline_spark.extractor.core import extract_page
from ocr_processing_pipeline_spark.pipeline import lineage
from ocr_processing_pipeline_spark.pipeline.chunk import chunk_docs
from ocr_processing_pipeline_spark.pipeline.extract import extract_docs
from ocr_processing_pipeline_spark.pipeline.ner import (
    extract_mentions, link_entities, load_gazetteers)


def test_chunks_match_oracle(spark, corpus_dir, corpus_rows):
    rows, _ = corpus_rows
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    docs = extract_docs(pages)
    got = chunk_docs(docs).toPandas()

    # oracle: same functions single-threaded, keyed by url
    doc_ids = {r["url"]: r["doc_id"] for r in
               docs.select("url", "doc_id").collect()}
    expected_counts = {}
    for r in rows:
        res = extract_page(r["html"], r["text"])
        if res.text:
            cs = chunk_document(str(doc_ids[r["url"]]), res.text)
            if cs:
                expected_counts[r["url"]] = len(cs)

    got_counts = got.groupby("url")["chunk_id"].count().to_dict()
    assert got_counts == expected_counts

    # invariants (FIXTURES.md §3): gapless order, monotone in-bounds spans,
    # budget ≤ 512, chunk_id format
    for url, grp in got.groupby("url"):
        grp = grp.sort_values("chunk_order")
        assert list(grp["chunk_order"]) == list(range(len(grp)))
        assert (grp["n_tokens"] <= 512).all()
        assert (grp["span_start"] < grp["span_end"]).all()
        assert (grp["span_start"].values[1:]
                >= grp["span_end"].values[:-1]).all()
        assert (grp["chunk_id"] ==
                grp["doc_id"].astype(str) + "/" +
                grp["chunk_order"].astype(str)).all()


def test_ner_stage(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    docs = extract_docs(pages)
    chunks = chunk_docs(docs)
    gaz_bc = load_gazetteers(spark,
                             f"{corpus_dir}/persons.parquet",
                             f"{corpus_dir}/places.parquet",
                             f"{corpus_dir}/orgs.parquet")
    mentions = extract_mentions(chunks, gaz_bc).toPandas()
    assert len(mentions) > 0
    assert set(mentions["entity_type"]) <= {"PER", "LOC", "ORG"}

    edges = link_entities(chunks, gaz_bc).toPandas()
    assert len(edges) > 0
    assert set(edges["predicate"]) <= {"hasSubject", "hasPlace"}
    assert (edges["fuzzy_score"] >= 85).all()
    # URL-prefix guards (F11)
    ok_prefix = (
        edges["object"].str.startswith("http://hls-dhs-dss.ch/")
        | edges["object"].str.startswith("https://ld.admin.ch/")
        | edges["object"].str.startswith("https://culture.ld.admin.ch/"))
    assert ok_prefix.all()
    # mention spans point into chunk content
    chunk_content = {r["chunk_id"]: r["content"]
                     for r in chunks.select("chunk_id", "content").collect()}
    for _, e in edges.head(50).iterrows():
        c = chunk_content[e["chunk_id"]]
        assert c[e["span_start"]:e["span_end"]] == e["mention"]


def test_job_matches_public_stage_chain(spark, corpus_dir, tmp_path):
    """run_pipeline's one fused Python pass must write, row for row and
    with the same parquet schema (nullability included), what the public
    operators extract_docs → chunk_docs → link_entities produce over the
    same pages — the fused path and the operators share their per-row
    bodies and must not drift. extract_us is a wall time, never equal."""
    from ocr_processing_pipeline_spark.pipeline.job import run_pipeline
    n_buckets = 4
    job_out, chain_out = str(tmp_path / "job"), str(tmp_path / "chain")
    run_pipeline(spark, f"{corpus_dir}/pages.parquet", corpus_dir, job_out,
                 n_buckets=n_buckets)

    gaz_bc = load_gazetteers(spark,
                             f"{corpus_dir}/persons.parquet",
                             f"{corpus_dir}/places.parquet",
                             f"{corpus_dir}/orgs.parquet")
    docs = extract_docs(spark.read.parquet(f"{corpus_dir}/pages.parquet"))
    chunks = chunk_docs(docs)
    chain = {"docs": docs, "chunks": chunks,
             "edges": link_entities(chunks, gaz_bc)}
    for table, df in chain.items():
        lineage.write_partitioned(lineage.with_bucket(df, n_buckets),
                                  os.path.join(chain_out, table))

    def schemas(root):
        return {str(pq.read_schema(f).remove_metadata())
                for f in glob.glob(f"{root}/*/*.parquet")}

    for table in chain:
        got = spark.read.parquet(os.path.join(job_out, table))
        want = spark.read.parquet(os.path.join(chain_out, table))
        cols = [c for c in want.columns if c != "extract_us"]
        assert got.columns == want.columns, table
        got, want = got.select(cols), want.select(cols)
        assert got.count() == want.count() > 0, table
        assert got.exceptAll(want).count() == 0, table
        assert want.exceptAll(got).count() == 0, table

        job_schemas = schemas(os.path.join(job_out, table))
        assert job_schemas, table
        assert job_schemas == schemas(os.path.join(chain_out, table)), table
