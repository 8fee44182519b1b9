"""Resumability: partial commit → resume → no duplicates, full coverage.

Replaces the reference's processed_documents.txt semantics
(entity_extractor/apertus_ner/orchestrator.py:38-43) with the checkpoint
anti-join — SURVEY §5.2 test 5.
"""

import os

from pyspark.sql import functions as F

from ocr_processing_pipeline_spark.pipeline.job import run_pipeline

N_BUCKETS = 8


def _keep_checkpoint_rows(spark, out, cond):
    """Rewrite out/checkpoint keeping only the rows matching ``cond`` —
    the state a run leaves when it dies between its data writes and the
    commit of the dropped rows."""
    import shutil
    path, tmp = os.path.join(out, "checkpoint"), os.path.join(out, "_ckpt")
    spark.read.parquet(path).filter(cond).write.parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


def _part_files(out, buckets):
    """{(table, bucket, file name): mtime_ns} of the data part files."""
    files = {}
    for table in ("docs", "chunks", "edges"):
        for b in buckets:
            d = os.path.join(out, table, f"bucket={b}")
            for f in (os.listdir(d) if os.path.isdir(d) else []):
                if f.endswith(".parquet"):
                    files[table, b, f] = os.stat(
                        os.path.join(d, f)).st_mtime_ns
    return files


def test_partial_then_resume(spark, corpus_dir, tmp_path):
    out = str(tmp_path / "out")
    pages_path = f"{corpus_dir}/pages.parquet"
    n_pages = spark.read.parquet(pages_path).count()

    # run 1 writes every bucket; then simulate a kill between the data
    # write and the checkpoint commit for all but 3 buckets: their data
    # stays on disk, their checkpoint rows are gone
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS)
    committed = sorted(r.bucket for r in
                       spark.read.parquet(f"{out}/checkpoint")
                       .filter("row_count > 0").collect())[:3]
    uncommitted = sorted(set(range(N_BUCKETS)) - set(committed))
    _keep_checkpoint_rows(spark, out, F.col("bucket").isin(committed))
    kept = _part_files(out, committed)
    stale = _part_files(out, uncommitted)
    assert kept and stale

    # run 2: resume — must rewrite ONLY the uncommitted buckets
    c2 = run_pipeline(spark, pages_path, corpus_dir, out,
                      n_buckets=N_BUCKETS)
    assert c2["docs"] == n_pages
    assert c2["checkpoint"] == N_BUCKETS
    assert _part_files(out, committed) == kept
    assert not set(_part_files(out, uncommitted)) & set(stale)

    docs = spark.read.parquet(os.path.join(out, "docs"))
    # no duplicates, full coverage
    assert docs.count() == n_pages
    assert docs.select("url").distinct().count() == n_pages

    # run 3: everything committed → no-op
    c3 = run_pipeline(spark, pages_path, corpus_dir, out,
                      n_buckets=N_BUCKETS)
    assert c3["docs"] == 0 and "skipped" in c3
    # and the stored tables are untouched
    assert spark.read.parquet(os.path.join(out, "docs")).count() == n_pages


def test_idempotent_rerun_no_resume(spark, corpus_dir, tmp_path):
    """Force-reprocessing everything must not duplicate rows (dynamic
    partition overwrite) — idempotent re-append guard, SURVEY §7.6."""
    out = str(tmp_path / "out2")
    pages_path = f"{corpus_dir}/pages.parquet"
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS)
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS,
                 resume=False)
    docs = spark.read.parquet(os.path.join(out, "docs"))
    n_pages = spark.read.parquet(pages_path).count()
    assert docs.count() == n_pages
    assert docs.groupBy("url").count().filter(F.col("count") > 1).count() == 0


def test_resume_rejects_mismatched_n_buckets(spark, corpus_dir, tmp_path):
    """Bucket ids are defined relative to n_buckets: resuming with a
    different value re-buckets the url space and the committed-bucket
    anti-join would silently reprocess (or skip) the wrong pages. The
    contract is recorded in checkpoint_meta.json at first commit; a
    mismatched resume must fail loudly, never mis-decide."""
    import pytest
    out = str(tmp_path / "out_mismatch")
    pages_path = f"{corpus_dir}/pages.parquet"
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS)
    with pytest.raises(ValueError, match="n_buckets"):
        run_pipeline(spark, pages_path, corpus_dir, out,
                     n_buckets=N_BUCKETS * 2)
    # the original value still resumes cleanly (no-op)
    c = run_pipeline(spark, pages_path, corpus_dir, out,
                     n_buckets=N_BUCKETS)
    assert "skipped" in c


def test_noop_fast_path_with_empty_buckets(spark, corpus_dir, tmp_path):
    """A corpus that leaves buckets EMPTY (fewer urls than buckets) must
    still close the all-committed fast path: empty buckets get sentinel
    checkpoint rows at completion, so the no-op resume decides from the
    checkpoint alone — proven by handing it a nonexistent input path."""
    small = str(tmp_path / "small_pages.parquet")
    (spark.read.parquet(f"{corpus_dir}/pages.parquet").limit(10)
     .write.parquet(small))
    out = str(tmp_path / "out_empty")
    n_buckets = 32           # 10 urls -> >= 22 empty buckets
    c1 = run_pipeline(spark, small, corpus_dir, out, n_buckets=n_buckets)
    assert c1["checkpoint"] == n_buckets   # sentinels included
    c2 = run_pipeline(spark, str(tmp_path / "does_not_exist.parquet"),
                      corpus_dir, out, n_buckets=n_buckets)
    assert c2["docs"] == 0 and "skipped" in c2


def test_empty_todo_resume_backfills_sentinels(spark, corpus_dir, tmp_path):
    """A checkpoint whose non-empty buckets are all committed but whose
    empty buckets carry no sentinel rows must be healed by the next full
    resume: it finds todo empty, commits the missing sentinels, and the
    no-op fast path closes from then on."""
    small = str(tmp_path / "small_pages2.parquet")
    (spark.read.parquet(f"{corpus_dir}/pages.parquet").limit(10)
     .write.parquet(small))
    out = str(tmp_path / "out_backfill")
    n_buckets = 32
    # a full run's checkpoint without its empty-bucket sentinel rows
    run_pipeline(spark, small, corpus_dir, out, n_buckets=n_buckets)
    _keep_checkpoint_rows(spark, out, F.col("row_count") > 0)
    n_rows = spark.read.parquet(f"{out}/checkpoint").count()
    assert 0 < n_rows < n_buckets
    # full resume: todo is empty -> backfills the empty-bucket sentinels
    c2 = run_pipeline(spark, small, corpus_dir, out, n_buckets=n_buckets)
    assert "skipped" in c2
    ckpt = spark.read.parquet(f"{out}/checkpoint")
    assert ckpt.select("bucket").distinct().count() == n_buckets
    # and now the no-op fast path never opens the input
    c3 = run_pipeline(spark, str(tmp_path / "nope.parquet"),
                      corpus_dir, out, n_buckets=n_buckets)
    assert "skipped" in c3


def test_noop_resume_never_touches_input(spark, corpus_dir, tmp_path):
    """Once every bucket is committed, resume must decide 'nothing to do'
    from the checkpoint table ALONE — at 100 TB a no-op restart cannot
    afford to list/scan the corpus. Proven by handing the resumed run a
    nonexistent pages path: it must still return the skip marker."""
    out = str(tmp_path / "out")
    pages_path = f"{corpus_dir}/pages.parquet"
    run_pipeline(spark, pages_path, corpus_dir, out, n_buckets=N_BUCKETS)
    c = run_pipeline(spark, str(tmp_path / "does_not_exist.parquet"),
                     corpus_dir, out, n_buckets=N_BUCKETS)
    assert c["docs"] == 0 and "skipped" in c


def test_checkpoint_row_sources_share_schema(spark, corpus_dir):
    """run_pipeline unions the per-bucket rows with the empty-bucket
    sentinels by name before one append: both sources must carry exactly
    CHECKPOINT_SCHEMA (names and types, nullability aside)."""
    from ocr_processing_pipeline_spark.pipeline import lineage
    from ocr_processing_pipeline_spark.pipeline.extract import extract_docs

    def fields(df):
        return [(f.name, f.dataType.simpleString()) for f in df.schema]

    expected = fields(spark.createDataFrame([], lineage.CHECKPOINT_SCHEMA))
    docs = lineage.with_bucket(
        extract_docs(spark.read.parquet(f"{corpus_dir}/pages.parquet")),
        N_BUCKETS)
    assert fields(lineage.checkpoint_rows_with_failures(docs, "docs")) \
        == expected
    assert fields(lineage.empty_bucket_sentinels(spark, [0, 3], "docs")) \
        == expected
