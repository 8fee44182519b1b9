"""Per-partition lineage, checkpoint table, and anti-join resumability.

Replaces the reference's text-file ledgers — processed_documents.txt
membership skip (entity_extractor/apertus_ner/orchestrator.py:38-43),
missing_files.txt / error_log.txt — with a checkpoint table and a left-anti
join (F9, the resumability core).

Unit of commit: a **bucket** = ``pmod(xxhash64(url), n_buckets)`` — a
deterministic, data-independent range partition of the url space (north
rule: "range-partitioned shuffles on url-hash"). Each run:

1. remaining = pages ⟕anti checkpoint.committed buckets
2. write docs/chunks/edges parquet partitioned by bucket
   (dynamic partition overwrite → a re-run of an uncommitted bucket
   replaces its files: idempotent)
3. append one checkpoint row per bucket: row counts, warc_ts min/max,
   failure-code histogram, committed_at — the lineage + metrics record
   (replaces the codecarbon CSV join of Monitoring/aggregator.py:5-88)

Crash between (2) and (3) leaves data files without a checkpoint row; the
next run reprocesses those buckets and the overwrite removes any partial
output — no duplicates (verified by tests/test_resume.py).

On a cluster this maps 1:1 onto Iceberg: step 2+3 become a single Iceberg
transaction (append + checkpoint rows in one commit), by routing
``write_partitioned`` and ``append_checkpoint`` through ``writeTo``. No
Iceberg writer exists here: the runtime ships no Iceberg jars.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

CHECKPOINT_SCHEMA = (
    "bucket int, table_name string, row_count long, n_urls long, "
    "warc_ts_min timestamp, warc_ts_max timestamp, "
    "failure_counts map<string,long>, mean_extract_us double, "
    "max_extract_us long, committed_at timestamp"
)


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


def committed_buckets(spark: SparkSession, checkpoint_path: str,
                      table_name: str) -> DataFrame:
    """Distinct committed bucket ids for a table (empty if none).

    The empty frame is built JVM-side: ``createDataFrame([])`` is a
    Python RDD, which would launch a Python job just to broadcast
    nothing into remaining_pages' anti-join."""
    if not _exists(checkpoint_path):
        return spark.range(0).select(F.lit(None).cast("int").alias("bucket"))
    return (spark.read.parquet(checkpoint_path)
            .filter(F.col("table_name") == table_name)
            .select("bucket").distinct())


def remaining_pages(spark: SparkSession, pages: DataFrame,
                    checkpoint_path: str, table_name: str,
                    n_buckets: int) -> DataFrame:
    """F9: left-anti join against committed buckets (broadcast — tiny)."""
    done = committed_buckets(spark, checkpoint_path, table_name)
    return (with_bucket(pages, n_buckets)
            .join(F.broadcast(done), "bucket", "left_anti"))


def write_partitioned(df: DataFrame, path: str) -> None:
    """Write partitioned by bucket with dynamic overwrite (idempotent).

    The overwrite mode is pinned PER WRITE (not via session conf): on a
    session without spark.sql.sources.partitionOverwriteMode=dynamic a
    static overwrite would silently wipe every previously committed bucket
    on resume.
    """
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket").parquet(path))


def checkpoint_rows_with_failures(docs_with_bucket: DataFrame,
                                  table_name: str) -> DataFrame:
    """Lineage rows incl. failure-code histogram as map<string,long>,
    from the docs table (extract_docs' columns, extract_us included)
    with its bucket column."""
    per_code = (
        docs_with_bucket
        .withColumn("code", F.when(F.col("failure_code") == "", "OK")
                    .otherwise(F.coalesce(F.col("failure_code"),
                                          F.lit("OK"))))
        .groupBy("bucket", "code")
        .agg(F.count(F.lit(1)).alias("n"),
             F.countDistinct("url").alias("n_urls_c"),
             F.min("warc_ts").alias("ts_min"),
             F.max("warc_ts").alias("ts_max"),
             F.avg("extract_us").alias("t_mean"),
             F.max("extract_us").alias("t_max"))
    )
    return (
        per_code.groupBy("bucket")
        .agg(F.sum("n").alias("row_count"),
             F.sum("n_urls_c").alias("n_urls"),
             F.min("ts_min").alias("warc_ts_min"),
             F.max("ts_max").alias("warc_ts_max"),
             F.map_from_entries(
                 F.collect_list(F.struct("code", "n"))
             ).alias("failure_counts"),
             (F.sum(F.col("t_mean") * F.col("n")) / F.sum("n"))
             .alias("mean_extract_us"),
             F.max("t_max").alias("max_extract_us"))
        .withColumn("table_name", F.lit(table_name))
        .withColumn("committed_at", F.current_timestamp())
        .select("bucket", "table_name", "row_count", "n_urls",
                "warc_ts_min", "warc_ts_max", "failure_counts",
                "mean_extract_us", "max_extract_us", "committed_at")
    )


def empty_bucket_sentinels(spark: SparkSession, buckets: list[int],
                           table_name: str) -> DataFrame:
    """Zero-row checkpoint rows for buckets the corpus left EMPTY.

    checkpoint_rows_with_failures derives rows from the docs groupBy, so
    a bucket no url hashes into never commits a row — and the all-
    committed no-op fast path (job.run_pipeline), which requires every
    bucket id in the checkpoint, would silently never trigger for such
    corpora, falling back to listing + footer-reading the full input on
    every no-op resume (ADVICE r4). A run that exhausted its todo set
    commits these sentinels for the untouched empty buckets; row_count 0
    distinguishes them in every metrics query.

    The rows are parsed JVM-side from one JSON literal against
    CHECKPOINT_SCHEMA (unset fields are null), so committing them starts
    no Python job, and every column but committed_at stays nullable."""
    rows = json.dumps([{"bucket": int(b), "table_name": table_name,
                        "row_count": 0, "n_urls": 0, "failure_counts": {}}
                       for b in buckets])
    schema = ArrayType(StructType.fromDDL(CHECKPOINT_SCHEMA))
    return (spark.range(1, numPartitions=1)
            .select(F.inline(F.from_json(F.lit(rows), schema)))
            .withColumn("committed_at", F.current_timestamp()))


def append_checkpoint(rows: DataFrame, checkpoint_path: str) -> None:
    rows.write.mode("append").parquet(checkpoint_path)


def _exists(path: str) -> bool:
    return os.path.exists(path) and any(
        f.endswith(".parquet") or f == "_SUCCESS"
        for root, _, files in os.walk(path) for f in files
    )


__all__ = ["with_bucket", "committed_buckets", "remaining_pages",
           "write_partitioned", "checkpoint_rows_with_failures",
           "empty_bucket_sentinels", "append_checkpoint",
           "CHECKPOINT_SCHEMA"]
