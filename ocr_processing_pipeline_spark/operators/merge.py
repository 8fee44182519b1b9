"""MERGE INTO emulation (upsert) without Delta/Iceberg.

K7 in SURVEY §2.1. With Iceberg this is ``MERGE INTO … WHEN MATCHED``;
on parquet we emulate with the standard anti-join + union rewrite
(guide: "CDC/SCD2 → emulate with anti-join + union + window"):

    upsert(target, source, key) = source ∪ (target ⟕anti source)

Deterministic, one shuffle, and expressible in ANSI SQL for the DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def merge_upsert(target: DataFrame, source: DataFrame,
                 key_cols: list[str]) -> DataFrame:
    """Source rows win on key collision; unmatched target rows survive."""
    survivors = target.join(source.select(*key_cols).distinct(),
                            key_cols, "left_anti")
    return source.unionByName(survivors)


__all__ = ["merge_upsert"]
