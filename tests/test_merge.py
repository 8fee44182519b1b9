"""MERGE emulation tests."""

from ocr_processing_pipeline_spark.operators.merge import merge_upsert


def test_merge_upsert(spark):
    target = spark.createDataFrame(
        [(1, "old"), (2, "old"), (3, "old")], "k long, v string")
    source = spark.createDataFrame(
        [(2, "new"), (4, "new")], "k long, v string")
    merged = {r.k: r.v for r in
              merge_upsert(target, source, ["k"]).collect()}
    assert merged == {1: "old", 2: "new", 3: "old", 4: "new"}
