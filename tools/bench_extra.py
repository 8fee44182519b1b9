"""Isolated per-query bench + plan capture for the optimization rounds.

NOT the driver bench (bench.py is frozen): this times a targeted subset of
queries with the noop sink, back-to-back reps in one JVM (guide §1.4), and
optionally writes `.explain("formatted")` output to plans/r07/.

Usage:
  python tools/bench_extra.py --only dedup_components,simhash_near_dup_pairs
  python tools/bench_extra.py --only dedup_components --reps 3 \
      --plans plans/r07 --suffix before
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import io
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ocr_processing_pipeline_spark.plans.queries import (  # noqa: E402
    QUERIES, dedup_decisions_dir, dedup_index_dir, dedup_verdicts_dir,
    extracted_tables_dir, pages_corpus_dir, snapshot_decisions_dir)
from ocr_processing_pipeline_spark.session import get_spark  # noqa: E402


def _warm_materialized(spark, sf_dir: str) -> None:
    """Materialize the artifact tables bench.py warms, so isolated
    timings match the in-bench timed region."""
    corpus = pages_corpus_dir(sf_dir)
    spark.read.parquet(os.path.join(corpus, "pages.parquet")).count()
    extracted_tables_dir(spark, sf_dir)
    dedup_decisions_dir(spark, sf_dir)
    dedup_index_dir(spark, sf_dir)
    dedup_verdicts_dir(spark, sf_dir)
    snapshot_decisions_dir(spark, sf_dir)


def _run(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default="", help="comma-separated query names")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default="", help="dir to write explain output")
    ap.add_argument("--suffix", default="before",
                    help="plan file suffix: <query>_<suffix>.txt")
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    args = ap.parse_args()
    names = ([n for n in args.only.split(",") if n] if args.only
             else sorted(QUERIES))
    for n in names:
        if n not in QUERIES:
            raise SystemExit(f"unknown query: {n}")

    spark = get_spark("bench_extra")
    sf_dir = args.sf_dir
    # same pre-warm as bench.py so the timed region matches
    _warm_materialized(spark, sf_dir)

    out: dict[str, list[float]] = {}
    for name in names:
        spark.sparkContext.setJobDescription(name)
        samples = []
        for _ in range(args.reps):
            t0 = time.time()
            _run(QUERIES[name].fn(spark, sf_dir))
            samples.append(round(time.time() - t0, 3))
        out[name] = samples
        spark.sparkContext.setJobDescription(None)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = QUERIES[name].fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            path = os.path.join(args.plans, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
        gc.collect()
        print(json.dumps({name: samples}), flush=True)

    print(json.dumps({
        "metric": "bench_extra",
        "sf_dir": sf_dir,
        "reps": args.reps,
        "min": {k: min(v) for k, v in out.items()},
        "total_min": round(sum(min(v) for v in out.values()), 3),
    }))


if __name__ == "__main__":
    main()
