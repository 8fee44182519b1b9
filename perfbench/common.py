"""What the three workloads share: the run context and timing helpers.

Each workload module provides ``generate(ctx, dir)`` (seeded inputs),
``prepare(ctx, inputs)`` (expected outputs and warm-up),
``operation(ctx, state, i)`` -> (seconds, docs, ok) and
``replay(ctx, state, tracer)`` -> (per-layer values, attempted, failed).
"""

from __future__ import annotations

import time
from dataclasses import dataclass


@dataclass
class Ctx:
    spark: object
    seed: int
    cores: int
    work: str


def noop(df) -> float:
    """Run the full plan into Spark's no-op sink; returns seconds. (A
    ``count()`` lets Catalyst prune unused columns, so it under-times.)"""
    t = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t


def timed(fn, *args):
    """(seconds, result) of one call."""
    t = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t, out


def materialize(tracer, name: str, df):
    """Materialize ``df`` in executor memory under its own span, so the
    next layer call is timed on a ready input."""
    with tracer.span(f"materialize.{name}"):
        return df.localCheckpoint(eager=True)
