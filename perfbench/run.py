"""Benchmark of the extraction job (workload ``ingest``, see ingest.py)
and the dedup operators (workload ``curate``, see curate.py) at
local[nproc]; the search operators are measured per layer in the ingest
traced run (search.py).

    python3 perfbench/run.py --workload ingest|curate --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Every input is generated from ``--seed``
under ``.bench_work/`` (deleted at exit); the program sees only the
generated tables. After set-up (JVM start, input generation, warm-up) the
workload's operation repeats in a closed loop, one at a time, for
``--seconds`` seconds of operation time, and every output is checked
against an oracle kept by the generator. A failed operation or a check
mismatch is counted, never fatal.

- ``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json.
- ``--trace 1`` runs the operation untraced, twice under spans and
  untraced again (``trace.overhead_s`` is the mean traced minus the mean
  untraced time), then replays the same work one layer call at a time
  under spans (tracing.py) and prints the per-layer metrics; spans are
  written to ``.bench_out/``. Metrics of layers a workload does not
  exercise read 0.

The last stdout line is the result object; the line before it records
the host (nproc, pyspark version), the seed and the sample counts.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "ocr_processing_pipeline_spark"
GEN_REPEATS = 3          # set-up generation repeats; setup_s takes the median
# A fixed heap (-Xms = -Xmx), unlike get_spark's default (max 48g, grown
# by G1 as it likes). With the default heap, curate's peak_rss_mb ranged
# 3.9-5.3 GiB over ten seeds on a 4-CPU host (quartile spread 0.11 of the
# median). 2g is above the peak old-generation use measured under the
# default heap (ingest ~0.33 GiB, curate 0.7-0.9 GiB). The cost: the JVM's
# share of peak_rss_mb is the fixed heap, so heap growth shows only as GC
# time in docs_per_s (or as an OOM), not in peak_rss_mb.
DRIVER_MEMORY = "2g"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the work dir, and let the workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _start_spark(work: str, cores: int):
    from ocr_processing_pipeline_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    return get_spark("perfbench", cpus=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # session.py's code-cache flag, a fixed heap, the JVM temp dir
        "spark.driver.extraJavaOptions":
            f"-XX:ReservedCodeCacheSize=512m -Xms{DRIVER_MEMORY} "
            f"-Djava.io.tmpdir={tmp}",
    })


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers ended."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = [proc.pid] if proc else []
    if proc:
        from tracing import descendants
        kids += descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    if proc:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _measure(mod, ctx, state, seconds: float) -> dict:
    """Closed loop: one operation at a time until ``seconds`` of operation
    time have passed (or three times that in wall time, if operations keep
    failing). Checks run between operations, untimed."""
    times, rates = [], []
    attempted = failed = 0
    deadline = time.monotonic() + 3 * seconds
    while sum(times) < seconds and time.monotonic() < deadline:
        attempted += 1
        gc.collect()        # release localCheckpoint blocks between ops
        try:
            dt, n_docs, ok = mod.operation(ctx, state, attempted)
        except Exception:
            traceback.print_exc()
            failed += 1
            continue
        times.append(dt)
        rates.append(n_docs / dt)
        failed += not ok
    return {"times": times, "rates": rates,
            "attempted": attempted, "failed": failed}


def main(argv=None) -> int:
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        _fail(f"no {PACKAGE}/ package next to perfbench/ in {ROOT}")
    if not os.path.isfile(spec_path):
        _fail(f"no BENCHMARK.json in {ROOT}")
    with open(spec_path) as fh:
        spec = json.load(fh)

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # run the cleanup below (stop Spark, delete the work dir) on SIGTERM too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _prepare_env(work)
        import importlib

        import pyspark

        import common
        mod = importlib.import_module(args.workload)
        cores = len(os.sched_getaffinity(0))

        spans = []          # set-up phases: (name, start, end)
        t = time.perf_counter()
        spark = _start_spark(work, cores)
        spans.append(("setup.jvm", t, time.perf_counter()))
        try:
            ctx = common.Ctx(spark=spark, seed=args.seed, cores=cores,
                             work=work)
            gen = []
            for i in range(GEN_REPEATS):
                t = time.perf_counter()
                inputs = mod.generate(ctx, os.path.join(work, f"gen{i}"))
                gen.append((t, time.perf_counter()))
                if i == 0:
                    kept = inputs
            spans.append(("setup.generate",) + sorted(
                gen, key=lambda se: se[1] - se[0])[len(gen) // 2])
            t = time.perf_counter()
            state = mod.prepare(ctx, kept)
            spans.append(("setup.warm", t, time.perf_counter()))
            setup = {f"{name}_s": end - start for name, start, end in spans}

            if args.trace:
                from tracing import Tracer
                tracer = Tracer(spark, f"{args.workload}-{args.seed}",
                                t0=spans[0][1])
                for name, start, end in spans:
                    tracer.record(name, start, end)
                with tracer.span("replay"):
                    values, attempted, failed = mod.replay(ctx, state, tracer)
                values.update(setup)
                tracer.dump(os.path.join(
                    ROOT, ".bench_out",
                    f"trace-{args.workload}-seed{args.seed}.json"))
                names = spec["per_layer"]
                info = {"spans": len(tracer.spans)}
            else:
                m = _measure(mod, ctx, state, args.seconds)
                from tracing import peak_rss_mb
                from pyspark import SparkContext
                values = {
                    "setup_s": sum(setup.values()),
                    "docs_per_s": (statistics.median(m["rates"])
                                   if m["rates"] else 0.0),
                    "peak_rss_mb": peak_rss_mb(SparkContext._gateway.proc.pid),
                    "ok_frac": 1 - m["failed"] / m["attempted"],
                }
                info = {"samples": len(m["times"]),
                        "op_s": [round(x, 4) for x in m["times"]]}
                names = spec["end_to_end"]
                attempted, failed = m["attempted"], m["failed"]
            info.update(workload=args.workload, seed=args.seed, nproc=cores,
                        pyspark=pyspark.__version__, trace=args.trace)
        finally:
            _stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    unknown = set(values) - {m["name"] for m in names}
    if unknown:
        print(f"perfbench: not in BENCHMARK.json: {sorted(unknown)}",
              file=sys.stderr)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in names}
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
