"""One benchmark process: set up an engine session, check the workload's
results against their oracle digests, then time passes over the workload.

Started by ``run.py`` with the environment already pinned (the repository
root on ``PYTHONPATH``); writes its raw measurements as JSON to ``--out``.

Phases:

1. set-up: process start (the parent's spawn time) until the session from
   ``get_spark`` is ready and a fixed warm-up action has run: interpreter
   start, imports, JVM launch, session configuration and the first jobs,
   as a ``spark-submit`` job pays them.
2. check pass (untimed): every query of the workload is collected, reduced
   to its canonical digest and compared with the oracle digest.  It is also
   the first execution of every query, which pays for JIT and code
   generation before the timed passes.
3. timed passes: every query runs ``fn(spark, data)`` and a ``noop`` write,
   which computes the full result without collecting it.  Passes repeat
   until ``--seconds`` have passed, and at least ``MIN_PASSES`` run.  With
   ``--trace 1`` each query instead runs once untraced and once traced.
"""

from __future__ import annotations

import argparse
import gc
import json
import sys
import time

import host
import oracle
from tmdb_spark_data_pipeline_spark.plans.queries import REGISTRY
from tmdb_spark_data_pipeline_spark.session import get_spark
from tmdb_spark_data_pipeline_spark.sources.io import load_table
from workloads import WORKLOADS, pass_order

#: Timed passes run until ``--seconds`` have passed, and at least this many.
MIN_PASSES = 2


def _stop(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()


def _reclaim(spark) -> None:
    """Drop cross-query residue outside the timed region (as bench.py does):
    cached plans in the CacheManager and Python references to checkpoints."""
    spark.catalog.clearCache()
    gc.collect()


class Run:
    """Query executions of one worker, with their failures."""

    def __init__(self, spark, args) -> None:
        self.spark, self.args = spark, args
        self.attempted = self.failed = 0
        self.failures: dict[str, str] = {}

    def attempt(self, name: str, fn):
        """``fn(spec)`` for one query; a raising query is a failed one."""
        self.attempted += 1
        try:
            return fn(REGISTRY[name])
        except Exception as e:
            self.fail(name, f"{type(e).__name__}: {str(e)[:200]}")
            return None
        finally:
            _reclaim(self.spark)

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.setdefault(name, why)

    def check(self, expected: dict[str, str]) -> None:
        for name in WORKLOADS[self.args.workload]:
            got = self.attempt(name, self.digest)
            if got is not None and got != expected[name]:
                self.fail(name, "result differs from the oracle")

    def digest(self, spec) -> str:
        df = spec.fn(self.spark, self.args.data)
        return oracle.digest(list(df.columns), [tuple(r) for r in df.collect()])

    def timed(self, spec) -> float:
        t0 = time.perf_counter()
        spec.fn(self.spark, self.args.data).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0


def _timed_passes(run: Run) -> dict:
    args = run.args
    walls: list[float] = []
    per_query: dict[str, list[float]] = {}
    t_start = time.perf_counter()
    while len(walls) < MIN_PASSES or time.perf_counter() - t_start < args.seconds:
        wall = 0.0
        for name in pass_order(args.workload, args.seed, len(walls) + 1):
            lat = run.attempt(name, run.timed)
            if lat is not None:
                per_query.setdefault(name, []).append(lat)
                wall += lat
        walls.append(wall)
    return {
        "pass_walls": walls,
        "latencies": [x for v in per_query.values() for x in v],
        "per_query": per_query,
    }


def _traced_pass(run: Run) -> dict:
    """One untraced and one traced run of every query, back to back and in
    alternating order, so JIT warm-up favours neither side.  The spans are
    written to ``--spans`` as JSON lines."""
    from layers import Tracer, reduce_pass, run_traced_query

    args = run.args
    tracer = Tracer(run.spark)
    tracer.install()

    def traced(spec) -> dict:
        return run_traced_query(tracer, run.spark, spec, args.data)

    records: list[dict] = []
    untraced_wall = 0.0
    for i, name in enumerate(pass_order(args.workload, args.seed, 1)):
        for is_traced in (i % 2 == 1, i % 2 == 0):
            if is_traced:
                rec = run.attempt(name, traced)
                if rec is not None:
                    records.append(rec)
            else:
                untraced_wall += run.attempt(name, run.timed) or 0.0
    layers = reduce_pass(tracer, records, args.cpus) if records else {}
    layers["trace.untraced_wall_s"] = untraced_wall
    layers["trace.overhead_s"] = layers.get("trace.wall_s", 0.0) - untraced_wall
    with open(args.spans, "w") as f:
        for rec in records:
            for i in range(*rec["spans"]):
                s = tracer.spans[i]
                span = {"query": rec["name"], "id": i, "name": s.name,
                        "start": s.start, "end": s.end, "parent": s.parent}
                f.write(json.dumps(span) + "\n")
    return {"layers": layers}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--expected", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--cpus", type=int, required=True)
    args = ap.parse_args()
    master = f"local[{args.cpus}]"

    t = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=master)
    get_spark_s = time.perf_counter() - t
    spark.range(1 << 16).selectExpr("sum(id)").collect()
    load_table(spark, args.data, "region").collect()
    out: dict = {"setup_s": time.time() - args.t0, "get_spark_s": get_spark_s}
    try:
        run = Run(spark, args)
        with open(args.expected) as f:
            expected = json.load(f)
        t = time.perf_counter()
        run.check(expected)
        out["check_s"] = time.perf_counter() - t
        out.update(_traced_pass(run) if args.trace else _timed_passes(run))
        out.update(attempted=run.attempted, failed=run.failed, failures=run.failures)
        out["env"] = {
            "master": master,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }
        from pyspark import SparkContext

        out["peak_rss_mb"] = host.vm_hwm_mb() + host.vm_hwm_mb(SparkContext._gateway.proc.pid)
    finally:
        _stop(spark)
    with open(args.out, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
