#!/usr/bin/env python3
"""Benchmark of the engine's declared query surface.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The workloads are defined in
``perfbench/workloads.py``; the metrics, their units and directions in
``BENCHMARK.json``.  The first run in a checkout builds the input tables
(``perfbench/datagen.py``) and any missing oracle digests under
``.bench_build/perfbench``; later runs reuse them.

A run is a closed loop with one client, like a ``spark-submit`` job running
its queries in sequence, in a child process with one engine session on
``local[min(4, cpus)]``:

* ``--trace 0`` reports the end-to-end metrics: ``setup_s`` (process start
  until the session is ready and warmed up), ``wall_s`` (median timed pass), ``query_geomean_s``
  (geometric mean of the query latencies) and ``query_tail_s`` (p90 over
  the workload's queries of each query's median latency).
* ``--trace 1`` reports the per-layer metrics: every query runs once traced
  and once untraced, and the difference of the two walls is the tracing
  overhead.  The spans are written to ``.bench_build/perfbench``.

Every run first checks each query's result against its DuckDB oracle
digest; a mismatch or an error counts as a failed query.  The last line of
standard output is the result as one JSON object.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import host  # noqa: E402
import oracle  # noqa: E402
from stats import TAIL_PCT, tail  # noqa: E402
from workloads import LAYER_MAP, SF, WORKLOADS  # noqa: E402

PKG = "tmdb_spark_data_pipeline_spark"
DEADLINE_S = 170.0
#: Settings that change the engine session; removed from the children's
#: environment so every run measures the factory's own configuration.
SCRUBBED = ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_DRIVER_JAVA_OPTS")


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    return 8.0


def child_env(root: str, work: str, cpus: int) -> tuple[dict[str, str], dict[str, str | None]]:
    """The children's pinned environment, and the scrubbed values found."""
    env = dict(os.environ)
    found = {k: env.pop(k, None) for k in SCRUBBED}
    tmp = os.path.join(work, "tmp")
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            # the factory's default heap is sized for a large host
            "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(_mem_total_gb() // 4)))}g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            # keep the JVM's temp files and perf data inside the checkout
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(filter(None, (root, env.get("PYTHONPATH")))),
            "PYTHONDONTWRITEBYTECODE": "1",
        }
    )
    return env, found


def run_child(argv: list[str], env: dict, cwd: str, log: str, deadline: float) -> None:
    """Run one worker to completion in its own process group; kill the
    whole group if it outlives the deadline."""
    with open(log, "ab") as lf:
        proc = subprocess.Popen(
            argv, env=env, cwd=cwd, stdout=lf, stderr=lf, start_new_session=True
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError("worker exceeded the run deadline") from None
        finally:
            try:  # reap anything the worker left in its group
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    if rc != 0:
        raise RuntimeError(f"worker exited with code {rc}; see {log}")


def end_to_end_values(res: dict) -> tuple[dict[str, float], list[str]]:
    """The end-to-end metrics of an untraced worker result, and notes."""
    lats = res["latencies"]
    # the tail is taken over queries: each query's median over the passes
    tail_v, beyond, n = tail([statistics.median(v) for v in res["per_query"].values()])
    values = {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(res["pass_walls"]),
        "query_geomean_s": math.exp(statistics.fmean(math.log(x) for x in lats)),
        "query_tail_s": tail_v,
    }
    notes = [
        f"pass walls s {', '.join(f'{w:.2f}' for w in res['pass_walls'])}; query_tail_s is p{TAIL_PCT:g} of {n} per-query medians "
        f"({beyond} beyond it); "
        f"median latency {statistics.median(lats):.4f} s",
        f"peak_rss_mb {res['peak_rss_mb']:.1f} (JVM + Python)",
        "latency s by query: "
        + " ".join(f"{q}={','.join(f'{x:.2f}' for x in v)}" for q, v in sorted(res["per_query"].items())),
    ]
    return values, notes


def per_layer_values(res: dict, canary: float, steal: float | None) -> dict[str, float]:
    """The per-layer metrics of a traced worker result."""
    values = dict(res["layers"])
    values["session.get_spark_s"] = res["get_spark_s"]
    values["session.peak_rss_mb"] = res["peak_rss_mb"]
    values["host.canary_ms"] = canary
    values["host.steal_pct"] = steal if steal is not None else 0.0
    return values


def metric_specs(root: str, trace: int) -> dict[str, str]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main() -> int:
    # a terminated run unwinds, so run_child stops the worker's process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    started = time.monotonic()
    deadline = started + DEADLINE_S
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "plans", "queries.py")):
        print(f"error: run from the repository root; {PKG}/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from tmdb_spark_data_pipeline_spark.plans.queries import REGISTRY

    specs = metric_specs(root, args.trace)
    work = os.path.join(root, ".bench_build", "perfbench")
    for d in ("tmp", "local", "run", "data"):
        os.makedirs(os.path.join(work, d), exist_ok=True)

    # build step: input tables and oracle digests, reused by later runs
    with open(datagen.__file__, "rb") as f:
        gen_id = hashlib.sha256(f.read()).hexdigest()[:12]
    sf = SF[args.workload]
    data = os.path.join(work, "data", f"sf{sf:g}-{gen_id}")
    if not os.path.isdir(data):
        datagen.write_tables(data, sf)
    names = WORKLOADS[args.workload]
    expected = oracle.expected_digests(
        {n: REGISTRY[n].oracle for n in names},
        data,
        datagen.TABLES,
        os.path.join(work, "oracle_cache.json"),
    )
    expected_path = os.path.join(work, "run", f"expected_{os.getpid()}.json")
    with open(expected_path, "w") as f:
        json.dump(expected, f)

    cpus = min(4, len(os.sched_getaffinity(0)))
    env, scrubbed = child_env(root, work, cpus)
    out_path = os.path.join(work, "run", f"out_{os.getpid()}.json")
    spans = os.path.join(work, f"spans_{args.workload}_{args.seed}.jsonl")
    log = os.path.join(work, "worker.log")
    canary0, j0 = host.canary_ms(), host.cpu_jiffies()
    argv = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--expected", expected_path, "--out", out_path, "--spans", spans,
        "--t0", repr(time.time()), "--cpus", str(cpus),
    ]
    try:
        run_child(argv, env, os.path.join(work, "run"), log, deadline)
        with open(out_path) as f:
            main_res = json.load(f)
        os.remove(out_path)
    except RuntimeError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    finally:
        os.remove(expected_path)
    canary1, j1 = host.canary_ms(), host.cpu_jiffies()
    steal = host.steal_pct(j0, j1)

    e = main_res["env"]
    print(
        f"# env cpus={cpus} master={e['master']} driver_memory={e['driver_memory']} "
        f"spark={e['spark']} java={e['java']} python={e['python']}"
    )
    for k, v in scrubbed.items():
        print(f"# removed from the environment: {k}={v!r}" if v is not None else f"# {k} unset")
    print(
        f"# host canary_ms start={canary0:.1f} end={canary1:.1f} "
        f"steal_pct={'n/a' if steal is None else f'{steal:.2f}'}"
    )
    failures = main_res["failures"]
    attempted, failed = main_res["attempted"], main_res["failed"]
    print(f"# fail_frac {failed / attempted:.4f} ({failed} of {attempted} query runs)")
    for name, why in sorted(failures.items()):
        print(f"# FAILED {name}: {why}")

    print(f"# check pass {main_res['check_s']:.2f} s; run total {time.monotonic() - started:.1f} s")
    if args.trace:
        values = per_layer_values(main_res, (canary0 + canary1) / 2, steal)
        print(f"# spans written to {os.path.relpath(spans, root)}")
        for layer, moves in LAYER_MAP.items():
            print(f"# layer {layer} should move {moves}")
    else:
        values, notes = end_to_end_values(main_res)
        for line in notes:
            print(f"# {line}")
    missing = sorted(set(specs) - set(values))
    if missing:
        print(f"error: metrics not measured: {missing}", file=sys.stderr)
        return 1
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in specs.items()}
    for k, m in metrics.items():
        print(f"# {k} = {m['value']:.6g} {m['unit']}")
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
