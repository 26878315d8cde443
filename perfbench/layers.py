"""Per-layer tracing for the benchmark's traced run.

The tracer times calls into the engine's public functions from outside, by
wrapping them: every public function of the operator modules, of the
streaming package and ``sources.io.load_table``, plus py4j's
``send_command``.  Each call becomes a span (name, start, end, parent)
keyed by query; spans stay in memory and are reduced when the pass ends.
The parent of a span is the innermost open span of its thread, or, for a
thread with no open span (a ``foreachBatch`` callback, a parallel sink),
the innermost open span of the main thread.

Spark-side counts come from the status store, which works with the UI off:
the jobs of a span are the job ids allocated while it was open (a range, so
streaming micro-batch jobs that carry no job group of the caller are
counted too), and their stages are read with ``lastStageAttempt``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import re
import sys
import threading
import time

from stats import Span, covered, exclusive_times

PKG = "tmdb_spark_data_pipeline_spark"
#: Operator modules the declared queries call.
OPERATOR_MODULES = (
    "dedup",
    "similarity",
    "graph",
    "text",
    "joins",
    "agg",
    "rank",
    "cleaning",
    "flatten",
    "search",
    "setops",
    "timeseries",
    "funnel",
)
STREAMING_MODULES = ("windows", "stateful", "incremental", "sinks", "listener")

_EXCHANGE = re.compile(r"^[\s:+\-|]*(Exchange|BroadcastExchange|ShuffleExchange)\b")
_REUSED = re.compile(r"^[\s:+\-|]*ReusedExchange\b")
_SCAN = re.compile(r"^[\s:+\-|]*(\*\(\d+\) )?\w*Scan\b")


def layer_of(name: str) -> str:
    if name.startswith("operators."):
        return ".".join(name.split(".")[:2])
    if name.startswith("streaming."):
        return "streaming"
    return {
        "sources.io.load_table": "sources.io",
        "plans.queries.build": "plans.queries",
        "catalyst.plan": "catalyst",
        "exec": "exec",
        "py4j": "py4j",
        "trace.bookkeeping": "bookkeeping",
    }.get(name, "query")


def plan_counts(tree: str) -> dict[str, int]:
    lines = tree.splitlines()
    return {
        "exchanges": sum(1 for ln in lines if _EXCHANGE.match(ln)),
        "reused_exchanges": sum(1 for ln in lines if _REUSED.match(ln)),
        "scans": sum(1 for ln in lines if _SCAN.match(ln)),
    }


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.spans: list[Span] = []
        self.jobs: dict[int, tuple[int, int]] = {}  # span index -> job id range
        self.active = False
        self.main = threading.get_ident()
        self._local = threading.local()
        # py4j callback threads (``foreachBatch``) open spans concurrently
        self._lock = threading.Lock()
        self._main_stack: list[int] = []
        self.epochs = 0
        self.batch_ms = 0
        self.input_rows = 0

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[int]:
        if threading.get_ident() == self.main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _suppressed(self) -> bool:
        return getattr(self._local, "suppress", 0) > 0

    def open(self, name: str, with_jobs: bool = False) -> int:
        st = self._stack()
        first_job = self.next_job_id() if with_jobs else None
        with self._lock:
            parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
            idx = len(self.spans)
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
            if first_job is not None:
                self.jobs[idx] = (first_job, -1)
            st.append(idx)
        return idx

    def close(self, idx: int) -> None:
        last_job = self.next_job_id() if idx in self.jobs else None
        with self._lock:
            if last_job is not None:
                self.jobs[idx] = (self.jobs[idx][0], last_job)
            self.spans[idx].end = time.perf_counter()
            st = self._stack()
            if st and st[-1] == idx:
                st.pop()

    @contextlib.contextmanager
    def quiet(self):
        """Context in which this thread's py4j calls are not recorded."""
        self._local.suppress = getattr(self._local, "suppress", 0) + 1
        try:
            yield
        finally:
            self._local.suppress -= 1

    def next_job_id(self) -> int:
        with self.quiet():
            return int(self.jsc.dagScheduler().nextJobId())

    # -- instrumentation -----------------------------------------------------
    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            idx = tracer.open(span_name, with_jobs=True)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        return traced

    def install(self) -> None:
        """Wrap the traced functions, py4j and attach the stream listener."""
        replaced: dict[int, object] = {}

        def wrap_module(mod, prefix: str, only: str | None = None) -> None:
            for name, obj in list(vars(mod).items()):
                if only is not None and name != only:
                    continue
                if (
                    inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                    and not name.startswith("_")
                ):
                    w = self._wrap(obj, f"{prefix}.{name}")
                    replaced[id(obj)] = w
                    setattr(mod, name, w)

        for m in OPERATOR_MODULES:
            wrap_module(importlib.import_module(f"{PKG}.operators.{m}"), f"operators.{m}")
        for m in STREAMING_MODULES:
            wrap_module(importlib.import_module(f"{PKG}.streaming.{m}"), "streaming")
        io = importlib.import_module(f"{PKG}.sources.io")
        wrap_module(io, "sources.io", only="load_table")
        # names bound with ``from x import f`` elsewhere in the package
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PKG):
                continue
            for name, obj in list(vars(mod).items()):
                w = replaced.get(id(obj))
                if w is not None and w is not obj:
                    setattr(mod, name, w)
        self._install_py4j()
        self._install_listener()

    def _install_py4j(self) -> None:
        client = self.spark.sparkContext._gateway._gateway_client
        cls = type(client)
        orig = cls.send_command
        tracer = self

        def send_command(client_self, command, retry=True, binary=False):
            # py4j's own releases of garbage-collected proxies ("m\nd\n") run
            # whenever Python's GC does; recording them would make the
            # call count vary between identical runs
            if not tracer.active or tracer._suppressed() or command.startswith("m\nd\n"):
                return orig(client_self, command, retry, binary)
            idx = tracer.open("py4j")
            try:
                return orig(client_self, command, retry, binary)
            finally:
                tracer.close(idx)

        cls.send_command = send_command

    def _install_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Epochs(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.epochs += 1
                tracer.batch_ms += int(p.batchDuration)
                tracer.input_rows += int(p.numInputRows)

            def onQueryTerminated(self, event):
                pass

        with self.quiet():
            self.spark.streams.addListener(_Epochs())

    # -- Spark status --------------------------------------------------------
    def drain(self) -> None:
        with self.quiet():
            self.jsc.listenerBus().waitUntilEmpty(60_000)

    def job_stats(self, lo: int, hi: int) -> dict:
        """Totals over the jobs with ids in ``[lo, hi)`` and their stages."""
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "input_bytes": 0,
            "input_records": 0, "output_bytes": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "intervals": [],
        }
        if hi <= lo:
            return out
        with self.quiet():
            store = self.jsc.statusStore()
            seen: set[int] = set()
            for jid in range(lo, hi):
                try:
                    job = store.job(jid)
                except Exception:
                    continue
                out["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["intervals"].append(
                        (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                    )
                sids = job.stageIds()
                for k in range(sids.size()):
                    sid = sids.apply(k)
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:
                        continue
                    if str(st.status().toString()) not in ("COMPLETE", "FAILED"):
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    out["failed_tasks"] += st.numFailedTasks()
                    out["run_s"] += st.executorRunTime() / 1000.0
                    out["cpu_s"] += st.executorCpuTime() / 1e9
                    out["gc_s"] += st.jvmGcTime() / 1000.0
                    out["input_bytes"] += st.inputBytes()
                    out["input_records"] += st.inputRecords()
                    out["output_bytes"] += st.outputBytes()
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def run_traced_query(tracer: Tracer, spark, spec, data_dir: str) -> dict:
    """One query under the tracer: build, plan, then the noop action with an
    ``observe()`` row count.  Returns the query's raw record."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    rec: dict = {"name": spec.name}
    tracer.drain()  # stream progress of earlier, untraced runs lands first
    epochs0 = (tracer.epochs, tracer.batch_ms, tracer.input_rows)
    root = tracer.open("query")
    tracer.active = True
    try:
        build = tracer.open("plans.queries.build", with_jobs=True)
        build_wall0 = time.time()
        df = spec.fn(spark, data_dir)
        build_wall1 = time.time()
        tracer.close(build)

        keep = tracer.open("trace.bookkeeping")
        with tracer.quiet():
            obs = Observation()
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        tracer.close(keep)

        plan = tracer.open("catalyst.plan")
        with tracer.quiet():
            executed = df._jdf.queryExecution().executedPlan()
        tracer.close(plan)

        ex = tracer.open("exec", with_jobs=True)
        with tracer.quiet():
            observed.write.mode("overwrite").format("noop").save()
        tracer.close(ex)
    finally:
        tracer.active = False
        while tracer._main_stack:  # a raising query leaves spans open
            tracer.close(tracer._main_stack[-1])
    rec["spans"] = (root, len(tracer.spans))

    tracer.drain()
    with tracer.quiet():
        rec.update(plan_counts(executed.toString()))
        rec["rows_out"] = int(obs.get["rows"])
    rec["streams"] = [b - a for a, b in zip(epochs0, (tracer.epochs, tracer.batch_ms, tracer.input_rows))]
    rec["build_window"] = (build_wall0, build_wall1)
    rec["build"] = tracer.job_stats(*tracer.jobs[build])
    rec["exec"] = tracer.job_stats(*tracer.jobs[ex])
    return rec


def reduce_pass(tracer: Tracer, records: list[dict], cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    spans = tracer.spans
    own = exclusive_times(spans)
    m = dict.fromkeys(
        [f"operators.{mod}.{k}" for mod in OPERATOR_MODULES for k in ("calls", "self_s", "jobs")]
        + ["streaming.calls", "streaming.self_s", "sources.io.load_table.calls",
           "sources.io.load_table.s", "sources.io.self_s", "plans.queries.self_s",
           "py4j.calls", "py4j.s", "py4j.self_s", "catalyst.plan_s", "exec.s"],
        0.0,
    )

    def add(key: str, v: float) -> None:
        m[key] += v

    wall = unattributed = 0.0
    for i, s in enumerate(spans):
        layer = layer_of(s.name)
        if layer == "bookkeeping":
            continue
        wall += own[i]
        if layer == "query":
            unattributed += own[i]
            continue
        if layer.startswith("operators.") or layer == "streaming":
            add(f"{layer}.calls", 1)
            add(f"{layer}.self_s", own[i])
        elif layer == "sources.io":
            add("sources.io.load_table.calls", 1)
            add("sources.io.load_table.s", s.end - s.start)
            add("sources.io.self_s", own[i])
        elif layer == "plans.queries":
            add("plans.queries.self_s", own[i])
        elif layer == "py4j":
            add("py4j.calls", 1)
            add("py4j.s", s.end - s.start)
            add("py4j.self_s", own[i])
        elif layer == "catalyst":
            add("catalyst.plan_s", own[i])
        elif layer == "exec":
            add("exec.s", own[i])

    # jobs owned by operator spans: their id range minus their children's
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    for i, (lo, hi) in tracer.jobs.items():
        layer = layer_of(spans[i].name)
        if not layer.startswith("operators."):
            continue
        ids = set(range(lo, hi))
        stack = list(children.get(i, []))
        while stack:
            c = stack.pop()
            if c in tracer.jobs:
                clo, chi = tracer.jobs[c]
                ids -= set(range(clo, chi))
            else:
                stack.extend(children.get(c, []))
        add(f"{layer}.jobs", len(ids))

    build_s = sum(
        spans[i].end - spans[i].start for i, s in enumerate(spans) if s.name == "plans.queries.build"
    )
    build_cover = sum(covered(r["build"]["intervals"], *r["build_window"]) for r in records)
    ex = {k: sum(r["exec"][k] for r in records) for k in records[0]["exec"] if k != "intervals"}
    rows_out = sum(r["rows_out"] for r in records)
    m.update(
        {
            "plans.queries.build_s": build_s,
            "plans.queries.construct_s": build_s - build_cover,
            "plans.queries.build_jobs": sum(r["build"]["jobs"] for r in records),
            "plans.queries.build_executor_run_s": sum(r["build"]["run_s"] for r in records),
            "streaming.epochs": sum(r["streams"][0] for r in records),
            "streaming.batch_s": sum(r["streams"][1] for r in records) / 1000.0,
            "streaming.input_rows": sum(r["streams"][2] for r in records),
            "catalyst.exchanges": sum(r["exchanges"] for r in records),
            "catalyst.reused_exchanges": sum(r["reused_exchanges"] for r in records),
            "catalyst.scans": sum(r["scans"] for r in records),
            "exec.jobs": ex["jobs"],
            "exec.stages": ex["stages"],
            "exec.tasks": ex["tasks"],
            "exec.failed_tasks": ex["failed_tasks"],
            "exec.executor_run_s": ex["run_s"],
            "exec.executor_cpu_s": ex["cpu_s"],
            "exec.gc_s": ex["gc_s"],
            "exec.shuffle_read_bytes": ex["shuffle_read_bytes"],
            "exec.shuffle_write_bytes": ex["shuffle_write_bytes"],
            "exec.spill_bytes": ex["spill_bytes"],
            "exec.input_bytes": ex["input_bytes"],
            "exec.output_bytes": ex["output_bytes"],
            "exec.rows_read_per_row_out": ex["input_records"] / max(rows_out, 1),
            "trace.wall_s": wall,
            "trace.unattributed_s": unattributed,
        }
    )
    m["exec.busy_frac"] = m["exec.executor_run_s"] / max(m["exec.s"] * cores, 1e-9)
    return m
