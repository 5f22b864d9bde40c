"""Tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded from the benchmark's own code around calls into each
layer of the program; nothing inside the program changes. ``install``
replaces layer entry points with recording wrappers, so it must run
before the query registry is imported: ``plan_memo`` binds
``dataset_memo`` when it decorates, and ``rotating_persist`` and the
operator functions are imported by name into other modules.

Layers and where their numbers come from:

- ``session``: the session start span.
- ``queries``: ``spec.fn`` (driver plan building) and the Spark jobs it
  launches.
- ``catalyst``: the analysis, optimisation and planning phases of a
  freshly planned QueryExecution of each op's logical plan.
- ``exec``: the sink execution, plus per-stage statistics read from
  Spark's status store by stage id.
- ``memo``: calls to ``dataset_memo`` and ``rotating_persist`` and how
  many of them built a new entry.
- ``catalog``: ``load_table``.
- ``pipeline``: the layer builders, ``staging.load_staging`` and the
  parquet writes, keyed by layer.
- ``operators``/``functions``: every public function of those packages.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "duckdb_retail_pipeline_spark"

# builder name in pipeline.run -> layer it builds
PIPELINE_BUILDERS = {
    "build_dim_calendar": "dim_calendar",
    "build_dim_product": "dim_product",
    "build_dim_customer": "dim_customer",
    "build_fct_sales": "fct_sales",
    "build_daily_fx_rates": "daily_fx_rates",
    "build_fct_sales_eur": "fct_sales_eur",
    "build_agg_country_day": "agg_country_day",
    "build_monthly_sales_summary": "v_monthly_sales_summary",
    "validation_checks": "validation",
}
PIPELINE_LAYERS = ("staging",) + tuple(PIPELINE_BUILDERS.values())
STAGE_FIELDS = (
    ("exec.tasks", "numCompleteTasks", 1),
    ("exec.executor_run_s", "executorRunTime", 1e-3),
    ("exec.executor_cpu_s", "executorCpuTime", 1e-9),
    ("exec.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("exec.shuffle_read_bytes", "shuffleReadBytes", 1),
    ("exec.spill_bytes", "memoryBytesSpilled", 1),
    ("exec.spill_bytes", "diskBytesSpilled", 1),
    ("exec.input_bytes", "inputBytes", 1),
)


def layer_of_dir(name: str) -> str:
    """Pipeline layer a warehouse directory belongs to (the three raw
    tables make up staging)."""
    return "staging" if name.startswith("raw_") else name


class _Traced:
    """Callable stand-in for a module-level function that records a
    span per call, or hands the call to ``on_call(span, fn, bound)``
    with the arguments bound to ``fn``'s signature. Pickling resolves
    the module attribute again, so a UDF closure that names a traced
    function ships the plain function to Python workers, which never
    install tracing."""

    def __init__(self, tracer: "Tracer", fn, span: str, on_call=None):
        functools.update_wrapper(self, fn)
        self._fn, self._tracer, self._span, self._on_call = fn, tracer, span, on_call
        self._signature = inspect.signature(fn) if on_call else None

    def __call__(self, *args, **kwargs):
        if self._on_call is not None:
            bound = self._signature.bind(*args, **kwargs)
            return self._on_call(self._span, self._fn, bound)
        with self._tracer.span(self._span):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return (getattr, (sys.modules[self._fn.__module__], self._fn.__name__))


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.active = False
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    # -- spans and counters ------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
                   "op": self.op, "start": time.perf_counter() - self._t0, "end": None}
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def add(self, name: str, value: float) -> None:
        if self.active:
            with self._lock:
                self.counters[name] += value

    def span_total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    # -- Spark's own instrumentation ----------------------------------------

    @staticmethod
    def _ids(spark) -> tuple[int, int]:
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        return int(dag.nextStageId()), int(dag.nextJobId())

    @contextmanager
    def jobs(self, spark, counter: str):
        """Count the Spark jobs launched inside the block."""
        _, j0 = self._ids(spark)
        yield
        _, j1 = self._ids(spark)
        self.add(counter, j1 - j0)

    @contextmanager
    def stages(self, spark):
        """Add the status store's statistics of every stage submitted
        inside the block to the ``exec.*`` counters."""
        s0, j0 = self._ids(spark)
        yield
        s1, j1 = self._ids(spark)
        if not self.active:
            return
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        self.add("exec.jobs", j1 - j0)
        for sid in range(s0, s1):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage never submitted (AQE)
                continue
            if st.status().toString() != "COMPLETE":
                continue
            self.add("exec.stages", 1)
            for counter, field, scale in STAGE_FIELDS:
                self.add(counter, getattr(st, field)() * scale)

    def plan_phases(self, spark, df) -> None:
        """Plan a fresh QueryExecution of ``df``'s logical plan and add
        its Catalyst phase durations. The op's own QueryExecution is not
        used: a memoized frame's was planned long ago, and a sink write
        plans a QueryExecution of its own."""
        if not self.active:
            return
        with self.span("catalyst"):
            jvm = spark._jvm
            mode = getattr(jvm.org.apache.spark.sql.execution, "CommandExecutionMode$")
            qe = spark._jsparkSession.sessionState().executePlan(
                df._jdf.queryExecution().logical(), mode.__getattr__("MODULE$").ALL()
            )
            qe.executedPlan()
            phases = qe.tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                found = phases.get(phase)
                if found.isDefined():
                    self.add(f"catalyst.{phase}_ms", found.get().durationMs())

    @staticmethod
    def cached_bytes(spark) -> int:
        rdds = spark.sparkContext._jsc.sc().statusStore().rddList(False).iterator()
        total = 0
        while rdds.hasNext():
            r = rdds.next()
            total += r.memoryUsed()
        return total

    # -- wrappers ----------------------------------------------------------

    def install(self) -> None:
        """Import the program's layers (never the query registry) and
        replace their entry points with recording wrappers."""
        memo = importlib.import_module(f"{PKG}.memo")
        catalog = importlib.import_module(f"{PKG}.catalog")
        staging = importlib.import_module(f"{PKG}.pipeline.staging")
        run = importlib.import_module(f"{PKG}.pipeline.run")
        modules = []
        for pkg in ("operators", "functions"):
            parent = importlib.import_module(f"{PKG}.{pkg}")
            for info in pkgutil.iter_modules(parent.__path__):
                modules.append(importlib.import_module(f"{parent.__name__}.{info.name}"))

        wrappers = [
            _Traced(self, memo.dataset_memo, "memo.dataset_memo", self._dataset_memo),
            _Traced(self, memo.rotating_persist, "memo.rotating_persist",
                    self._rotating_persist),
            _Traced(self, catalog.load_table, "catalog.load_table"),
            _Traced(self, staging.load_staging, "pipeline.staging.build"),
        ]
        for name, layer in PIPELINE_BUILDERS.items():
            wrappers.append(_Traced(self, getattr(run, name), f"pipeline.{layer}.build"))
        swaps = {id(w._fn): w for w in wrappers}
        for mod in modules:
            short = mod.__name__.split(".", 1)[1]
            for name, fn in vars(mod).items():
                if (not name.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__ and id(fn) not in swaps):
                    swaps[id(fn)] = _Traced(self, fn, f"{short}.{name}", self._operator)
        self._rebind(swaps)
        self._patch_parquet_writer()

    @staticmethod
    def _rebind(swaps: dict[int, _Traced]) -> None:
        """Point every loaded module's binding of a swapped function
        (keyed by ``id``) at its wrapper."""
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for name, value in list(vars(mod).items()):
                wrapper = swaps.get(id(value))
                if wrapper is not None and wrapper._fn is value:
                    setattr(mod, name, wrapper)

    def _dataset_memo(self, span: str, fn, bound: inspect.BoundArguments):
        build = bound.arguments["build"]
        built = []

        def counted():
            built.append(True)
            return build()

        bound.arguments["build"] = counted
        with self.span(span):
            out = fn(*bound.args, **bound.kwargs)
        self.add(f"{span}.calls", 1)
        self.add(f"{span}.builds", len(built))
        return out

    def _rotating_persist(self, span: str, fn, bound: inspect.BoundArguments):
        slot = bound.arguments["slot"]
        occupant = slot[0][0] if slot else None
        with self.span(span):
            out = fn(*bound.args, **bound.kwargs)
        self.add(f"{span}.calls", 1)
        self.add(f"{span}.builds", 0 if out is occupant else 1)
        return out

    def _operator(self, span: str, fn, bound: inspect.BoundArguments):
        t0 = time.perf_counter()
        with self.span(span):
            try:
                return fn(*bound.args, **bound.kwargs)
            finally:
                self.add(f"{span}.calls", 1)
                self.add(f"{span}.s", time.perf_counter() - t0)

    def _patch_parquet_writer(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        original = DataFrameWriter.parquet
        tracer = self

        @functools.wraps(original)
        def parquet(writer, path, *args, **kwargs):
            layer = layer_of_dir(os.path.basename(str(path).rstrip("/")))
            tracer.plan_phases(writer._spark, writer._df)
            t0 = time.perf_counter()
            with tracer.span(f"pipeline.{layer}.write"):
                try:
                    return original(writer, path, *args, **kwargs)
                finally:
                    tracer.add("exec.s", time.perf_counter() - t0)

        DataFrameWriter.parquet = parquet

    # -- output ------------------------------------------------------------

    def layer_summary(self) -> dict[str, dict]:
        """Per span name: call count, total seconds and self seconds
        (total minus the time its child spans cover)."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += d
            row["self_s"] += d - child_s[s["id"]]
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "layers": self.layer_summary(), "spans": self.spans}, f)
