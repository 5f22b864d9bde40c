"""The repository benchmark. One run is one fresh process:

    python3 perfbench/run.py --workload curation --seed 1 --seconds 25 --trace 0

It starts a session on ``local[nproc]``, makes one cold pass over the
workload (memos empty), then warm passes: at least one, and another
only while a pass as long as the previous one would end within
``--seconds`` of the warm phase's start. Each op is a public entry
point run to its full result: ``spec.fn(spark, sf_dir)`` written to
the noop sink, or ``run_pipeline`` writing a fresh warehouse. The seed
only permutes the op order within each pass. After the timed region
every op's result is checked once against ``expected.json`` (see
``oracle.py``).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run (one
cold and one warm pass), and the spans go to ``perfbench/out``. The line
before it is the run's metadata. The process exits 1 on any failed op or
wrong result. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from urllib.parse import urlparse  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(BENCH_DIR, "out")
sys.path.insert(0, BENCH_DIR)

import duckdb  # noqa: E402

from check import digest, load_expected, spark_digest  # noqa: E402
from workloads import (  # noqa: E402
    CURATION_OPS,
    DATA_DIRS,
    LAYER_ORACLES,
    WORKLOADS,
)

BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
DRIVER_MEMORY = "2g"


def _steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _calibrate_s() -> float:
    """Seconds for a fixed single-thread Python loop: the effective CPU
    speed witness (about 0.08 s on a quiet host)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return time.perf_counter() - t0


def _percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _jvm_live_heap_mb(spark) -> float:
    """Heap the JVM still uses once full collections have freed all they
    can: what the program holds live (memos, cached frames, plan state),
    whatever heap size the collector has chosen. Spark's context cleaner
    frees shuffle and broadcast state asynchronously after a collection,
    so collect once a second until the reading stops changing."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(6):
        gc.collect()  # releases the JVM objects that dead Python proxies pin
        jvm.java.lang.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        if last is not None and abs(used - last) < 0.1:
            break
        last = used
        time.sleep(1.0)
    return used


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


class Run:
    """One workload run: the session, its ops and what they measured."""

    def __init__(self, args, tracer, scratch: str) -> None:
        self.args = args
        self.tracer = tracer
        self.scratch = scratch
        self.sf_dir = DATA_DIRS[args.sf]
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed: list[str] = []
        self.passes: list[dict] = []  # {"kind", "s", "ops": {name: s}}
        self.layer_bytes: dict[str, int] = {}
        self.last_warehouse: str | None = None

    # -- ops ----------------------------------------------------------------

    def ops(self) -> list[str]:
        if self.args.workload == "curation":
            return list(CURATION_OPS)
        return ["run_pipeline"]

    def _run_query(self, name: str) -> None:
        spec = self.registry[name]
        tr = self.tracer
        if tr is None:
            spec.fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            return
        with tr.span("queries.build"), tr.jobs(self.spark, "queries.build_jobs"):
            df = spec.fn(self.spark, self.sf_dir)
        tr.plan_phases(self.spark, df)
        t0 = time.perf_counter()
        with tr.span("exec"), tr.stages(self.spark):
            df.write.format("noop").mode("overwrite").save()
        tr.add("exec.s", time.perf_counter() - t0)

    def _run_refresh(self, warehouse: str) -> None:
        tr = self.tracer
        if tr is None:
            self.run_pipeline(self.spark, self.sf_dir, warehouse, rebuild=True)
            return
        with tr.span("pipeline.run_pipeline"), tr.stages(self.spark):
            self.run_pipeline(self.spark, self.sf_dir, warehouse, rebuild=True)

    def one_pass(self, kind: str) -> None:
        # start every pass from a collected heap, outside the timed region
        gc.collect()
        self.spark._jvm.java.lang.System.gc()
        order = self.ops()
        self.rng.shuffle(order)
        timings: dict[str, float] = {}
        warehouse = None
        t_pass = time.perf_counter()
        for name in order:
            op_id = f"{len(self.passes)}:{name}"
            if self.tracer is not None:
                self.tracer.op = op_id
            if name == "run_pipeline":
                warehouse = os.path.join(self.scratch, f"warehouse-{len(self.passes)}")
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if name == "run_pipeline":
                    self._run_refresh(warehouse)
                else:
                    self._run_query(name)
            except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                print(f"op {op_id} failed: {exc!r}", file=sys.stderr)
                self.failed.append(op_id)
                continue
            timings[name] = time.perf_counter() - t0
        self.passes.append(
            {"kind": kind, "s": time.perf_counter() - t_pass, "ops": timings}
        )
        if warehouse is not None:  # outside the timed region
            if self.last_warehouse is not None:
                shutil.rmtree(self.last_warehouse, ignore_errors=True)
            self.last_warehouse = warehouse

    # -- correctness ----------------------------------------------------------

    def check(self) -> None:
        """Check every op once against its oracle digest; a mismatch or
        an error counts as one failed op."""
        expected = load_expected(self.args.sf)
        if self.args.workload == "curation":
            targets = [(name, lambda n=name: spark_digest(self.registry[n].fn(
                self.spark, self.sf_dir))) for name in CURATION_OPS]
        else:
            con = duckdb.connect()
            targets = [
                (pl, lambda d=d: self._layer_digest(con, d)) for d, pl in LAYER_ORACLES.items()
            ]
        for name, result in targets:
            self.attempted += 1
            try:
                ok = result() == expected[name]
            except Exception as exc:  # noqa: BLE001 — reported as a failed check
                print(f"check {name} failed: {exc!r}", file=sys.stderr)
                ok = False
            if not ok:
                print(f"check {name}: result differs from its oracle", file=sys.stderr)
                self.failed.append(f"check:{name}")

    def _layer_digest(self, con, layer: str) -> dict:
        """Digest of a written warehouse layer, read back by DuckDB (an
        independent parquet reader, and no Spark jobs). The validation
        layer must also report zero violations."""
        files = os.path.join(self.last_warehouse, layer, "**", "*.parquet")
        res = con.execute(f"SELECT * FROM read_parquet('{files}', hive_partitioning = false)")
        cols = [c[0] for c in res.description]
        rows = res.fetchall()
        if layer == "validation":
            at = cols.index("violations")
            bad = [r for r in rows if r[at] != 0]
            if bad:
                raise RuntimeError(f"validation violations: {bad}")
        return digest(rows, cols)

    # -- whole run -------------------------------------------------------------

    def execute(self) -> None:
        tr = self.tracer
        if tr is not None:
            tr.install()
            tr.active = True
        t0 = time.perf_counter()
        with tr.span("session.start") if tr else contextlib.nullcontext():
            from duckdb_retail_pipeline_spark.session import get_spark

            local = os.path.join(self.scratch, "spark")
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}",
                extra_conf={
                    "spark.local.dir": local,
                    "spark.sql.warehouse.dir": os.path.join(self.scratch, "spark-warehouse"),
                    # a fixed heap: without it (G1 growing the heap from a
                    # small start) some runs stayed slow for their whole life
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={local} -XX:-UsePerfData -Xms{DRIVER_MEMORY}"
                    ),
                },
            )
        self.session_start_s = time.perf_counter() - t0
        if tr is not None:  # the registry import is not a timed op
            tr.active = False
        from duckdb_retail_pipeline_spark.pipeline.run import run_pipeline
        from duckdb_retail_pipeline_spark.queries import REGISTRY

        self.registry, self.run_pipeline = REGISTRY, run_pipeline
        self.setup_s = time.perf_counter() - T_PROCESS
        if tr is not None:
            tr.active = True

        t_timed = time.perf_counter()
        self.one_pass("cold")
        self.live_heap_mb = _jvm_live_heap_mb(self.spark)
        # warm passes fill --seconds: another starts only if a pass as
        # long as the last one still ends within it
        t_warm = time.perf_counter()
        while True:
            self.one_pass("warm")
            elapsed = time.perf_counter() - t_warm
            if tr is not None or elapsed + self.passes[-1]["s"] > self.args.seconds:
                break
        if tr is not None:
            tr.active = False
            self.cached_bytes = tr.cached_bytes(self.spark)
        if self.last_warehouse is not None:
            self.layer_bytes = {
                d: _dir_bytes(os.path.join(self.last_warehouse, d))
                for d in sorted(os.listdir(self.last_warehouse))
            }
            self.input_bytes = self._refresh_input_bytes()
        t_check = time.perf_counter()
        self.check()
        self.jvm_peak_rss_mb = _jvm_peak_rss_mb(self.spark)
        self.master = self.spark.sparkContext.master
        t_stop = time.perf_counter()
        _stop(self.spark)
        self.phase_s = {
            "setup": self.setup_s,
            "timed": t_check - t_timed,
            "check": t_stop - t_check,
            "stop": time.perf_counter() - t_stop,
        }

    def _refresh_input_bytes(self) -> int:
        """Bytes of the input tables the refresh's staging layer reads."""
        from duckdb_retail_pipeline_spark.pipeline import staging

        files = set()
        for df in staging.load_staging(self.spark, self.sf_dir).values():
            files.update(df.inputFiles())
        return sum(os.path.getsize(urlparse(f).path) for f in files)


# -- metrics ----------------------------------------------------------------------


def measured_warm(run: Run) -> list[dict]:
    """The warm passes the metrics use: the later half. The JIT and the
    code generator keep warming up for several passes after the cold
    one (on curation the first warm passes ran up to twice as long
    as the last), so the earlier half is left out."""
    warm = [p for p in run.passes if p["kind"] == "warm"]
    return warm[len(warm) // 2:]


def op_medians(warm: list[dict]) -> dict[str, float]:
    """Each op's median latency over the warm passes."""
    samples: dict[str, list[float]] = {}
    for p in warm:
        for name, s in p["ops"].items():
            samples.setdefault(name, []).append(s)
    return {name: statistics.median(v) for name, v in sorted(samples.items())}


def end_to_end(run: Run) -> dict[str, float]:
    warm = measured_warm(run)
    return {
        "setup_s": run.setup_s,
        "cold_pass_s": run.passes[0]["s"],
        "warm_pass_s": statistics.median(p["s"] for p in warm),
        # every op weighs the same, whatever its cost; a median over
        # ops or over pooled samples jumps between groups of ops
        "op_geomean_s": statistics.geometric_mean(op_medians(warm).values()),
        "jvm_live_heap_mb": run.live_heap_mb,
    }


def per_layer(run: Run, names: list[str]) -> dict[str, float]:
    tr = run.tracer
    c = tr.counters
    out = {name: c.get(name, 0.0) for name in names}
    out["session.start_s"] = run.session_start_s
    out["queries.build_s"] = tr.span_total("queries.build")
    out["catalog.load_table.s"] = tr.span_total("catalog.load_table")
    memo_calls = c["memo.dataset_memo.calls"] + c["memo.rotating_persist.calls"]
    memo_builds = c["memo.dataset_memo.builds"] + c["memo.rotating_persist.builds"]
    out["memo.hit_ratio"] = (memo_calls - memo_builds) / memo_calls if memo_calls else 0.0
    out["memo.cached_bytes"] = run.cached_bytes
    cores = len(os.sched_getaffinity(0))
    out["exec.core_util"] = (
        c["exec.executor_run_s"] / (c["exec.s"] * cores) if c["exec.s"] else 0.0
    )
    from tracing import PIPELINE_LAYERS, layer_of_dir

    for layer in PIPELINE_LAYERS:
        out[f"pipeline.{layer}.build_s"] = tr.span_total(f"pipeline.{layer}.build")
        out[f"pipeline.{layer}.write_s"] = tr.span_total(f"pipeline.{layer}.write")
    for d, size in run.layer_bytes.items():
        out[f"pipeline.{layer_of_dir(d)}.bytes_written"] += size
    if run.layer_bytes:
        out["pipeline.write_bytes_per_input_byte"] = (
            sum(run.layer_bytes.values()) / run.input_bytes
        )
    return {k: out[k] for k in names}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", choices=sorted(DATA_DIRS), default="0.01",
                    help="data scale; 0.001 is for the smoke test")
    args = ap.parse_args(argv)

    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}

    nproc = len(os.sched_getaffinity(0))
    # read by the session module at import time
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    sys.path.insert(0, ROOT)
    import duckdb_retail_pipeline_spark  # noqa: F401 — fail before any output

    os.makedirs(OUT_DIR, exist_ok=True)
    scratch = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")

    steal0, jiffies0 = _steal_jiffies()
    calibrate = [_calibrate_s()]
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
    run = Run(args, tracer, scratch)
    try:
        run.execute()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    calibrate.append(_calibrate_s())
    steal1, jiffies1 = _steal_jiffies()

    warm = measured_warm(run)
    op_samples = [s for p in warm for s in p["ops"].values()]
    tail_q = 1 - 10 / len(op_samples) if op_samples else 0.0
    meta = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sf": args.sf,
        "nproc": nproc,
        "master": run.master,
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, jiffies1 - jiffies0),
        "calibrate_s": calibrate,
        "warm_passes": sum(p["kind"] == "warm" for p in run.passes),
        "op_samples": len(op_samples),
        "op_median_s": op_medians(warm),
        # the highest percentile with at least ten warm samples beyond
        # it; metadata only, as it falls between groups of ops
        "op_tail": {"q": tail_q, "s": _percentile(op_samples, tail_q)} if tail_q > 0 else None,
        "pass_s": [round(p["s"], 4) for p in run.passes],
        "jvm_peak_rss_mb": run.jvm_peak_rss_mb,
        "phase_s": {k: round(v, 3) for k, v in run.phase_s.items()},
        "failed": run.failed,
    }
    if args.trace:
        meta["warm_pass_s"] = warm[0]["s"]
        path = os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.write(path, {"meta": meta})
        meta["trace_file"] = os.path.relpath(path, ROOT)
        values = per_layer(run, list(units))
    else:
        values = end_to_end(run)
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": not run.failed,
        "attempted": run.attempted,
        "failed": len(run.failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if not run.failed else 1


if __name__ == "__main__":
    sys.exit(main())
