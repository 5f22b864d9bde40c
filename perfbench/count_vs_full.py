"""``count()`` against full-result time for the headline queries.

    python3 perfbench/count_vs_full.py [--data DIR]

Under ``count()`` Catalyst prunes every column the count does not need,
which on some queries removes most of the work; the benchmark therefore
runs every op to its full result on the noop sink. This prints, per
headline query, the median and range of both forms on ``local[nproc]``
after one untimed full run (so memo builds are excluded from both) and
``REPS`` alternating repetitions, as a Markdown table. ``--data``
defaults to the benchmark's sf0.01 copy.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

from workloads import DATA_DIRS  # noqa: E402

REPS = 3


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", default=DATA_DIRS["0.01"])
    args = ap.parse_args()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, os.path.dirname(BENCH_DIR))
    from duckdb_retail_pipeline_spark.queries import REGISTRY
    from duckdb_retail_pipeline_spark.session import get_spark

    spark = get_spark(app_name="count-vs-full")

    def full(spec) -> None:
        spec.fn(spark, args.data).write.format("noop").mode("overwrite").save()

    def count(spec) -> None:
        spec.fn(spark, args.data).count()

    print(f"data {args.data}, local[{os.environ['SPARK_GRAFT_CPUS']}], {REPS} reps\n")
    print("| query | count() median [min, max] s | full median [min, max] s | full / count |")
    print("|---|---|---|---|")
    for name, spec in REGISTRY.items():
        if not spec.headline:
            continue
        full(spec)
        times = {"count": [], "full": []}
        for _ in range(REPS):  # alternate, so drift hits both forms alike
            for form, action in (("count", count), ("full", full)):
                t0 = time.perf_counter()
                action(spec)
                times[form].append(time.perf_counter() - t0)
        med = {k: statistics.median(v) for k, v in times.items()}
        cells = [f"{med[k]:.2f} [{min(v):.2f}, {max(v):.2f}]" for k, v in times.items()]
        print(f"| {name} | {cells[0]} | {cells[1]} | {med['full'] / med['count']:.1f} |",
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
