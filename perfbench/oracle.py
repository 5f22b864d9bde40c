"""Regenerate ``expected.json``: the order-insensitive digest of each
benchmarked op's DuckDB ``oracle_sql`` result at every benchmark scale.

    python3 perfbench/oracle.py

Run it from the repository root after changing an op's oracle or the
benchmark data. It runs no Spark, only DuckDB over the parquet copies
in ``perfbench/data``.
"""

from __future__ import annotations

import json
import os
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, os.path.dirname(BENCH_DIR))

import duckdb  # noqa: E402

from check import EXPECTED_PATH, digest  # noqa: E402
from workloads import CURATION_OPS, DATA_DIRS, LAYER_ORACLES, TABLES  # noqa: E402


def main() -> None:
    from duckdb_retail_pipeline_spark.queries import REGISTRY

    names = sorted(CURATION_OPS + tuple(LAYER_ORACLES.values()))
    out: dict[str, dict] = {}
    for sf, data_dir in sorted(DATA_DIRS.items()):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'"
            )
        out[f"sf{sf}"] = {}
        for name in names:
            t0 = time.perf_counter()
            res = con.execute(REGISTRY[name].oracle)
            cols = [c[0] for c in res.description]
            out[f"sf{sf}"][name] = digest(res.fetchall(), cols)
            print(f"sf{sf} {name}: {out[f'sf{sf}'][name]['rows']} rows, "
                  f"{time.perf_counter() - t0:.2f} s", file=sys.stderr)
        con.close()
    with open(EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
