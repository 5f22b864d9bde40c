"""Order-insensitive result digests, shared by the benchmark's
correctness check and by ``oracle.py``, which derives the expected
digests from each op's DuckDB ``oracle_sql``.

The normalisation is the repository's oracle tests' own
(``tests/compare.py``'s ``_norm_cell``: floats rounded to 9 decimals,
dates as ISO strings, decimals as floats), with columns sorted by name;
rows are compared as a sorted multiset. A result matches when its
sorted column names, row count and digest all equal the stored ones.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import sys
from typing import Any

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(BENCH_DIR, "expected.json")
sys.path.append(os.path.join(os.path.dirname(BENCH_DIR), "tests"))

from compare import _norm_cell as _compare_norm_cell  # noqa: E402

_PLAIN = {str, int, bool, type(None)}


def _norm_cell(v: Any) -> Any:
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        # Arrow hands Spark timestamps over in the session time zone
        # (UTC); DuckDB's are naive UTC
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return _compare_norm_cell(v)


def digest(rows, cols: list[str]) -> dict:
    """{"columns", "rows", "sha256"} of a result, independent of row
    and column order: each row's normalised cells, in column-name
    order, are rendered with ``repr`` and the sorted lines hashed."""
    order = sorted(range(len(cols)), key=cols.__getitem__)
    lines = sorted(
        repr(tuple(r[i] if type(r[i]) in _PLAIN else _norm_cell(r[i]) for i in order))
        for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"columns": sorted(cols), "rows": len(lines), "sha256": h.hexdigest()}


def spark_digest(df) -> dict:
    """Digest of a Spark DataFrame's full result, collected as Arrow
    (several times faster than ``collect()`` on the fact layers)."""
    table = df.toArrow()
    columns = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return digest(list(zip(*columns)), table.column_names)


def load_expected(sf: str) -> dict[str, dict]:
    with open(EXPECTED_PATH) as f:
        return json.load(f)[f"sf{sf}"]
