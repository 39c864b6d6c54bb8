"""Oracle check: each key's Spark output against its DuckDB ``oracle_sql``.

Both sides go through ``tests/compare.py``'s normalization (cells
stringified exactly, columns sorted by name, rows sorted), so a run
agrees with the repo's own oracle tests on what "correct" means. The
DuckDB side depends only on the input directory, so it is computed once
per input directory and cached as JSON beside it.
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tests"))
from compare import normalize  # noqa: E402


def expected_result(pdf) -> dict:
    """The comparable form of one result: sorted columns, sorted rows."""
    return {"columns": sorted(pdf.columns), "rows": [list(r) for r in normalize(pdf)]}


def mismatch(actual: dict, expected: dict) -> str | None:
    """None when the results agree, else a one-line reason."""
    if actual["columns"] != expected["columns"]:
        return f"columns {actual['columns']} != oracle {expected['columns']}"
    a, e = actual["rows"], expected["rows"]
    if len(a) != len(e):
        return f"{len(a)} rows != oracle {len(e)}"
    for i, (ra, re_) in enumerate(zip(a, e)):
        if ra != re_:
            return f"sorted row {i}: {ra} != oracle {re_}"
    return None


def load_cache(data_dir: str, cache_dir: str, tables, oracles: dict[str, str],
               keys) -> dict[str, dict]:
    """Oracle results for ``keys``, computing (with DuckDB) and caching
    any that are missing from ``cache_dir``."""
    os.makedirs(cache_dir, exist_ok=True)
    out: dict[str, dict] = {}
    con = None
    try:
        for key in keys:
            path = os.path.join(cache_dir, f"{key}.json")
            if not os.path.exists(path):
                if con is None:
                    import duckdb

                    con = duckdb.connect()
                    for t in tables:
                        con.execute(
                            f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{os.path.join(data_dir, t + '.parquet')}')"
                        )
                result = expected_result(con.execute(oracles[key]).fetchdf())
                tmp = path + ".tmp"
                with open(tmp, "w") as fh:
                    json.dump(result, fh)
                os.replace(tmp, path)
            with open(path) as fh:
                out[key] = json.load(fh)
    finally:
        if con is not None:
            con.close()
    return out
