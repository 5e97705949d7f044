"""Result digests: one canonical form for Spark and DuckDB results.

The canonical form is the repository's correctness checker's, imported from
``tools/check_correctness.py``: columns in name order, timestamps as int64
microseconds, lists as tuples, NaN as NULL, every scalar tagged with its
kind so an int/float drift is a mismatch. The one addition here: floats are
rounded to a number of significant digits (9 by default) before the
checker normalizes them, so a result that differs only in the last bits of
a float sum still hashes the same. This module keeps only that rounding and
the hashing.
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
from pathlib import Path

FLOAT_DIGITS = 9

CHECKER = Path(__file__).resolve().parent.parent / "tools" / "check_correctness.py"


def _load_checker():
    spec = importlib.util.spec_from_file_location("perfbench_check_correctness", CHECKER)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


checker = _load_checker()


def _round_sig(v, digits: int):
    """Floats (also inside tuples) to ``digits`` significant digits."""
    if isinstance(v, float):
        return v if not math.isfinite(v) else float(f"{v:.{digits - 1}e}")
    if isinstance(v, tuple):
        return tuple(_round_sig(x, digits) for x in v)
    return v


def digest(pdf, digits: int = FLOAT_DIGITS) -> dict:
    """{"rows", "columns", "kinds", "sha256"} of a pandas result."""
    df = checker._canon_df(pdf)
    for c in df.columns:
        if df[c].dtype.kind in "fO":
            df[c] = df[c].map(lambda v: _round_sig(v, digits))
    kinds = checker._dtypes(pdf)
    rows = checker._normalize(df)
    cols = list(df.columns)
    h = hashlib.sha256()
    h.update(repr((cols, [kinds[c] for c in cols])).encode())
    for r in rows:
        h.update(repr(r).encode())
    return {"rows": len(rows), "columns": cols, "kinds": kinds, "sha256": h.hexdigest()}


def oracle_digests(table_dir: str, names: list[str], sql: dict[str, str]) -> dict[str, dict]:
    """Run each query's DuckDB oracle over the tables under ``table_dir``."""
    import duckdb

    from perfbench.gen import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir}/{t}.parquet')"
            )
        return {n: digest(con.execute(sql[n]).df()) for n in names}
    finally:
        con.close()
