"""Checks a suite entry's output against its DuckDB ``oracle_sql()``
twin, with the canonical form and DuckDB views of the repository's
oracle gate, ``tools/check_oracle.py``. An entry without an oracle must
return rows."""

from __future__ import annotations

import os
import sys

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_oracle import canon, duck_connection  # noqa: E402


def check(name: str, pdf: pd.DataFrame, oracle: str | None, sf_dir: str) -> str | None:
    """Failure kind, or None when the output is right."""
    if oracle is None:
        return None if len(pdf) else "empty"
    con = duck_connection(sf_dir)
    try:
        want = con.execute(oracle).df()
    finally:
        con.close()
    if sorted(pdf.columns) != sorted(want.columns):
        return "wrong_columns"
    try:
        same = canon(pdf) == canon(want)
    except TypeError:  # unsortable cells, as the gate raises on them
        return "unsortable"
    return None if same else "wrong_rows"
