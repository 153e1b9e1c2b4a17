"""Exact Spark-vs-oracle result comparison, shared by tests/test_oracles.py
and scripts/stress_oracles.py: row count, sorted column names, then every
column value-for-value after a canonical sort. Importing has no side effects.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _is_int_column(s: pd.Series) -> bool:
    # an integer column can arrive object-typed (Python ints); coerce it so
    # it compares and sorts like its int64 twin
    if pd.api.types.is_integer_dtype(s):
        return True
    return (
        s.dtype == object
        and len(s) > 0
        and not pd.api.types.is_string_dtype(s)
        and bool(s.map(lambda x: isinstance(x, int)).all())
    )


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Columns sorted by name, ints as int64, floats as float64, rows sorted."""
    out = {}
    for c in sorted(pdf.columns):
        s = pdf[c]
        if _is_int_column(s):
            try:
                s = s.astype("int64")
            except (TypeError, ValueError, OverflowError):
                pass
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        out[c] = s
    df = pd.DataFrame(out)
    return df.sort_values(list(df.columns), kind="mergesort", ignore_index=True)


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """None when the two results are equal, else a short description of the
    first difference."""
    if len(spark_pdf) != len(oracle_pdf):
        return f"row count {len(spark_pdf)} vs oracle {len(oracle_pdf)}"
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ok = np.array_equal(av.astype("float64"), bv.astype("float64"), equal_nan=True)
        else:
            ok = bool((pd.Series(av).fillna("\0") == pd.Series(bv).fillna("\0")).all())
        if not ok:
            mism = np.flatnonzero(
                ~(pd.Series(av).astype(str) == pd.Series(bv).astype(str)).to_numpy()
            )[:5]
            return (
                f"{c}: value mismatch at rows {mism.tolist()}; "
                f"spark={av[mism].tolist()} oracle={bv[mism].tolist()}"
            )
    return None
