"""Output checks. They run outside the timed regions; a mismatch is returned
as a message (and counted as a failed operation), never raised."""

from __future__ import annotations

import functools
import importlib.util
import os

import numpy as np
import pandas as pd
import pyarrow as pa


def spark_digest(df) -> tuple:
    """(rows, sum of id, xor of per-row xxhash64): an order-insensitive
    fingerprint of a DataFrame whose rows are distinct."""
    from pyspark.sql import functions as F

    return tuple(
        df.agg(
            F.count(F.lit(1)),
            F.sum(F.col("id").cast("long")),
            F.bit_xor(F.xxhash64(*df.columns)),
        ).collect()[0]
    )


def by_id(tbl: pa.Table, base: int = 0) -> pa.Table:
    """Rows of ``tbl`` in ``id`` order, for a table whose ``id`` column is a
    permutation of ``base..base+rows-1``: row i of the result has id base+i."""
    ids = tbl.column("id").to_numpy() - base
    if ids.min(initial=0) < 0 or ids.max(initial=-1) >= len(ids) or (
        np.bincount(ids, minlength=len(ids)) != 1
    ).any():
        raise ValueError("id is not a permutation of 0..rows-1")
    order = np.empty(len(ids), dtype=np.int64)
    order[ids] = np.arange(len(ids))
    return tbl.take(pa.array(order))


def same_rows_by_id(got: pa.Table, want_by_id: pa.Table, base: int = 0) -> str | None:
    """Row-order-insensitive equality against a table in ``by_id`` form."""
    if got.num_rows != want_by_id.num_rows:
        return f"{got.num_rows} rows, expected {want_by_id.num_rows}"
    try:
        got = by_id(got.select(want_by_id.column_names), base)
    except (ValueError, KeyError) as e:
        return str(e)
    for name in want_by_id.column_names:
        if not got.column(name).equals(want_by_id.column(name)):
            return f"column {name!r} differs"
    return None


def column_stats(values: np.ndarray) -> tuple:
    v = values.astype(np.int64)
    return (len(v), int(v.sum()), int((v * v).sum()))


@functools.cache
def _oracle_gate():
    """``tools/check_oracle.py``, the repository's local oracle gate, loaded
    as a module so that its ``normalize`` is the one used here."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """The repository's oracle comparison (``tools/check_oracle.py``): the
    strict int-vs-float dtype check on the raw frames, then same column
    names, same row count and values equal to 1e-6, order-insensitive."""
    from custom_columnar_format_spark.compare import strict_dtype_problems

    strict = strict_dtype_problems(got, want)
    if strict:
        return "strict dtype: " + "; ".join(strict)
    normalize = _oracle_gate().normalize
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != oracle {list(w.columns)}"
    if len(g) != len(w):
        return f"{len(g)} rows != oracle {len(w)}"
    try:
        pd.testing.assert_frame_equal(
            g, w, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-6
        )
    except AssertionError as e:
        return f"values differ: {str(e).splitlines()[0][:160]}"
    return None
