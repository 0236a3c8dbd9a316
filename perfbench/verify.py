"""Cell-exact result comparison, as the repo's parity harness does it.

Both sides are canonicalised by ``tests/parity.py`` (columns sorted by name,
values normalised per dtype family, rows sorted by every column) and then
compared cell by cell with its rules: same columns, same row count, same
dtype family per column, equal cells (NaN matching NaN). Unlike the
harness, a mismatch is returned as a reason instead of raised, because a
failed operation is a measured outcome.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from tests.parity import canonicalize  # noqa: F401  (re-exported)


def _family(s: pd.Series) -> str:
    if pd.api.types.is_datetime64_any_dtype(s):
        return "dt"
    if pd.api.types.is_integer_dtype(s):
        return "i"
    if pd.api.types.is_float_dtype(s):
        return "f"
    if pd.api.types.is_bool_dtype(s):
        return "b"
    return "o"


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the canonical frames agree cell for cell, else a reason."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if _family(g) != _family(w):
            return f"{c}: dtype {g.dtype} != {w.dtype}"
        if _family(g) == "f":
            ge, we = g.to_numpy(), w.to_numpy()
            eq = (ge == we) | (np.isnan(ge) & np.isnan(we))
        else:
            eq = (g.eq(w) | (g.isna() & w.isna())).to_numpy()
        if not eq.all():
            return f"{c}: {int((~eq).sum())} cells differ"
    return None


def table_digest(tbl) -> tuple[int, int]:
    """(row count, order-insensitive hash) of a pyarrow table: the wrapping
    sum of a per-row hash, so any row order gives the same digest."""
    pdf = tbl.to_pandas()
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = pd.util.hash_pandas_object(pdf, index=False).to_numpy(dtype=np.uint64)
    return len(pdf), int(rows.sum(dtype=np.uint64))
