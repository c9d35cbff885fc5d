"""Order- and noise-insensitive hash of a job's output table."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

# Floating-point sums merge partial aggregates in shuffle-arrival order,
# so two correct runs can differ in the last bits. Mantissas are cut to
# this many bits before hashing.
MANTISSA_BITS = 20


def frame_hash(df: pd.DataFrame, keys: list[str]) -> str:
    """sha256 over the rows sorted by ``keys`` and the columns sorted by
    name, with floats rounded to MANTISSA_BITS bits of mantissa."""
    df = df.sort_values(keys, ignore_index=True)
    h = hashlib.sha256()
    for c in sorted(df.columns):
        col = df[c]
        h.update(c.encode())
        if pd.api.types.is_float_dtype(col):
            m, e = np.frexp(col.to_numpy(np.float64))
            m = np.round(m * 2.0**MANTISSA_BITS)
            h.update(np.nan_to_num(m, nan=0.5).tobytes() + e.tobytes())
            h.update(col.isna().to_numpy().tobytes())
        elif pd.api.types.is_numeric_dtype(col):
            h.update(col.to_numpy(np.int64).tobytes())
        else:
            h.update("\x1f".join("\x00" if v is None else str(v)
                                 for v in col.astype(object).where(col.notna(), None)
                                 ).encode())
    return h.hexdigest()
