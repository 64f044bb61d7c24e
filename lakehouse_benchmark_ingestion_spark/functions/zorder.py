"""Z-order (Morton) and Hilbert clustering keys — vectorized pandas UDFs.

The north-star clustering key: a 64-bit interleave over
(source, n_tok, hash(doc_id)). Bit interleaving has no Catalyst expression
(SURVEY.md §4.2), so this is the one place the engine leaves the JVM — as an
Arrow-batched pandas UDF doing pure numpy uint64 bit arithmetic (never
per-row Python, BASELINE.json input_hint).

Dimension preparation stays JVM-side (xxhash64/pmod built-ins); only the
interleave crosses into Python. 21 bits per dimension × 3 dims = 63 bits,
so keys are non-negative int64.

Hilbert uses Skilling's public-domain transpose algorithm ("Programming the
Hilbert curve", AIP Conf. Proc. 707, 2004), vectorized over numpy arrays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

BITS = 21
DIM_MASK = (1 << BITS) - 1


def _spread3(x: np.ndarray) -> np.ndarray:
    """Spread the low 21 bits of x so bit i lands at position 3*i."""
    x = x.astype(np.uint64) & np.uint64(DIM_MASK)
    x = (x | (x << np.uint64(32))) & np.uint64(0x1F00000000FFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x1F0000FF0000FF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x100F00F00F00F00F)
    x = (x | (x << np.uint64(4))) & np.uint64(0x10C30C30C30C30C3)
    x = (x | (x << np.uint64(2))) & np.uint64(0x1249249249249249)
    return x


def morton3(d0: np.ndarray, d1: np.ndarray, d2: np.ndarray) -> np.ndarray:
    """63-bit Morton code; d0 occupies bit positions 3i (least significant)."""
    return _spread3(d0) | (_spread3(d1) << np.uint64(1)) | (_spread3(d2) << np.uint64(2))


def _to_transposed_hilbert(d0: np.ndarray, d1: np.ndarray, d2: np.ndarray) -> np.ndarray:
    """Skilling coords→transposed-Hilbert, vectorized; then interleave."""
    n = 3
    X = np.stack(
        [x.astype(np.uint64) & np.uint64(DIM_MASK) for x in (d0, d1, d2)], axis=1
    )  # (rows, 3)
    M = np.uint64(1) << np.uint64(BITS - 1)
    Q = M
    while Q > np.uint64(1):
        P = Q - np.uint64(1)
        for i in range(n):
            hi = (X[:, i] & Q) != 0
            # invert low bits of dim 0 where bit set
            X[hi, 0] ^= P
            # exchange low bits between dim 0 and dim i where bit unset
            t = (X[~hi, 0] ^ X[~hi, i]) & P
            X[~hi, 0] ^= t
            X[~hi, i] ^= t
        Q >>= np.uint64(1)
    # Gray encode
    for i in range(1, n):
        X[:, i] ^= X[:, i - 1]
    t = np.zeros(len(X), dtype=np.uint64)
    Q = M
    while Q > np.uint64(1):
        hi = (X[:, n - 1] & Q) != 0
        t[hi] ^= Q - np.uint64(1)
        Q >>= np.uint64(1)
    for i in range(n):
        X[:, i] ^= t
    return X


def hilbert3(d0: np.ndarray, d1: np.ndarray, d2: np.ndarray) -> np.ndarray:
    """63-bit Hilbert index from three 21-bit coordinates.

    In transposed form, index bit (3*b + j) comes from bit b of transposed
    axis (n-1-j); the most-significant interleaved bit comes from axis 0 —
    so axis 0's spread goes to the HIGH position.
    """
    X = _to_transposed_hilbert(d0, d1, d2)
    return (
        (_spread3(X[:, 0]) << np.uint64(2))
        | (_spread3(X[:, 1]) << np.uint64(1))
        | _spread3(X[:, 2])
    )


@pandas_udf(LongType())
def morton_key_udf(d0: pd.Series, d1: pd.Series, d2: pd.Series) -> pd.Series:
    z = morton3(d0.to_numpy(np.uint64), d1.to_numpy(np.uint64), d2.to_numpy(np.uint64))
    return pd.Series(z.astype(np.int64))


@pandas_udf(LongType())
def hilbert_key_udf(d0: pd.Series, d1: pd.Series, d2: pd.Series) -> pd.Series:
    h = hilbert3(d0.to_numpy(np.uint64), d1.to_numpy(np.uint64), d2.to_numpy(np.uint64))
    return pd.Series(h.astype(np.int64))


def _dim_cols(df: DataFrame | None = None) -> tuple[str, str, str]:
    """JVM-side 21-bit dimension prep for (source, n_tok, hash(doc_id)), as
    SQL expressions shared by the Morton expression and both UDFs.

    - source: xxhash64 masked to 21 bits — categorical grouping (equal values
      cluster; ordering between categories is arbitrary, which Z/Hilbert
      tolerate);
    - n_tok: clamped to 21 bits, preserving numeric order (range queries on
      sequence length stay local);
    - doc_id: xxhash64 masked — uniform spreading dimension.

    A dim column missing from ``df`` (schema evolution renamed/dropped it)
    degrades to a constant — the interleave stays valid on the remaining
    dims instead of failing the rewrite.
    """
    have = set(df.columns) if df is not None else {"source", "n_tok", "doc_id"}
    src = f"(xxhash64(`source`) & {DIM_MASK}L)" if "source" in have else "0L"
    ntk = f"least(CAST(`n_tok` AS BIGINT), {DIM_MASK}L)" if "n_tok" in have else "0L"
    doc = f"(xxhash64(`doc_id`) & {DIM_MASK}L)" if "doc_id" in have else "0L"
    return src, ntk, doc


def morton_key_sql(d0: str, d1: str, d2: str) -> str:
    """63-bit Morton code as ONE SQL expression (whole-stage codegen, no
    Python boundary, safe to re-evaluate in range samplers): bit i of
    dimension j lands at position 3i + j, as in ``morton3``. Built as a
    string so the driver makes one parse call, not a Column call per bit
    operation. Bit-identical to morton_key_udf (tests/test_zorder.py)."""
    return " | ".join(
        f"shiftleft(shiftright({d}, {i}) & 1L, {3 * i + j})"
        for j, d in enumerate((d0, d1, d2))
        for i in range(BITS)
    )


def with_cluster_key(
    df: DataFrame, curve: str = "zorder", key_col: str = "_ckey", impl: str = "auto"
) -> DataFrame:
    """Append the 64-bit interleaved clustering key column.

    Morton defaults to the Catalyst expression (fastest: codegen, no
    Python boundary, safe to re-evaluate in range samplers); ``impl=
    "pandas"`` forces the vectorized pandas UDF (numpy) — both are
    bit-identical. Hilbert always uses the pandas UDF (the Skilling state
    machine has no reasonable expression-tree form).
    """
    dims = _dim_cols(df)
    if curve in ("zorder", "morton", "z"):
        if impl == "pandas":
            return df.withColumn(key_col, morton_key_udf(*map(F.expr, dims)))
        return df.withColumn(key_col, F.expr(morton_key_sql(*dims)))
    return df.withColumn(key_col, hilbert_key_udf(*map(F.expr, dims)))
