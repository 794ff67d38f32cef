"""Arrow-vectorized numeric kernels for the vector tier (r15, guide §4).

Round-15 profiling (the profile table in OPTIMIZATION_r15.md)
attributed the vector tier's bench cost to INTERPRETED
higher-order-function expressions, not to shuffles or scheduling: one
Lloyd assignment pass over 2,000 64-dim vectors burned 8.4 s of
executor CPU (`aggregate(zip_with(...))` is CodegenFallback — every
element evaluation walks the expression tree and allocates), and the PCA projection and SemDeDup pair scans showed
the same signature (64 s and 40 s total stage CPU respectively). These
kernels move exactly those per-row array reductions across the Arrow
boundary into NumPy, per the optimization guide §4.2: Spark keeps the
distribution/joins/aggregation; a vectorized native library does the
bulk math on whole batches.

Bit-exactness contract (the reason each kernel is shaped the way it
is): every kernel reproduces the replaced expression tree's IEEE-754
operation ORDER, not just its mathematical value —

- the JVM fold ``aggregate(zip_with(a, b, f), 0, (acc, x) -> acc + x)``
  accumulates in array-element order; the kernels replicate it as a
  loop over DIMENSIONS of element-wise NumPy ops (``acc += f(a[:, d],
  b[d])``), which performs the identical correctly-rounded float64
  add/mul per element in the identical order — vectorized across ROWS,
  sequential across DIMS.  (A single ``np.dot``/``.sum()`` would use
  pairwise/SIMD summation — a DIFFERENT order, bit-divergent in
  general.)
- float32 → float64 casts are exact; int64 → float64 casts are exact
  below 2^53 (the operators' integer grids are bounded far below it,
  and the DuckDB twins perform the same cast).
- ``floor(x + 0.5)`` / ``floor(x * 1e9 + 0.5)`` snaps use ``np.floor``
  on float64 — the identical IEEE operation the JVM expression runs.
- integer kernels never round-trip through float64: array<bigint>
  input stays int64 end to end; sums are exact int64 (wraparound
  semantics match the JVM long).
- argmin tie-breaks: the replaced ``array_sort(array<struct<d,c>>)[0]``
  orders by (d, c) ascending with c the enumeration index, i.e. the
  FIRST index among equal distances — reproduced by strict-less
  comparison while scanning cells in index order.

Null semantics mirror the replaced expressions: a null array, a
length-mismatched pair, or a null element makes ``zip_with`` /
``aggregate`` yield NULL, so the kernels emit real NULLs (pandas
nullable dtypes — NaN from NaN *inputs* still flows through as NaN,
exactly like the JVM fold) for any such row. The operator contracts
never produce these — embeddings are fixed-dim non-null — but the
kernels must not silently diverge if they appear.

Scale posture: one Arrow crossing per batch with only the needed
columns (guide §4.1); kernels hold no per-task state beyond the
closure's anchor/weight matrix (control-sized). Batch memory is
O(batch_rows × dim) — bounded by arrow.maxRecordsPerBatch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from kickstarter_etl_pipeline_spark.constants import IVF_N_PROBE


def _rows_matrix(s: pd.Series, dim: int, dtype) -> "tuple[np.ndarray, np.ndarray]":
    """(valid_mask, X): X stacks the valid rows as ``dtype`` (rows that
    are None, wrong-length, or contain null elements are excluded —
    they map to NULL output, matching zip_with/aggregate semantics).
    NaN ELEMENTS in float input are valid — NaN propagates through the
    fold exactly as in the JVM."""
    vals = s.to_numpy()
    n = len(vals)
    valid = np.zeros(n, dtype=bool)
    rows = []
    for i, a in enumerate(vals):
        if a is None:
            continue
        arr = np.asarray(a)
        if arr.dtype == object:
            # arrow lists with null ELEMENTS arrive as object arrays;
            # a null element nulls the whole fold (zip_with semantics)
            if any(x is None for x in arr):
                continue
        if arr.shape[0] != dim:
            continue
        valid[i] = True
        rows.append(arr.astype(dtype, copy=False))
    if not rows:
        return valid, np.empty((0, dim), dtype=dtype)
    return valid, np.stack(rows)


def _fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Left-fold Σ A[:,d]·B[:,d] in dimension order — bit-identical to
    ``aggregate(zip_with(a, b, (x, y) -> x*y), 0.0, (acc, x) -> acc+x)``
    (0.0 + x0 ≡ x0 for every float64 x0 except -0.0, where both sides
    give +0.0)."""
    acc = np.zeros(A.shape[0], dtype=np.float64)
    for d in range(A.shape[1]):
        acc += A[:, d] * B[:, d]
    return acc


@F.pandas_udf(DoubleType())
def _dot_f64(a: pd.Series, b: pd.Series) -> pd.Series:
    av, bv = a.to_numpy(), b.to_numpy()
    n = len(av)
    valid = np.zeros(n, dtype=bool)
    aa: list = []
    bb: list = []
    for i in range(n):
        x, y = av[i], bv[i]
        if x is None or y is None:
            continue
        xa, ya = np.asarray(x), np.asarray(y)
        if xa.shape != ya.shape:
            continue
        if xa.dtype == object:
            if any(v is None for v in xa):
                continue
            xa = xa.astype(np.float64)
        if ya.dtype == object:
            if any(v is None for v in ya):
                continue
            ya = ya.astype(np.float64)
        valid[i] = True
        aa.append(xa.astype(np.float64, copy=False))
        bb.append(ya.astype(np.float64, copy=False))
    values = np.zeros(n, dtype=np.float64)
    if aa:
        # a batch may mix array lengths (equal within each valid pair);
        # stack and fold per distinct length
        lens = np.array([len(x) for x in aa])
        folded = np.empty(len(aa), dtype=np.float64)
        for length in np.unique(lens):
            idx = np.nonzero(lens == length)[0]
            A = np.stack([aa[i] for i in idx])
            B = np.stack([bb[i] for i in idx])
            folded[idx] = _fold_dot(A, B)
        values[valid] = folded
    # explicit mask (True = NULL) so a NaN RESULT from NaN inputs stays
    # NaN — assigning np.nan into a nullable Float64 array would
    # silently become NA, diverging from the JVM fold's NaN double
    out = pd.arrays.FloatingArray(values, ~valid)
    return pd.Series(out)


def dot_arrow(a: Column, b: Column) -> Column:
    """Arrow-kernel twin of :func:`similarity.dot` — same value, same
    IEEE operation order, evaluated in NumPy instead of the interpreted
    HOF tree."""
    return _dot_f64(a, b)


def _argmin_scan(dists: "list[np.ndarray]"):
    """First-index argmin over a list of per-cell distance vectors —
    the array_sort((d, c))[0].c tie-break (strict-less keeps the
    earlier cell on ties)."""
    best_d = dists[0]
    best_c = np.zeros(len(dists[0]), dtype=np.int64)
    for ci in range(1, len(dists)):
        lt = dists[ci] < best_d
        best_d = np.where(lt, dists[ci], best_d)
        best_c = np.where(lt, ci, best_c)
    return best_c


def assign_cell_int(cents: "list[list[int]]"):
    """Kernel twin of ivf_lloyd_topk's ``_assign`` expression: exact
    int64 squared-L2 against the closure's centroid matrix, argmin with
    first-index tie-break. The per-iteration centroids ride the closure
    — no broadcast relation, no per-iteration codegen."""
    C = np.asarray(cents, dtype=np.int64)
    k, dim = C.shape

    @F.pandas_udf(IntegerType())
    def _assign(v: pd.Series) -> pd.Series:
        valid, X = _rows_matrix(v, dim, np.int64)
        n = len(valid)
        out = pd.array([None] * n, dtype="Int32")
        if X.shape[0]:
            dists = []
            for ci in range(k):
                diff = X - C[ci]
                dists.append(np.einsum("ij,ij->i", diff, diff))
            out[valid] = _argmin_scan(dists).astype(np.int32)
        return pd.Series(out)

    return lambda vec: _assign(vec)


def probe_cells_int(cents: "list[list[int]]"):
    """Kernel twin of the query-side ``slice(array_sort(_cd), 1,
    IVF_N_PROBE).c``: the ``IVF_N_PROBE`` nearest cells by (exact int64
    distance, cell index) ascending."""
    C = np.asarray(cents, dtype=np.int64)
    k, dim = C.shape

    @F.pandas_udf(ArrayType(IntegerType()))
    def _probe(v: pd.Series) -> pd.Series:
        valid, X = _rows_matrix(v, dim, np.int64)
        dists = np.empty((X.shape[0], k), dtype=np.int64)
        for ci in range(k):
            diff = X - C[ci]
            dists[:, ci] = np.einsum("ij,ij->i", diff, diff)
        out: list = [None] * len(valid)
        j = 0
        for i in range(len(valid)):
            if valid[i]:
                order = sorted(range(k), key=lambda c: (dists[j, c], c))
                out[i] = np.asarray(order[:IVF_N_PROBE], dtype=np.int32)
                j += 1
        return pd.Series(out, dtype=object)

    return lambda vec: _probe(vec)


def assign_cell_nano(anchor_mat: "list[list[float]]"):
    """Kernel twin of semantic_dedup's anchor assignment: float64
    squared-L2 left fold per anchor, snapped to the nano grid
    (``CAST(floor(acc*1e9 + 0.5) AS BIGINT)``), argmin by (nano-dist,
    anchor index)."""
    A = np.asarray(anchor_mat, dtype=np.float64)
    k, dim = A.shape

    @F.pandas_udf(IntegerType())
    def _assign(v: pd.Series) -> pd.Series:
        valid, X = _rows_matrix(v, dim, np.float64)
        n = len(valid)
        out = pd.array([None] * n, dtype="Int32")
        if X.shape[0]:
            dists = []
            for ci in range(k):
                acc = np.zeros(X.shape[0], dtype=np.float64)
                for d in range(dim):
                    diff = X[:, d] - A[ci, d]
                    acc += diff * diff
                dists.append(np.floor(acc * 1e9 + 0.5).astype(np.int64))
            out[valid] = _argmin_scan(dists).astype(np.int32)
        return pd.Series(out)

    return lambda vec: _assign(vec)
