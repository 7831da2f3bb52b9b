"""Vectorized (Arrow + numpy) kernels for the embedding operators.

The ANN family's per-row math (cell assignment, cosine, PQ encode)
was originally expressed as Catalyst higher-order-function folds
(``aggregate``/``zip_with``). Those are CodegenFallback expressions —
every array element is evaluated interpreted, with per-step
allocations — which made the assignment/cosine passes the dominant
cost of ivf/kmeans/semdedup at bench scale (guide §4.2: hand whole
batches to vectorized native code instead).

Bit-parity contract: every kernel reproduces its fold EXACTLY —
  * element products/squares are computed as float64 (same single
    IEEE rounding as the JVM's ``x.cast("double") * y.cast("double")``),
  * sums accumulate STRICTLY SEQUENTIALLY in index order (explicit
    python loop over the dimension axis — never numpy pairwise
    summation), matching ``F.aggregate``'s left fold,
  * rounding matches ``F.round(col, 6)`` on doubles
    (shortest-decimal-repr HALF_UP — see :func:`round6_array`),
so outputs are bit-identical to the fold path (asserted by
tests/test_ann.py's literal-vs-broadcast identity test and the
golden-output equivalence suite).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np


def round6_half_up(x: float) -> float:
    """round(x, 6) with Spark's F.round semantics for doubles:
    BigDecimal.valueOf(x) (= shortest decimal repr, like Python's
    repr) then setScale(6, HALF_UP)."""
    return float(
        Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    )


# |y| below this keeps ``y*1e6`` within ~1.2e-7 of the scaled decimal
# repr (half an ulp of y, scaled, plus half an ulp of the product):
# the 1e-6 midpoint guard of round6_array is proven only there
_ROUND6_FAST_MAX = 1e3


def round6_array(y: np.ndarray) -> np.ndarray:
    """Vectorized ``F.round(col, 6)`` for float64 arrays.

    Fast path: scale by 1e6 and round half-away-from-zero — exact
    whenever |y| < 1e3 and the scaled value is not within 1e-6 of a
    .5 midpoint. Values near a midpoint, and every value of larger
    magnitude (where the product's own error can exceed the guard:
    16539.2153925 would round down), fall back to the exact
    shortest-repr BigDecimal semantics per element. NaN/±Inf pass
    through like Spark's Round."""
    y = np.asarray(y, dtype=np.float64)
    scaled = y * 1e6
    with np.errstate(invalid="ignore"):
        out = (
            np.where(scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5))
            / 1e6
        )
        frac = np.abs(scaled - np.floor(scaled) - 0.5)
        risky = np.isfinite(scaled) & (
            (frac < 1e-6) | (np.abs(y) >= _ROUND6_FAST_MAX)
        )
    if risky.any():
        flat_y = y.reshape(-1)
        flat_out = out.reshape(-1)
        for i in np.nonzero(risky.reshape(-1))[0]:
            flat_out[i] = round6_half_up(float(flat_y[i]))
        out = flat_out.reshape(y.shape)
    return out


def seq_sq_norms(mat: np.ndarray) -> np.ndarray:
    """sqrt of the SEQUENTIAL sum of squares per row — bit-identical
    to ``norm_col``'s aggregate fold."""
    mat = np.asarray(mat, dtype=np.float64)
    acc = np.zeros(mat.shape[0])
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * mat[:, j]
    return np.sqrt(acc)


def seq_dot_rows(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise SEQUENTIAL dot product of two (n, d) float64 arrays —
    bit-identical to ``dot_col``'s zip_with + aggregate fold."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    acc = np.zeros(a.shape[0])
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * b[:, j]
    return acc


def cosine_rows(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise round-6 cosine, matching
    ``F.round(dot_col(a, b) / (norm_col(a) * norm_col(b)), 6)``."""
    return round6_array(
        seq_dot_rows(a, b) / (seq_sq_norms(a) * seq_sq_norms(b))
    )


def assign_cells(
    vecs: np.ndarray, cents: np.ndarray, cent_norms: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """(argmax cell, its round-6 cosine) per row — the numpy twin of
    ``ann._assign_step``'s fold: strictly-better updates keep the
    FIRST maximum.

    Every row and centroid must have a finite, nonzero norm, else
    ``ValueError``. The fold divides by the norm product, so a
    zero-norm vector makes Spark raise ``DIVIDE_BY_ZERO`` and a NaN
    one gives NaN cosines; no cell is a right answer for either.

    Chunked over rows so the (rows × cells) score block stays small
    even at SemDeDup-scale cell counts."""
    vecs = np.asarray(vecs, dtype=np.float64)
    cents = np.asarray(cents, dtype=np.float64)
    n, d = vecs.shape
    k = cents.shape[0]
    if cent_norms is None:
        cent_norms = seq_sq_norms(cents)
    vec_norms = seq_sq_norms(vecs)
    for what, norms in (("vector", vec_norms), ("centroid", cent_norms)):
        bad = np.flatnonzero(~np.isfinite(norms) | (norms == 0))
        if len(bad):
            raise ValueError(
                f"{what} {int(bad[0])} has a zero or non-finite norm "
                f"({norms[bad[0]]}); cosine assignment is undefined"
            )
    out_c = np.empty(n, dtype=np.int32)
    out_b = np.empty(n, dtype=np.float64)
    chunk = max(1, (4 << 20) // max(k, 1))
    for lo in range(0, n, chunk):
        hi = min(n, lo + chunk)
        v = vecs[lo:hi]
        acc = np.zeros((hi - lo, k))
        for j in range(d):
            acc = acc + v[:, j : j + 1] * cents[None, :, j]
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = acc / (vec_norms[lo:hi, None] * cent_norms[None, :])
        cos6 = round6_array(cos)
        safe = np.where(np.isnan(cos6), -np.inf, cos6)
        idx = np.argmax(safe, axis=1)
        best = safe[np.arange(hi - lo), idx]
        none = np.isneginf(best)
        out_c[lo:hi] = np.where(none, np.int32(-1), idx.astype(np.int32))
        out_b[lo:hi] = np.where(none, -2.0, best)
    return out_c, out_b


def pq_encode_codes(vecs: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """PQ codes per row — the numpy twin of ``ann._argmin_code``'s
    first-minimum fold per subspace: round-6 sequential L2², strict-<
    updates keep the FIRST minimum. ``codebooks`` is (m, ksub, dsub);
    returns (n, m) int32."""
    vecs = np.asarray(vecs, dtype=np.float64)
    codebooks = np.asarray(codebooks, dtype=np.float64)
    m, ksub, dsub = codebooks.shape
    n = vecs.shape[0]
    codes = np.empty((n, m), dtype=np.int32)
    for s in range(m):
        sub = vecs[:, s * dsub : (s + 1) * dsub]
        acc = np.zeros((n, ksub))
        for j in range(dsub):
            diff = sub[:, j : j + 1] - codebooks[None, s, :, j]
            acc = acc + diff * diff
        d6 = round6_array(acc)
        # fold init best=1e300; NaN never beats it -> replace NaN with
        # +inf so argmin skips them; all-NaN yields c=-1 like the fold
        safe = np.where(np.isnan(d6), np.inf, d6)
        idx = np.argmin(safe, axis=1)
        best = safe[np.arange(n), idx]
        codes[:, s] = np.where(
            best < 1e300, idx.astype(np.int32), np.int32(-1)
        )
    return codes


def list_to_matrix(col) -> np.ndarray:
    """A pyarrow List/LargeList/FixedSizeList column of uniform-length
    numeric lists → (n, d) numpy array (zero-copy flatten when the
    layout allows)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError("null vectors are not supported")
    # flatten() honours a slice's offset and length (``.values`` does not)
    flat = col.flatten().to_numpy(zero_copy_only=False)
    if isinstance(col, pa.FixedSizeListArray):
        return flat.reshape(len(col), col.type.list_size)
    n = len(col)
    if n == 0:
        return flat.reshape(0, 0)
    widths = np.diff(col.offsets.to_numpy(zero_copy_only=False))
    if not (widths == widths[0]).all():
        raise ValueError("ragged vector lengths are not supported")
    return flat.reshape(n, int(widths[0]))
