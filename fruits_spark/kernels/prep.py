"""Per-series preprocessing kernels ("preparateurs"), batch-vectorized.

Semantics follow the reference preparateurs (`/root/reference/fruits/
preparation/transform.py`, ``filter.py``) but every function here maps a
3-D batch ``(n, d, l) -> (n, d', l')`` with NumPy axis ops — no per-series
loop.  Dataset-level "fit" statistics (STD global mean/std, QTC quantile,
random weights for FFN/RIN/RDW/JLD) are computed once on the driver (or a
fit sample) and passed in as plain arguments, which is exactly how the
Spark layer broadcasts them to executors.
"""

from __future__ import annotations

import numpy as np

from .iss import coquantile, increments


def inc(
    X: np.ndarray, shift: int = 1, depth: int = 1, zero_padding: bool = True
) -> np.ndarray:
    """k-lag increments, iterated ``depth`` times (transform.py:15-89)."""
    out = X
    for _ in range(depth):
        out = increments(out, shift)
        if not zero_padding:
            out = out.copy()
            out[..., :shift] = X[..., :shift]
    return out


def std(
    X: np.ndarray,
    separately: bool = True,
    var: bool = True,
    eps: float = 1e-5,
    mean: float | None = None,
    stdev: float | None = None,
) -> np.ndarray:
    """Standardize per series (or with fitted global mean/std)
    (transform.py:92-158)."""
    if separately:
        mu = X.mean(axis=-1, keepdims=True)
        sd = X.std(axis=-1, keepdims=True) if var else np.ones_like(mu)
        return (X - mu) / (sd + eps)
    if mean is None or stdev is None:
        raise ValueError("global STD requires fitted mean/stdev")
    return (X - mean) / ((stdev if var else 1.0) + eps)


def nrm(X: np.ndarray, scale_dim: bool = False) -> np.ndarray:
    """Min-max normalize to [0,1]; constant slices -> 0
    (transform.py:161-209)."""
    if scale_dim:
        lo = X.min(axis=(1, 2), keepdims=True)
        hi = X.max(axis=(1, 2), keepdims=True)
    else:
        lo = X.min(axis=2, keepdims=True)
        hi = X.max(axis=2, keepdims=True)
    span = hi - lo
    safe = np.where(span == 0, 1.0, span)
    out = (X - lo) / safe
    return np.where(span == 0, 0.0, out)


def mav(X: np.ndarray, width: int) -> np.ndarray:
    """Moving average over trailing window ``width``; first ``width-1``
    outputs are 0, so a series shorter than the window is all zeros
    (transform.py:212-263)."""
    if width <= 0:
        raise ValueError("width must be positive (fit resolves floats)")
    out = np.zeros_like(X, dtype=np.float64)
    if X.shape[-1] >= width:
        win = np.lib.stride_tricks.sliding_window_view(X, width, axis=-1)
        out[..., width - 1:] = win.sum(axis=-1) / width
    return out


def mav_dims(X: np.ndarray) -> np.ndarray:
    """width=-1 variant: average across dimensions (transform.py:261-262)."""
    return (X.sum(axis=1) / X.shape[1])[:, np.newaxis, :]


def lag(X: np.ndarray) -> np.ndarray:
    """Lead-lag embedding: dims double, length -> 2l-1
    (transform.py:277-298)."""
    n, d, length = X.shape
    out = np.zeros((n, 2 * d, 2 * length - 1), dtype=np.float64)
    for i in range(d):
        out[:, 2 * i, 0::2] = X[:, i, :]
        out[:, 2 * i, 1::2] = X[:, i, 1:]
        out[:, 2 * i + 1, 0::2] = X[:, i, :]
        out[:, 2 * i + 1, 1::2] = X[:, i, :-1]
    return out


def ffn(
    X: np.ndarray,
    w1: np.ndarray,
    b1: np.ndarray,
    w2: np.ndarray,
    b2: np.ndarray,
    center: bool = True,
    relu_out: bool = False,
) -> np.ndarray:
    """Random two-layer MLP applied per time step; weights drawn (seeded)
    on the driver (transform.py:312-388).  ``w1 (d_hidden, d)``,
    ``w2 (d_out, d_hidden)``."""
    Z = X - X.mean(axis=-1, keepdims=True) if center else X
    # (n, d, l) -> hidden (n, h, l)
    h = np.einsum("hd,ndl->nhl", w1, Z) + b1[np.newaxis, :, np.newaxis]
    h = np.maximum(h, 0.0)
    o = np.einsum("oh,nhl->nol", w2, h) + b2[np.newaxis, :, np.newaxis]
    return np.maximum(o, 0.0) if relu_out else o


def rin(X: np.ndarray, kernel: np.ndarray) -> np.ndarray:
    """Random-kernel increments: y_t = x_t - sum_j kernel[j] * x_{t-1-j}
    (transform.py:391-568, single out-group form).  ``kernel (width,)``.
    First ``width`` outputs are 0-lag-adjusted like INC (zero padding).
    """
    width = len(kernel)
    out = X.astype(np.float64).copy()
    for j in range(width):
        shifted = np.zeros_like(X, dtype=np.float64)
        shifted[..., j + 1:] = X[..., : X.shape[-1] - j - 1]
        out = out - kernel[j] * shifted
    out[..., :width] = 0.0
    return out


def rdw(X: np.ndarray, weights: np.ndarray) -> np.ndarray:
    """Per-dimension exponent weights x**w_d (transform.py:571-613)."""
    return X ** weights[np.newaxis, :, np.newaxis]


def jld(X: np.ndarray, proj: np.ndarray) -> np.ndarray:
    """Johnson-Lindenstrauss random projection over dims
    (transform.py:616-746).  ``proj (d_out, d)``."""
    return np.einsum("od,ndl->nol", proj, X)


def spe(
    X: np.ndarray, freq: float, operation: str = "multiplicative"
) -> np.ndarray:
    """Sinusoidal positional embedding x_t * sin(t / T**freq)
    (transform.py:749-835, default path)."""
    length = X.shape[-1]
    t = np.arange(length, dtype=np.float64)
    wave = np.sin(t / length**freq)
    if operation == "multiplicative":
        return X * wave
    return X + wave


def rpe(X: np.ndarray, freq: float) -> np.ndarray:
    """2-D rotational positional embedding (RoPE-style)
    (transform.py:838-907): rotate consecutive dim pairs by angle
    t / l**freq."""
    n, d, length = X.shape
    if d % 2 != 0:
        raise ValueError("RPE requires an even number of dimensions")
    ang = np.arange(length, dtype=np.float64) / length**freq
    c, s = np.cos(ang), np.sin(ang)
    out = np.empty_like(X, dtype=np.float64)
    out[:, 0::2, :] = X[:, 0::2, :] * c - X[:, 1::2, :] * s
    out[:, 1::2, :] = X[:, 0::2, :] * s + X[:, 1::2, :] * c
    return out


def cts(X: np.ndarray, s: int, pseudo_shift: bool = False) -> np.ndarray:
    """Constant time shift left by ``s`` (transform.py:910-958)."""
    out = np.zeros_like(X)
    if pseudo_shift:
        out[..., s:] = X[..., : X.shape[-1] - s]
    else:
        out[..., : X.shape[-1] - s] = X[..., s:]
        out[..., X.shape[-1] - s:] = X[..., -1:]
    return out


def qtc(
    X: np.ndarray, q_value: float, lower: bool = False,
    bound: float | None = None,
) -> np.ndarray:
    """Clip at a fitted dataset-level quantile value
    (transform.py:961-1015)."""
    if bound is not None:
        rep = np.full_like(X, bound)
    else:
        rep = np.full_like(X, q_value)
    if lower:
        return np.where(X < q_value, rep, X)
    return np.where(X > q_value, rep, X)


# --- wrappers (preparation/wrapper.py) --------------------------------------

def dim_wrap(X: np.ndarray, inner, dims) -> np.ndarray:
    """Apply ``inner`` to the selected dims only; output = remaining dims
    followed by the transformed ones (wrapper.py:40-44 — note the
    reorder)."""
    dims = np.atleast_1d(np.asarray(dims, dtype=np.int64))
    transformed = inner(X[:, dims, :])
    rest = np.delete(X, dims, axis=1)
    return np.concatenate((rest, transformed), axis=1)


def new_wrap(X: np.ndarray, inner=None) -> np.ndarray:
    """Append ``inner``'s output (or a copy of the input) as new dims
    (wrapper.py:79-96)."""
    extra = X if inner is None else inner(X)
    return np.concatenate((X, extra), axis=1)


def fun(X: np.ndarray, f) -> np.ndarray:
    """Arbitrary user callable on the 3-D batch (transform.py:1018-1048
    escape hatch)."""
    return f(X)


# --- filters (preparation/filter.py) ---------------------------------------

def dot_filter(X: np.ndarray, n: int, first: int | None = None) -> np.ndarray:
    """Keep every n-th point starting at ``first`` (default n-1), zero
    elsewhere (filter.py:123-194)."""
    if first is None:
        first = n - 1
    out = np.zeros_like(X)
    out[..., first::n] = X[..., first::n]
    return out


def win_filter(X: np.ndarray, start: float, end: float) -> np.ndarray:
    """Keep only the [coquantile(start)-1, coquantile(end)) window of L2
    increment mass, zero outside (filter.py:71-108)."""
    cq_s = coquantile(X, start, "L2")
    cq_e = coquantile(X, end, "L2")
    idx = np.arange(X.shape[-1])
    mask = (idx[np.newaxis, :] >= (cq_s - 1)[:, np.newaxis]) & (
        idx[np.newaxis, :] < cq_e[:, np.newaxis]
    )
    return X * mask[:, np.newaxis, :]


def dil(X: np.ndarray, indices: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Zero out slices [idx, idx+len) — indices drawn (seeded) at fit
    (filter.py:11-62)."""
    out = X.copy()
    for i, ln in zip(indices, lengths):
        out[..., i:i + ln] = 0
    return out


def pdd(X: np.ndarray, indices: np.ndarray, width: int) -> np.ndarray:
    """Zero equally-spaced strips (filter.py:209-258); strip layout fitted
    on the driver."""
    out = X.copy()
    for i in indices:
        out[..., i:i + width] = 0
    return out
