"""Iterated-sums-signature scan kernels, vectorized ACROSS series.

Semantics match the reference kernels (`/root/reference/fruits/iss/
semiring.py:98-527`) bit-for-bit on their own test fixtures, but the
implementation is architecturally different: instead of a JIT'd loop over
series (numba ``prange``), every kernel here operates on a regular 3-D
batch ``Z (n_series, n_dims, length)`` and performs the scans with
``axis=-1`` NumPy primitives (``cumsum`` / ``maximum.accumulate``), so an
entire Arrow batch of equal-length sequences is processed in a handful of
vectorized ops.  The engine's extract route runs the segmented twins in
:mod:`fruits_spark.kernels.flat`; these kernels are their parity oracle
(``executor.compute_features_block`` per equal-length group).

All math is float64; words are int32 exponent matrices; weighting lookup
tables are float64 ``(n, length)`` arrays.

Per reference behavior notes (verified against its tests):
  * Reals/Bayesian apply a shift-by-one ("roll") between letters so the
    ISS uses strictly increasing index tuples; the Arctic fast kernel and
    the Bayesian fast kernel do NOT roll (max-plus uses non-strict
    ordering) — semiring.py:109 vs 287-311/466-495.
  * With a weighting, summand (i1<...<ik) is scaled by
    ``exp(alpha_j*(g(i_{j+1})-g(i_j)))`` folded into the scans; the
    ``total`` variant additionally weights to the series end.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "iss",
    "iss_generic",
    "indices_lookup",
    "plateaus_lookup",
    "l1_lookup",
    "l2_lookup",
    "coquantile",
    "increments",
]


# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

def _pow_product(Z: np.ndarray, exps: np.ndarray, out: np.ndarray) -> np.ndarray:
    """Multiply ``out`` (n, l) in place by prod_d Z[:, d, :]**exps[d].

    Exponents are applied as repeated multiplication/division to match the
    reference's operation order exactly (semiring.py:111-117).
    """
    for dim, e in enumerate(exps):
        if e > 0:
            for _ in range(int(e)):
                out = out * Z[:, dim, :]
        elif e < 0:
            for _ in range(int(-e)):
                out = out / Z[:, dim, :]
    return out


def _linear_combo(Z: np.ndarray, exps: np.ndarray) -> np.ndarray:
    """sum_d exps[d] * Z[:, d, :]  (arctic 'product' = addition)."""
    out = np.zeros((Z.shape[0], Z.shape[2]), dtype=np.float64)
    for dim, e in enumerate(exps):
        if e != 0:
            out = out + float(e) * Z[:, dim, :]
    return out


def _shift1(tmp: np.ndarray) -> np.ndarray:
    """Shift right by one along time, zero-filling the first step."""
    out = np.empty_like(tmp)
    out[:, 1:] = tmp[:, :-1]
    out[:, 0] = 0.0
    return out


def _runmax(tmp: np.ndarray) -> np.ndarray:
    return np.maximum.accumulate(tmp, axis=-1)


def _cumsum(tmp: np.ndarray) -> np.ndarray:
    return np.cumsum(tmp, axis=-1)


# ---------------------------------------------------------------------------
# fast path: SimpleWord over Reals / Arctic / Bayesian
# ---------------------------------------------------------------------------

def _iss_reals(Z, word, alpha, lookup, extended):
    n, _, length = Z.shape
    k_total = len(word)
    result = np.zeros((n, extended, length), dtype=np.float64)
    tmp = np.ones((n, length), dtype=np.float64)
    for k in range(k_total):
        if k > 0:
            tmp = _shift1(tmp)
        tmp = _pow_product(Z, word[k], tmp)
        if k > 0:
            tmp = tmp * np.exp(-lookup * alpha[k - 1])
        if k_total - k <= extended:
            result[:, extended - (k_total - k), :] = _cumsum(tmp)
        if k < k_total - 1:
            tmp = _cumsum(tmp * np.exp(lookup * alpha[k]))
    return result


def _iss_reals_total(Z, word, alpha, lookup, extended):
    n, _, length = Z.shape
    k_total = len(word)
    result = np.zeros((n, extended, length), dtype=np.float64)
    tmp = np.ones((n, length), dtype=np.float64)
    for k in range(k_total):
        tmp = _pow_product(Z, word[k], tmp)
        tmp = _cumsum(tmp * np.exp(lookup * alpha[k]))
        if k_total - k <= extended:
            result[:, extended - (k_total - k), :] = (
                tmp * np.exp(-lookup * alpha[k])
            )
        if k < k_total - 1:
            tmp = _shift1(tmp) * np.exp(-lookup * alpha[k])
    return result


def _iss_arctic(Z, word, alpha, lookup, extended):
    n, _, length = Z.shape
    k_total = len(word)
    result = np.zeros((n, extended, length), dtype=np.float64)
    tmp = np.zeros((n, length), dtype=np.float64)
    for k in range(k_total):
        tmp = tmp + _linear_combo(Z, word[k])
        if k > 0:
            tmp = tmp - lookup * alpha[k - 1]
        if k_total - k <= extended:
            result[:, extended - (k_total - k), :] = _runmax(tmp)
        if k < k_total - 1:
            tmp = _runmax(tmp + lookup * alpha[k])
    return result


def _iss_arctic_total(Z, word, alpha, lookup, extended):
    n, _, length = Z.shape
    k_total = len(word)
    result = np.zeros((n, extended, length), dtype=np.float64)
    tmp = np.zeros((n, length), dtype=np.float64)
    for k in range(k_total):
        tmp = tmp + _linear_combo(Z, word[k])
        tmp = _runmax(tmp + lookup * alpha[k])
        if k_total - k <= extended:
            result[:, extended - (k_total - k), :] = tmp - lookup * alpha[k]
        if k < k_total - 1:
            tmp = tmp - lookup * alpha[k]
    return result


def _iss_bayesian(Z, word, alpha, lookup, extended):
    n, _, length = Z.shape
    k_total = len(word)
    result = np.zeros((n, extended, length), dtype=np.float64)
    tmp = np.ones((n, length), dtype=np.float64)
    for k in range(k_total):
        tmp = _pow_product(Z, word[k], tmp)
        if k > 0:
            tmp = tmp * np.exp(-lookup * alpha[k - 1])
        if k_total - k <= extended:
            result[:, extended - (k_total - k), :] = _runmax(tmp)
        if k < k_total - 1:
            tmp = _runmax(tmp * np.exp(lookup * alpha[k]))
    return result


def _iss_bayesian_total(Z, word, alpha, lookup, extended):
    n, _, length = Z.shape
    k_total = len(word)
    result = np.zeros((n, extended, length), dtype=np.float64)
    tmp = np.ones((n, length), dtype=np.float64)
    for k in range(k_total):
        tmp = _pow_product(Z, word[k], tmp)
        tmp = _runmax(tmp * np.exp(lookup * alpha[k]))
        if k_total - k <= extended:
            result[:, extended - (k_total - k), :] = (
                tmp * np.exp(-lookup * alpha[k])
            )
        if k < k_total - 1:
            tmp = tmp * np.exp(-lookup * alpha[k])
    return result


_KERNELS = {
    ("reals", False): _iss_reals,
    ("reals", True): _iss_reals_total,
    ("arctic", False): _iss_arctic,
    ("arctic", True): _iss_arctic_total,
    ("bayesian", False): _iss_bayesian,
    ("bayesian", True): _iss_bayesian_total,
}


def iss(
    Z: np.ndarray,
    word: np.ndarray,
    extended: int = 1,
    semiring: str = "reals",
    alpha: np.ndarray | None = None,
    lookup: np.ndarray | None = None,
    total: bool = True,
) -> np.ndarray:
    """Iterated sums of ``word`` over batch ``Z (n, d, l)``.

    Returns ``(n, extended, l)``: the streams of the ``extended`` longest
    prefixes of the word, shortest first.  ``lookup`` is the weighting
    table ``g`` (``(n, l)``); ``alpha`` the per-letter exponents.  With no
    weighting the reference passes zeros and ``total=True``
    (semiring.py:26-35); we shortcut to the unweighted kernels.
    """
    if Z.ndim == 2:
        Z = Z[:, np.newaxis, :]
    Z = np.ascontiguousarray(Z, dtype=np.float64)
    word = np.asarray(word, dtype=np.int32)
    if word.shape[1] < Z.shape[1]:
        word = np.pad(word, ((0, 0), (0, Z.shape[1] - word.shape[1])))
    if word.shape[1] > Z.shape[1]:
        raise ValueError(
            f"word uses dim {word.shape[1]} but input has {Z.shape[1]}"
        )
    weighted = lookup is not None
    if not weighted:
        lookup = np.zeros((Z.shape[0], Z.shape[2]), dtype=np.float64)
        alpha = np.zeros(len(word), dtype=np.float32)
        total = False  # exp(0)=1 either way; non-total variant is cheaper
    else:
        alpha = np.asarray(
            alpha if alpha is not None else np.ones(len(word)),
            dtype=np.float32,
        )
    kern = _KERNELS[(semiring, bool(total))]
    return kern(Z, word, alpha.astype(np.float64), lookup, int(extended))


# ---------------------------------------------------------------------------
# slow path: generic letter functions (DIM / ABS / user-registered)
# ---------------------------------------------------------------------------

LETTERS = {
    "DIM": lambda Z, d: Z[:, d, :],
    "ABS": lambda Z, d: np.abs(Z[:, d, :]),
}


def register_letter(name: str, fn) -> None:
    """User letter registration (the reference's ``@letter`` decorator,
    letters.py:132-206): ``fn(Z (n,d,l), dim) -> (n, l)``."""
    LETTERS[name] = fn


def iss_generic(
    Z: np.ndarray,
    word: list[list[tuple[str, int]]],
    extended: int = 1,
    semiring: str = "reals",
) -> np.ndarray:
    """Generic-word ISS: each extended letter is a list of
    ``(letter_name, dim)`` pairs applied through :data:`LETTERS`.

    Mirrors ``Semiring._iterated_sum`` (semiring.py:54-75) for reals and
    the rolled base recurrence; Arctic overrides without roll
    (semiring.py:428-446).
    """
    if Z.ndim == 2:
        Z = Z[:, np.newaxis, :]
    Z = np.ascontiguousarray(Z, dtype=np.float64)
    n, _, length = Z.shape
    if semiring == "reals":
        identity, op, cum = 1.0, np.multiply, _cumsum
        roll = True
    elif semiring == "arctic":
        identity, op, cum = 0.0, np.add, _runmax
        roll = False
    elif semiring == "bayesian":
        identity, op, cum = 1.0, np.multiply, _runmax
        roll = True
    else:
        raise ValueError(semiring)
    k_total = len(word)
    result = np.zeros((n, extended, length), dtype=np.float64)
    tmp = np.full((n, length), identity, dtype=np.float64)
    for k, ext_letter in enumerate(word):
        C = np.full((n, length), identity, dtype=np.float64)
        for name, dim in ext_letter:
            C = op(C, LETTERS[name](Z, dim))
        if roll and k > 0:
            tmp = _shift1(tmp)
            # the reference applies op/cum on tmp[k:] only; with the
            # zero-shift the first k entries stay 0 under cumsum anyway
            # for reals, and we reproduce the masked variant exactly:
            head = tmp[:, :k].copy()
            tmp = op(tmp, C)
            tmp[:, :k] = head
            tail = cum(tmp[:, k:])
            tmp = np.concatenate([head, tail], axis=1)
        else:
            tmp = cum(op(tmp, C))
        if k_total - k <= extended:
            result[:, extended - (k_total - k), :] = tmp
    return result


# ---------------------------------------------------------------------------
# Arctic argmax: values + maximizing indices (reference:
# semiring.py:239-279)
# ---------------------------------------------------------------------------

def _runmax_argmax(tmp: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Running max along time plus the index of the LAST strict
    improvement (ties keep the earlier index, matching the reference's
    ``>=`` keep-branch)."""
    r = np.maximum.accumulate(tmp, axis=-1)
    changed = np.empty(tmp.shape, dtype=bool)
    changed[:, 0] = True
    changed[:, 1:] = r[:, 1:] > r[:, :-1]
    pos = np.arange(tmp.shape[-1])[np.newaxis, :]
    upd = np.where(changed, pos, -1)
    return r, np.maximum.accumulate(upd, axis=-1).astype(np.float64)


def iss_arctic_argmax(
    Z: np.ndarray,
    word: np.ndarray,
    alpha: np.ndarray | None = None,
    lookup: np.ndarray | None = None,
) -> np.ndarray:
    """Arctic ISS with argmax tracking: for a word of length p returns
    ``p + p(p+1)/2`` streams — per prefix its value stream, plus the
    maximizing index of each of its letters, back-translated so that at
    every output position the indices describe the maximizing tuple.
    Layout matches the reference exactly (semiring.py:268-279)."""
    if Z.ndim == 2:
        Z = Z[:, np.newaxis, :]
    Z = np.ascontiguousarray(Z, dtype=np.float64)
    n, _, length = Z.shape
    word = np.asarray(word, dtype=np.int32)
    if word.shape[1] < Z.shape[1]:
        word = np.pad(word, ((0, 0), (0, Z.shape[1] - word.shape[1])))
    p = len(word)
    if lookup is None:
        lookup = np.zeros((n, length))
        alpha = np.zeros(p, dtype=np.float32)
    a = np.asarray(alpha, dtype=np.float32).astype(np.float64)
    vals = np.zeros((p, n, length))
    idxs = np.zeros((p, n, length))
    tmp = np.zeros((n, length))
    for k in range(p):
        if not np.any(word[k]):
            continue
        tmp = tmp + _linear_combo(Z, word[k])
        if k > 0:
            tmp = tmp - lookup * a[k - 1]
        vals[k], idxs[k] = _runmax_argmax(tmp)
        if k < p - 1:
            tmp = _runmax(tmp + lookup * a[k])
    n_out = p + p * (p + 1) // 2
    out = np.zeros((n, n_out, length))
    pos = np.arange(length)[np.newaxis, :]
    rows = np.arange(n)
    for k in range(p - 1, -1, -1):
        index = k + k * (k + 1) // 2
        out[:, index, :] = vals[k]
        out[:, index + k + 1, :] = idxs[k]
        for s in range(k, 0, -1):
            # freeze the earlier letter's argmax stream at the position
            # the later letter's final argmax points to
            c = out[:, index + s + 1, -1].astype(np.int64) + 1
            prev = idxs[s - 1]
            frozen = prev[rows, np.maximum(c - 1, 0)]
            out[:, index + s, :] = np.where(
                pos < c[:, np.newaxis], prev, frozen[:, np.newaxis]
            )
    return out


# ---------------------------------------------------------------------------
# CosWISS: cosine-weighted ISS (reference: iss/cos.py:16-351)
# ---------------------------------------------------------------------------

def coswiss_table(n_letters: int, exponent: int, total: bool) -> np.ndarray:
    """Binomial expansion of the gap-wise cosine weights.

    ``cos(g_j - g_i)^s = sum_k C(s,k) (sin g_i sin g_j)^(s-k)
    (cos g_i cos g_j)^k`` — each of the ``p-1`` gaps independently picks
    a ``k``, giving rows ``[coeff, sin_1, cos_1, ..., sin_p, cos_p]``
    ((s+1)^(p-1) rows; p = word length, +1 with total weighting, whose
    extra letter is the running output position).  Matches the
    reference's ``_get_weightings`` (cos.py:265-287) without its
    single-digit string encoding.
    """
    from itertools import product as iproduct
    from math import comb

    p = n_letters + 1 if total else n_letters
    rows = []
    for combo in iproduct(range(exponent + 1), repeat=p - 1):
        row = np.zeros(2 * p + 1, dtype=np.int64)
        row[0] = 1
        for i, k in enumerate(combo):
            row[0] *= comb(exponent, k)
            sin_e, cos_e = exponent - k, k
            row[2 * i + 1] += sin_e
            row[2 * i + 3] += sin_e
            row[2 * i + 2] += cos_e
            row[2 * i + 4] += cos_e
        rows.append(row)
    return np.array(rows)


def _mul_pow(tmp: np.ndarray, base: np.ndarray, e: int) -> np.ndarray:
    for _ in range(int(e)):
        tmp = tmp * base
    return tmp


def coswiss(
    Z: np.ndarray,
    word: np.ndarray,
    freq: float,
    exponent: int = 2,
    total: bool = False,
    dropout_indices: np.ndarray | None = None,
) -> np.ndarray:
    """Cosine-weighted ISS stream (n, l): summands weighted by
    ``prod_gaps cos(pi*(t_next - t_prev)/(f*(N-1)))^s`` (cos.py:16-49).
    ``dropout_indices``: optional (n_letters, r) index array zeroed
    before each cumsum (the 'leaky' variant, cos.py:55-93; indices drawn
    seeded on the driver)."""
    if Z.ndim == 2:
        Z = Z[:, np.newaxis, :]
    Z = np.ascontiguousarray(Z, dtype=np.float64)
    n, _, length = Z.shape
    word = np.asarray(word, dtype=np.int32)
    if word.shape[1] < Z.shape[1]:
        word = np.pad(word, ((0, 0), (0, Z.shape[1] - word.shape[1])))
    # the reference kernel receives freq as float32 (cos.py:12 signature)
    f32 = float(np.float32(freq))
    denom = f32 * (length - 1) if length > 1 else 1.0
    g = np.pi * np.arange(length) / denom
    sin_w, cos_w = np.sin(g), np.cos(g)
    from math import comb

    # Gap-choice trie CSE over the binomial table: the (s+1)^(p-1) rows
    # are paths of a trie over per-gap (sin,cos)-exponent choices, and
    # rows sharing a choice prefix share the entire scan chain up to
    # that letter — computed once here via DFS instead of once per row.
    # BIT-EXACT vs the per-row loop: along every root-to-leaf path the
    # operation sequence is identical, shared states are never mutated,
    # and leaves are visited in the same lexicographic order the table
    # enumerates, so the result accumulation order is unchanged.
    # (p*(s+1)^(p-1) letter-steps drop to ~((s+1)^p-1)/s — measured
    # ~2.5-3x on the fruit_general/reduced CosWISS slices.)
    n_let = len(word)
    n_gaps = (n_let + 1 if total else n_let) - 1
    result = np.zeros((n, length), dtype=np.float64)

    def step(state, k, sin_e, cos_e):
        tmp = _shift1(state) if k > 0 else state
        tmp = _pow_product(Z, word[k], tmp)
        tmp = _mul_pow(tmp, sin_w, sin_e)
        tmp = _mul_pow(tmp, cos_w, cos_e)
        if dropout_indices is not None:
            tmp[:, dropout_indices[k]] = 0.0
        return _cumsum(tmp)

    def dfs(k, state, coeff, prev):
        nonlocal result
        if k == n_let:
            tmp = state
            if total:
                # total position: right side of the last gap
                tmp = _mul_pow(tmp, sin_w, exponent - prev)
                tmp = _mul_pow(tmp, cos_w, prev)
            result += coeff * tmp
            return
        right_sin = (exponent - prev) if k > 0 else 0
        right_cos = prev if k > 0 else 0
        if k < n_gaps:
            for c in range(exponent + 1):
                st = step(state, k, right_sin + (exponent - c),
                          right_cos + c)
                dfs(k + 1, st, coeff * comb(exponent, c), c)
        else:
            st = step(state, k, right_sin, right_cos)
            dfs(k + 1, st, coeff, prev)

    dfs(0, np.ones((n, length), dtype=np.float64), 1, 0)
    return result


def coswiss_multi(
    Z: np.ndarray,
    words,
    freq: float,
    exponent: int = 2,
    total: bool = False,
) -> list[np.ndarray]:
    """CosWISS for MANY words of one frequency with cross-word CSE:
    words sharing a letter prefix share the scan chain per gap-choice
    prefix (a word trie layered over :func:`coswiss`'s gap-choice trie).
    Returns per-word results BIT-IDENTICAL to ``coswiss(Z, w, ...)`` —
    for every word the root-to-leaf operation sequences and the
    lexicographic leaf accumulation order are exactly the per-word
    kernel's; sharing only removes recomputation of identical prefixes
    (same argument as the reals scan trie in the executor)."""
    from math import comb

    if Z.ndim == 2:
        Z = Z[:, np.newaxis, :]
    Z = np.ascontiguousarray(Z, dtype=np.float64)
    n, _, length = Z.shape
    f32 = float(np.float32(freq))
    denom = f32 * (length - 1) if length > 1 else 1.0
    g = np.pi * np.arange(length) / denom
    sin_w, cos_w = np.sin(g), np.cos(g)

    letter_seqs = []
    for w in words:
        w = np.asarray(w, dtype=np.int32)
        if w.shape[1] < Z.shape[1]:
            w = np.pad(w, ((0, 0), (0, Z.shape[1] - w.shape[1])))
        letter_seqs.append(tuple(tuple(int(e) for e in row) for row in w))

    children: dict[tuple, list] = {(): []}
    # a letter sequence may belong to SEVERAL word indices (duplicate
    # words, or words that collapse after dim zero-padding) — every one
    # of them must receive the shared stream
    ends: dict[tuple, list] = {}
    for wi, ls in enumerate(letter_seqs):
        for j in range(len(ls)):
            node, nxt = ls[:j], ls[:j + 1]
            kids = children.setdefault(node, [])
            if nxt not in kids:
                kids.append(nxt)
            children.setdefault(nxt, [])
        ends.setdefault(ls, []).append(wi)

    results = [np.zeros((n, length), dtype=np.float64) for _ in words]
    letter_arr = {
        child: np.asarray(child[-1], dtype=np.int32)
        for kids in children.values() for child in kids
    }

    def step(state, letter, k, sin_e, cos_e):
        tmp = _shift1(state) if k > 0 else state
        tmp = _pow_product(Z, letter, tmp)
        tmp = _mul_pow(tmp, sin_w, sin_e)
        tmp = _mul_pow(tmp, cos_w, cos_e)
        return _cumsum(tmp)

    def dfs(node, state, coeff, prev):
        k = len(node)
        right_sin = (exponent - prev) if k > 0 else 0
        right_cos = prev if k > 0 else 0
        for child in children[node]:
            letter = letter_arr[child]
            wis = ends.get(child, ())
            if wis and not total:
                # word(s) end here: the last letter has no following gap
                st = step(state, letter, k, right_sin, right_cos)
                for wi in wis:
                    results[wi] += coeff * st
            if children[child] or (wis and total):
                for c in range(exponent + 1):
                    st = step(state, letter, k,
                              right_sin + (exponent - c), right_cos + c)
                    if wis and total:
                        tmp = _mul_pow(st, sin_w, exponent - c)
                        tmp = _mul_pow(tmp, cos_w, c)
                        for wi in wis:
                            results[wi] += (coeff * comb(exponent, c)) * tmp
                    if children[child]:
                        dfs(child, st, coeff * comb(exponent, c), c)

    dfs((), np.ones((n, length), dtype=np.float64), 1, 0)
    return results


# ---------------------------------------------------------------------------
# weighting lookups + coquantiles (reference: iss/weighting.py, cache.py)
# ---------------------------------------------------------------------------

def _nrm01(x: np.ndarray) -> np.ndarray:
    """Row-wise min-max to [0,1]; constant rows -> 0 (NRM semantics)."""
    lo = x.min(axis=-1, keepdims=True)
    hi = x.max(axis=-1, keepdims=True)
    span = hi - lo
    out = np.zeros_like(x)
    mask = (span != 0)[:, 0]
    out[mask] = (x[mask] - lo[mask]) / span[mask]
    return out


def increments(X: np.ndarray, k: int = 1) -> np.ndarray:
    """k-lag increments along time, the first k entries zero (cache.py:8-13)."""
    out = np.zeros_like(X, dtype=np.float64)
    out[..., k:] = X[..., k:] - X[..., :-k]
    return out


def indices_lookup(
    n: int, length: int, relative: bool = True, scale: float = 50.0
) -> np.ndarray:
    """g(i) = i/N scaled to [0, scale] (weighting.py:69-110)."""
    r = np.arange(1, length + 1, dtype=np.float64)
    if relative:
        r = r / length
    r = _nrm01(r[np.newaxis, :])[0] * scale
    return np.broadcast_to(r, (n, length)).copy()


def plateaus_lookup(
    n: int, length: int, nplateaus: int, reverse: bool = False,
    scale: float = 50.0,
) -> np.ndarray:
    """Step-function g (weighting.py:213-256)."""
    r = np.ones(length, dtype=np.float64)
    step = int(length / nplateaus)
    for i in range(nplateaus):
        r[i * step:(i + 1) * step] = i / (nplateaus - 1)
    if reverse:
        r = r[::-1]
    r = _nrm01(r[np.newaxis, :])[0] * scale
    return np.broadcast_to(r, (n, length)).copy()


def l1_lookup(
    X: np.ndarray, relative: bool = False, scale: float = 50.0
) -> np.ndarray:
    """g = cumsum |Δ x_dim0|, min-max scaled (weighting.py:113-160)."""
    s = np.cumsum(np.abs(increments(X[:, 0:1, :], 1)[:, 0, :]), axis=-1)
    if relative:
        s = s / (s[:, -1:] + 1e-5)
    return _nrm01(s) * scale


def l2_lookup(
    X: np.ndarray, relative: bool = False, scale: float = 50.0
) -> np.ndarray:
    """g = cumsum (Δ x_dim0)^2, min-max scaled (weighting.py:163-210)."""
    d = increments(X[:, 0:1, :], 1)[:, 0, :]
    s = np.cumsum(d * d, axis=-1)
    if relative:
        s = s / (s[:, -1:] + 1e-5)
    return _nrm01(s) * scale


def l1_mass(X: np.ndarray) -> np.ndarray:
    """Raw cumulative L1 increment mass of dim 0 (cache.py:25-31)."""
    return np.cumsum(np.abs(increments(X[:, 0:1, :], 1)[:, 0, :]), axis=-1)


def l2_mass(X: np.ndarray) -> np.ndarray:
    """Raw cumulative L2 increment mass of dim 0 (cache.py:34-40)."""
    d = increments(X[:, 0:1, :], 1)[:, 0, :]
    return np.cumsum(d * d, axis=-1)


def coquantile(X: np.ndarray, q: float, norm: str = "L2") -> np.ndarray:
    """Per-series index by which fraction ``q`` of the total increment
    mass has accumulated: ``#{t : S_t <= q * S_last}`` (cache.py:16-22).
    """
    S = l1_mass(X) if norm == "L1" else l2_mass(X)
    return np.sum(S <= q * S[:, -1:], axis=-1).astype(np.int64)
