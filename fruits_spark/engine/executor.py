"""Compile a :class:`~fruits_spark.plan.FruitPlan` into a Spark job.

One route: ONE ``mapInPandas`` over the token table, one body.  Each
Arrow batch is cut into sub-batches of a bounded number of points
(tokens x dims), flattened to Arrow's list layout — ``(values,
offsets)``, one flat array per dimension, univariate input being a
one-column list — and every slice's prep -> ISS -> sieve chain runs as
segmented NumPy ops over the whole sub-batch
(:func:`compute_features_flat`, :mod:`fruits_spark.kernels.flat`).
Preparateurs without a segmented kernel run their 3-D kernel per
equal-length group inside that route (``flat.prep_rows_map``).  No
per-row Python, no shuffle — feature extraction is embarrassingly
parallel across partitions; the only shuffles in an end-to-end job are
the rollup ``groupBy`` afterwards.

:func:`compute_features_block` runs the same plan on one equal-length
3-D block with the bucketed kernels (:mod:`fruits_spark.kernels.iss`,
``prep``, ``sieve``).  It is the reference-parity oracle the tests and
the kernel benchmark call; the extract route never does.

Feature columns come out *wide* (one DoubleType column per feature,
sanitized names + a label map) so the downstream tier rollup is plain
JVM hash aggregation with map-side partial aggregation; Catalyst prunes
unused feature columns out of the UDF projection automatically.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from .. import plan as Pl
from ..kernels import iss as KI
from ..kernels import prep as KP
from ..kernels import sieve as KS
from ..kernels.segments import flatten_lists, flatten_lists_mv, shared_dims


def _apply_prep(Z: np.ndarray, p: Pl.Prep) -> np.ndarray:
    if p.kind == "dim":
        inner = p.params["prep"]
        return KP.dim_wrap(
            Z, lambda sub: _apply_prep(sub, inner), p.params["dims"]
        )
    if p.kind == "new":
        inner = p.params.get("prep")
        if inner is None:
            return KP.new_wrap(Z)
        return KP.new_wrap(Z, lambda sub: _apply_prep(sub, inner))
    if p.kind == "fun":
        return KP.fun(Z, p.params["f"])
    if p.kind == "dil":
        return KP.dil(Z, **p.params)
    if p.kind == "pdd":
        return KP.pdd(Z, **p.params)
    if p.kind == "mav" and p.params.get("width") == -1:
        return KP.mav_dims(Z)
    fn = {
        "inc": KP.inc,
        "std": KP.std,
        "nrm": KP.nrm,
        "mav": KP.mav,
        "lag": KP.lag,
        "dot": KP.dot_filter,
        "win": KP.win_filter,
        "cts": KP.cts,
        "qtc": KP.qtc,
        "ffn": KP.ffn,
        "rin": KP.rin,
        "rdw": KP.rdw,
        "jld": KP.jld,
        "spe": KP.spe,
        "rpe": KP.rpe,
    }[p.kind]
    return fn(Z, **p.params)


def _lookup_for(spec: Pl.ISSSpec, Z: np.ndarray, Z_orig: np.ndarray | None = None):
    """Weighting lookup table.  L1/L2 default to the ORIGINAL input
    (reference: weighting.py:148-150, cache input = the fruit's X);
    ``on_prepared=True`` switches to the ISS's direct input ``Z``."""
    if spec.weighting is None:
        return None
    n, _, length = Z.shape
    wp = dict(spec.weighting_params)
    on_prepared = wp.pop("on_prepared", False)
    base = Z if (on_prepared or Z_orig is None) else Z_orig
    if spec.weighting == "indices":
        return KI.indices_lookup(n, length, **wp)
    if spec.weighting == "l1":
        return KI.l1_lookup(base, **wp)
    if spec.weighting == "l2":
        return KI.l2_lookup(base, **wp)
    if spec.weighting == "plateaus":
        return KI.plateaus_lookup(n, length, **wp)
    if spec.weighting == "custom":
        # reference Custom weighting (weighting.py:41-66): user g(X)
        return wp["fn"](base)
    raise ValueError(spec.weighting)


def _sieve_quantiles(sv: Pl.Sieve, stream_idx: int):
    """Band values for this stream: per-stream fitted values if the plan
    was fitted (reference fits one sieve copy per stream,
    fruit.py:488-496), else the unfitted -inf/0/inf resolution."""
    from ..kernels.sieve import resolve_quantiles

    p = sv.params
    if "q_values_per_stream" in p:
        return np.asarray(p["q_values_per_stream"][stream_idx])
    return np.asarray(
        p.get("q_values", resolve_quantiles(None, p.get("q", (-1.0, 1.0))))
    )


def _ppv_quantiles(sv: Pl.Sieve, stream_idx: int):
    p = sv.params
    if "quantiles_per_stream" in p:
        return list(p["quantiles_per_stream"][stream_idx])
    return list(p.get("quantiles", [0.5]))


def _apply_sieve(stream: np.ndarray, sv: Pl.Sieve, Z_src: np.ndarray,
                 stream_idx: int = 0) -> np.ndarray:
    """stream (n, l) -> features (n, k).  ``Z_src`` is the slice's
    original input batch — coquantile cuts are computed on it."""
    p = sv.params
    pre = p.get("pre", 0)
    if pre:
        # INC / INT sieve wrappers (reference sieving/wrapper.py:9-104):
        # pre>0 = evaluate on |pre|-fold increments, pre<0 = on cumsums
        stream = KS._pre_inc(stream, pre)
    if sv.kind in ("ppv", "cpv"):
        qs = _ppv_quantiles(sv, stream_idx)
        fn = KS.sieve_ppv if sv.kind == "ppv" else KS.sieve_cpv
        return fn(stream, qs, segments=p.get("segments", False))
    cuts_spec = p.get("cuts", [-1])
    norm = p.get("norm", "L2")
    q = _sieve_quantiles(sv, stream_idx)
    if sv.kind in ("npi", "mpi", "xpi", "lpi"):
        fn = {
            "npi": KS.sieve_npi, "mpi": KS.sieve_mpi,
            "xpi": KS.sieve_xpi, "lpi": KS.sieve_lpi,
        }[sv.kind]
        return fn(stream, list(cuts_spec), q, inc=p.get("inc", 1),
                  source=Z_src, norm=norm)
    cuts = KS.resolve_cuts(stream, list(cuts_spec), norm, source=Z_src)
    if sv.kind == "end":
        return KS.sieve_end(stream, cuts)
    if sv.kind == "max":
        return KS.sieve_max(stream, cuts, q)
    if sv.kind == "min":
        return KS.sieve_min(stream, cuts, q)
    if sv.kind == "cur":
        return KS.sieve_cur(stream, cuts, q)
    if sv.kind == "avg":
        return KS.sieve_avg(stream, cuts, q, faithful=p.get("faithful", True))
    if sv.kind == "std":
        return KS.sieve_std(stream, cuts, q, faithful=p.get("faithful", True))
    raise ValueError(sv.kind)


def _emit_streams_block(Zp: np.ndarray, specs: tuple, Z_orig=None):
    """Yield final-level streams (n, l) for a chain of ISS specs on a
    3-D block (chained ISS semantics: fruit.py:440-454 — each stream of
    spec_i feeds spec_{i+1} as a univariate series)."""
    spec = specs[0]
    if isinstance(spec, Pl.CosWISSSpec):
        # cross-word CSE per frequency (coswiss_multi: words sharing a
        # letter prefix share the scan chain, bit-identical results);
        # emission stays word-major, which forces buffering ALL
        # n_words * n_freqs streams of this spec; each slot is
        # released as soon as it is consumed so peak decays over the
        # emission
        per_freq = {
            f: KI.coswiss_multi(
                Zp, [w.matrix for w in spec.words], f,
                exponent=spec.exponent, total=spec.total,
            )
            for f in spec.freqs
        }
        for wi, w in enumerate(spec.words):
            for f in spec.freqs:
                stream = per_freq[f][wi]
                per_freq[f][wi] = None  # release once consumed
                if len(specs) == 1:
                    yield stream
                else:
                    yield from _emit_streams_block(
                        stream[:, np.newaxis, :], specs[1:], Z_orig
                    )
        return
    lookup = _lookup_for(spec, Zp, Z_orig)
    if getattr(spec, "argmax", False):
        for w in spec.words:
            alpha = (
                np.array(w.alpha, dtype=np.float32)
                if spec.weighting is not None else None
            )
            streams = KI.iss_arctic_argmax(Zp, w.matrix, alpha, lookup)
            for s in range(streams.shape[1]):
                stream = streams[:, s, :]
                if len(specs) == 1:
                    yield stream
                else:
                    yield from _emit_streams_block(
                        stream[:, np.newaxis, :], specs[1:], Z_orig
                    )
        return
    pplan = spec.plan()
    for wi, w in enumerate(spec.words):
        depth = pplan.depth(wi) if pplan is not None else 1
        if depth == 0:
            continue
        alpha = (
            np.array(w.alpha, dtype=np.float32)
            if spec.weighting is not None else None
        )
        streams = KI.iss(
            Zp, w.matrix, extended=depth, semiring=spec.semiring,
            alpha=alpha, lookup=lookup, total=spec.total,
        )
        for s in range(depth):
            stream = streams[:, s, :]
            if len(specs) == 1:
                yield stream
            else:
                yield from _emit_streams_block(
                    stream[:, np.newaxis, :], specs[1:], Z_orig
                )


def compute_features_block(Z: np.ndarray, fplan: Pl.FruitPlan) -> np.ndarray:
    """One equal-length 3-D block -> (n, n_features) float64.

    This is the unit the reference calls ``Fruit.transform``
    (fruit.py:138-173), restructured: NaNs are zeroed at the end exactly
    like the reference (fruit.py:172).
    """
    n = Z.shape[0]
    out = np.empty((n, fplan.n_features()), dtype=np.float64)
    col = 0
    for sl in fplan.slices:
        Zp = Z
        for p in sl.preps:
            Zp = _apply_prep(Zp, p)
        # sieve coquantile cuts come from the fruit-level cache, i.e. the
        # ORIGINAL input Z, not the prepared/chained stream
        # (reference: FruitSlice uses the fruit's SharedSeedCache(X))
        for si, stream in enumerate(_emit_streams_block(Zp, sl.iss_chain(), Z)):
            for sv in sl.sieves:
                feats = _apply_sieve(stream, sv, Z, si)
                out[:, col:col + feats.shape[1]] = feats
                col += feats.shape[1]
    if col != fplan.n_features():
        raise AssertionError(f"feature accounting: {col} != {fplan.n_features()}")
    return np.nan_to_num(out, nan=0.0, posinf=0.0, neginf=0.0)


_FLAT_PREPS = {"inc", "std", "nrm"}
_FLAT_SIEVES = {
    "max", "min", "end", "cur", "npi", "mpi", "xpi", "lpi", "ppv", "cpv",
    "avg", "std",
}
_FLAT_WEIGHTINGS = (None, "indices", "l1", "l2", "plateaus", "custom")


def _prep_flat_ok(p: Pl.Prep) -> bool:
    if p.kind in ("new", "dim"):
        inner = p.params.get("prep")
        return inner is None or _prep_flat_ok(inner)
    return p.kind in _FLAT_PREPS


def plan_is_flat(fplan: Pl.FruitPlan, n_dims: int = 1) -> bool:
    """True if no op needs the block adapter (``flat.prep_rows_map``):
    every preparateur, at any NEW/DIM depth, has a segmented kernel.
    Every plan runs on the flat layout either way; this only says
    whether some rows take a trip through the 3-D prep kernels."""
    del n_dims  # every op is dim-agnostic; kept for call stability
    for sl in fplan.slices:
        if any(not _prep_flat_ok(p) for p in sl.preps):
            return False
        if any(sv.kind not in _FLAT_SIEVES for sv in sl.sieves):
            return False
        for spec in sl.iss_chain():
            if isinstance(spec, Pl.CosWISSSpec):
                continue
            if spec.semiring not in ("reals", "arctic", "bayesian"):
                return False
            if spec.weighting not in _FLAT_WEIGHTINGS:
                return False
    return True


def _apply_prep_flat(seg, cols: list, p: Pl.Prep) -> tuple:
    """Flat prep on a per-dimension column list -> (geometry, columns).
    inc/std/nrm have segmented kernels (per-dim ops map column-wise);
    NEW/DIM wrappers manipulate the list like the bucketed
    ``new_wrap``/``dim_wrap`` manipulate axis 1; every other prep runs
    its 3-D kernel per equal-length group (``KF.prep_rows_map``), which
    returns a new geometry when it changes lengths (``lag``, ``fun``)."""
    from ..kernels import flat as KF

    if p.kind in ("new", "dim"):
        inner = p.params.get("prep")
        if p.kind == "new":
            picked, rest = cols, cols
        else:
            d = len(cols)
            dims = [int(i) for i in np.atleast_1d(p.params["dims"])]
            if any(not -d <= i < d for i in dims):
                raise ValueError(f"DIM dims {dims} out of range for {d} dims")
            dims = [i % d for i in dims]  # negatives count from the end
            picked = [cols[i] for i in dims]
            rest = [c for i, c in enumerate(cols) if i not in dims]
        if inner is None:
            return seg, list(rest) + list(picked)
        inner_seg, transformed = _apply_prep_flat(seg, picked, inner)
        if inner_seg is not seg:
            raise ValueError(
                f"{p.kind.upper()} cannot wrap {inner.kind!r}: it changes "
                "the series length, so its output does not line up with "
                "the other dims"
            )
        return seg, list(rest) + list(transformed)
    if p.kind == "nrm":
        return seg, KF.nrm_flat_mv(seg, cols, **p.params)
    if p.kind in ("inc", "std"):
        fn = KF.inc_flat if p.kind == "inc" else KF.std_flat
        return seg, [fn(seg, c, **p.params) for c in cols]
    return KF.prep_rows_map(seg, cols, lambda Z: _apply_prep(Z, p))


def _check_slice(sl: Pl.Slice, n_dims: int, resized_by: str | None) -> None:
    """Reject what the prepared input cannot feed, before any scan: a
    word over more dims than there are columns (chained levels are
    univariate), an unknown semiring, and a weighting that reads the
    original input when a prep changed the series length."""
    for level, spec in enumerate(sl.iss_chain()):
        d = n_dims if level == 0 else 1
        for w in spec.words:
            if w.matrix.shape[1] > d:
                raise ValueError(
                    f"word uses dim {w.matrix.shape[1]} but input has {d}"
                )
        if isinstance(spec, Pl.CosWISSSpec):
            continue
        if spec.semiring not in ("reals", "arctic", "bayesian"):
            raise ValueError(f"unknown semiring {spec.semiring!r}")
        reads_orig = spec.weighting in ("l1", "l2", "custom") and not (
            spec.weighting_params.get("on_prepared", False)
        )
        if resized_by is not None and reads_orig:
            raise ValueError(
                f"{spec.weighting} weighting reads the original input, but "
                f"prep {resized_by!r} changed the series length; set "
                "on_prepared=True to weight by the prepared series"
            )


def compute_features_flat(
    values, offsets: np.ndarray, fplan: Pl.FruitPlan
) -> np.ndarray:
    """Whole-batch feature computation on the flat layout: one set of
    segmented array ops per operator, independent of length diversity
    — the only kernel the extract route calls.  ``values`` is one flat
    float64 array (univariate) or a list of per-dimension flat arrays
    sharing ``offsets`` (multivariate).

    Each slice keeps two geometries: the source (the input rows) and
    the stream (after its preps, which may change lengths).  Coquantile
    cuts and L1/L2/Custom weightings read the source, integer cuts and
    everything else the stream — as the bucketed oracle does."""
    from ..kernels import flat as KF

    src_seg = KF.Seg(offsets)
    in_cols = values if isinstance(values, list) else [values]
    if src_seg.total == 0:
        # every row empty: zero features, as the bucketed oracle gives
        return np.zeros((src_seg.n, fplan.n_features()), dtype=np.float64)
    src0 = in_cols[0]  # coquantile cuts / L-mass use dim 0 (cache.py:25-40)
    out = np.empty((src_seg.n, fplan.n_features()), dtype=np.float64)
    col = 0
    for sl in fplan.slices:
        seg, cols, resized_by = src_seg, in_cols, None
        for p in sl.preps:
            prev = seg
            seg, cols = _apply_prep_flat(seg, cols, p)
            if seg is not prev and resized_by is None:
                resized_by = p.kind
        _check_slice(sl, len(cols), resized_by)
        xp = cols if len(cols) > 1 else cols[0]
        # streams may arrive in trie order; widths are fixed per stream,
        # so each one writes at its plan-order column offset
        sieve_widths = [sv.n_features() for sv in sl.sieves]
        per_stream = sum(sieve_widths)
        seen = 0
        for si, stream in _emit_streams_flat(seg, xp, sl.iss_chain(), in_cols):
            c = col + si * per_stream
            for sv, w_ in zip(sl.sieves, sieve_widths):
                feats = _apply_sieve_flat(seg, stream, sv, src_seg, src0, si)
                out[:, c:c + w_] = feats
                c += w_
            seen += 1
        col += sl.n_streams() * per_stream
        if seen != sl.n_streams():
            raise AssertionError(
                f"stream accounting: {seen} != {sl.n_streams()}"
            )
    if col != fplan.n_features():
        raise AssertionError(f"feature accounting: {col} != {fplan.n_features()}")
    return np.nan_to_num(out, nan=0.0, posinf=0.0, neginf=0.0)


def _lookup_flat(spec: Pl.ISSSpec, seg, xp, orig_cols):
    """Weighting lookup on the flat layout.  ``xp`` is the ISS input
    (flat array or column list), ``orig_cols`` the slice's original
    input columns; L1/L2 read dim 0 of the base like the bucketed
    ``l1_lookup`` (iss.py: ``X[:, 0:1, :]``), Custom callables get the
    full base re-bucketed into the (n, d, l) blocks they expect."""
    from ..kernels import flat as KF

    if spec.weighting is None:
        return None
    wp = dict(spec.weighting_params)
    on_prepared = wp.pop("on_prepared", False)
    base_cols = (
        (xp if isinstance(xp, list) else [xp]) if on_prepared else orig_cols
    )
    if spec.weighting == "indices":
        return KF.indices_lookup_flat(seg, **wp)
    if spec.weighting == "l1":
        return KF.l1_lookup_flat(seg, base_cols[0], **wp)
    if spec.weighting == "l2":
        return KF.l2_lookup_flat(seg, base_cols[0], **wp)
    if spec.weighting == "plateaus":
        return KF.plateaus_lookup_flat(seg, **wp)
    if spec.weighting == "custom":
        # reference Custom weighting (weighting.py:41-66): arbitrary
        # g(X) on 3-D blocks — re-bucket by length (same grouping as
        # the block oracle, so values match it exactly)
        lk_seg, (lookup,) = KF.prep_rows_map(
            seg, base_cols,
            lambda Z: np.asarray(wp["fn"](Z)).reshape(len(Z), 1, -1),
        )
        if lk_seg is not seg:
            raise ValueError("custom weighting must keep the series length")
        return lookup
    raise ValueError(spec.weighting)


def _emit_streams_flat(seg, xp: np.ndarray, specs: tuple, x_orig: np.ndarray):
    """Yield (plan_stream_index, stream) pairs for a chain of specs.

    Indices follow plan label order even though computation may run in
    trie order (scan-level CSE below)."""
    n_rest = 1
    for s in specs[1:]:
        n_rest *= s.n_streams()
    for idx, stream in _emit_level_flat(seg, xp, specs[0], x_orig):
        if len(specs) == 1:
            yield idx, stream
        else:
            for sub_idx, sub in _emit_streams_flat(
                seg, stream, specs[1:], x_orig
            ):
                yield idx * n_rest + sub_idx, sub


def _emit_level_flat(seg, xp, spec, x_orig):
    from ..kernels import flat as KF

    if isinstance(xp, list) and len(xp) == 1:
        xp = xp[0]
    mv = isinstance(xp, list)
    if isinstance(spec, Pl.CosWISSSpec):
        # cross-word CSE per frequency (bit-identical; see
        # KF.coswiss_flat_multi); the flat emitter yields explicit
        # stream indices, so per-freq batches emit directly
        n_freqs = len(spec.freqs)
        for fi, f in enumerate(spec.freqs):
            if mv:
                streams = KF.coswiss_flat_multi_mv(
                    seg, xp, [w.matrix for w in spec.words], f,
                    exponent=spec.exponent, total=spec.total,
                )
            else:
                streams = KF.coswiss_flat_multi(
                    seg, xp, [w.matrix for w in spec.words], f,
                    exponent=spec.exponent, total=spec.total,
                )
            for wi, stream in enumerate(streams):
                yield wi * n_freqs + fi, stream
        return
    if getattr(spec, "argmax", False):
        lookup = _lookup_flat(spec, seg, xp, x_orig)
        i = 0
        for w in spec.words:
            alpha = (
                np.array(w.alpha, dtype=np.float32)
                if spec.weighting is not None else None
            )
            for stream in KF.iss_arctic_argmax_flat(
                seg, xp, w.matrix, alpha, lookup
            ):
                yield i, stream
                i += 1
        return
    if spec.weighting is None:
        yield from _emit_level_flat_cse(seg, xp, spec)
        return
    lookup = _lookup_flat(spec, seg, xp, x_orig)
    # weighted (total or not): prefix CSE, bit-identical to the
    # per-word kernels (iss_flat / iss_flat_mv stay as the oracle the
    # CSE is pinned against — see test_round5)
    yield from _emit_level_flat_cse_weighted(seg, xp, spec, lookup)


def _emit_level_flat_cse(seg, xp, spec):
    """Unweighted ISS with scan-level prefix CSE: the word list is a
    trie; every distinct prefix's scan state is computed ONCE via DFS
    (bit-identical ops to the per-word path).  This goes beyond the
    reference's CachePlan, which dedups stream *emission* but re-runs
    shared prefix scans per word (iss/iss.py:49-65)."""
    from ..kernels import flat as KF

    # emission indices per prefix, in plan label order.  A LIST per
    # node: duplicate words in SINGLE mode each emit their own stream
    # (PrefixPlan only zeroes duplicate depths in extended mode) — the
    # shared node then yields once per owed index.
    pplan = spec.plan()
    emit_idx: dict[tuple, list[int]] = {}
    i = 0
    for wi, w in enumerate(spec.words):
        depth = pplan.depth(wi) if pplan is not None else 1
        letters = w.letters()
        k = len(letters)
        for j in range(k - depth + 1, k + 1):
            emit_idx.setdefault(letters[:j], []).append(i)
            i += 1
    # trie children (deterministic order of first appearance)
    children: dict[tuple, list] = {(): []}
    for w in spec.words:
        letters = w.letters()
        for j in range(len(letters)):
            node, nxt = letters[:j], letters[:j + 1]
            kids = children.setdefault(node, [])
            if nxt not in kids:
                kids.append(nxt)
            children.setdefault(nxt, [])

    semiring = spec.semiring
    cols = xp if isinstance(xp, list) else None

    def advance(state, letter):
        if cols is not None:
            # multivariate letter: monomial over the column list in
            # bucketed _pow_product / _linear_combo op order
            if semiring == "reals":
                if state is None:
                    tmp = KF._mul_letter_nd(None, cols, letter)
                else:
                    tmp = KF._mul_letter_nd_owned(
                        seg.shift1(state), cols, letter
                    )
                return seg.cumsum(tmp)
            if semiring == "arctic":
                tmp = (
                    state if state is not None else 0.0
                ) + KF._lin_combo_nd(cols, letter)
                return seg.runmax(tmp)
            return seg.runmax(KF._mul_letter_nd(state, cols, letter))
        e = letter[0] if letter else 0
        if semiring == "reals":
            if state is None:
                tmp = KF._mul_letter(None, xp, e)
            else:
                # shift1 allocated tmp fresh -> in-place multiply is safe
                # (cached trie states are never mutated); NOTE: fusing
                # shift into the first multiply via offset views was
                # measured ~1% SLOWER (unaligned SIMD) — keep unfused
                tmp = KF._mul_letter_owned(seg.shift1(state), xp, e)
            return seg.cumsum(tmp)
        if semiring == "arctic":
            tmp = (state if state is not None else 0.0) + float(e) * xp
            return seg.runmax(tmp)
        # bayesian
        tmp = KF._mul_letter(state, xp, e)
        return seg.runmax(tmp)

    def dfs(node, state):
        for child in children[node]:
            child_state = advance(state, child[-1])
            for ei in emit_idx.get(child, ()):
                yield ei, child_state
            yield from dfs(child, child_state)

    yield from dfs((), None)


def _emit_level_flat_cse_weighted(seg, xp, spec, lookup):
    """Weighted ISS (total or not) with scan-level prefix CSE — the
    weighted twin of :func:`_emit_level_flat_cse`.  Trie nodes key on
    (letter, alpha) PAIRS: two words share a prefix scan only when
    letters and per-letter weighting exponents both agree (the forward
    state carries ``exp(lookup * alpha)`` factors).  Emission
    accounting mirrors PrefixPlan, which keys on letters alone: each
    emitted prefix belongs to the first word that introduced it, so the
    emission set and stream indices are exactly the per-word path's.
    Per-node ops replicate the per-word kernels' op order
    (``KF.iss_flat`` / ``iss_flat_mv``), so shared-prefix streams are
    bit-identical to running each word separately."""
    from ..kernels import flat as KF

    pplan = spec.plan()
    emit_at: dict[tuple, list[int]] = {}
    children: dict[tuple, list] = {(): []}
    i = 0
    for wi, w in enumerate(spec.words):
        depth = pplan.depth(wi) if pplan is not None else 1
        if depth == 0:
            continue  # fully shared per PrefixPlan: emits nothing
        letters = w.letters()
        # per-word kernels round alpha through float32 (iss_flat's
        # `a = float32(alpha).astype(float64)`) — key on the SAME value
        a64 = np.array(w.alpha, dtype=np.float32).astype(np.float64)
        path = tuple(
            (letters[j], float(a64[j])) for j in range(len(letters))
        )
        k = len(path)
        for j in range(k - depth + 1, k + 1):
            # a LIST per node: duplicate words in single mode each owe
            # their own stream (see _emit_level_flat_cse)
            emit_at.setdefault(path[:j], []).append(i)
            i += 1
        for j in range(k):
            node, nxt = path[:j], path[:j + 1]
            kids = children.setdefault(node, [])
            if nxt not in kids:
                kids.append(nxt)
            children.setdefault(nxt, [])

    semiring = spec.semiring
    cols = xp if isinstance(xp, list) else None
    # per-alpha factor caches: the per-word path recomputes
    # exp(±lookup*a) / lookup*a at every level; alphas repeat (usually
    # all 1.0), so each distinct value is computed once per batch
    fac: dict[tuple, np.ndarray] = {}

    def _fac(kind: str, a: float) -> np.ndarray:
        v = fac.get((kind, a))
        if v is None:
            if kind == "p":
                v = np.exp(lookup * a)
            elif kind == "n":
                v = np.exp(-lookup * a)
            else:  # "l": arctic linear term
                v = lookup * a
            fac[(kind, a)] = v
        return v

    def raw_of(state, letter, a_prev):
        # state None <=> root (first letter of the word)
        if semiring == "reals":
            if cols is not None:
                if state is None:
                    return KF._mul_letter_nd(None, cols, letter)
                r = KF._mul_letter_nd_owned(seg.shift1(state), cols, letter)
            else:
                e = letter[0] if letter else 0
                if state is None:
                    return KF._mul_letter(None, xp, e)
                r = KF._mul_letter_owned(seg.shift1(state), xp, e)
            np.multiply(r, _fac("n", a_prev), out=r)
            return r
        if semiring == "arctic":
            combo = (
                KF._lin_combo_nd(cols, letter) if cols is not None
                else float(letter[0] if letter else 0) * xp
            )
            if state is None:
                return combo
            r = state + combo
            np.subtract(r, _fac("l", a_prev), out=r)
            return r
        # bayesian (per-word seeds from exact ones; 1.0*x is bit-neutral)
        if cols is not None:
            base = np.ones_like(cols[0]) if state is None else state
            r = KF._mul_letter_nd(base, cols, letter)
        else:
            e = letter[0] if letter else 0
            base = np.ones_like(xp) if state is None else state
            r = base * KF._pow1(xp, e)
        if state is not None:
            r = r * _fac("n", a_prev)
        return r

    emit_op = seg.cumsum if semiring == "reals" else seg.runmax

    def forward(raw, a_cur):
        if semiring == "reals":
            return seg.cumsum(raw * _fac("p", a_cur))
        if semiring == "arctic":
            return seg.runmax(raw + _fac("l", a_cur))
        return seg.runmax(raw * _fac("p", a_cur))

    if spec.total:
        # TOTAL weighting: the forward state is the post-scan C_k; the
        # per-node derived state D = unweight(shift/carry of C) is
        # shared across ALL children (per-word recomputes it per word).
        # Recurrences mirror the per-word kernels' *_total branches.
        def letter_op(D, letter):
            if semiring == "reals":
                if cols is not None:
                    return KF._mul_letter_nd(D, cols, letter)
                e = letter[0] if letter else 0
                return KF._mul_letter(D, xp, e)
            if semiring == "arctic":
                combo = (
                    KF._lin_combo_nd(cols, letter) if cols is not None
                    else float(letter[0] if letter else 0) * xp
                )
                return combo if D is None else D + combo
            if cols is not None:
                base = np.ones_like(cols[0]) if D is None else D
                return KF._mul_letter_nd(base, cols, letter)
            e = letter[0] if letter else 0
            base = np.ones_like(xp) if D is None else D
            return base * KF._pow1(xp, e)

        def derive(C, a_prev):
            if semiring == "reals":
                return seg.shift1(C) * _fac("n", a_prev)
            if semiring == "arctic":
                return C - _fac("l", a_prev)
            return C * _fac("n", a_prev)

        def unweight(C, a_cur):
            if semiring == "arctic":
                return C - _fac("l", a_cur)
            return C * _fac("n", a_cur)

        def dfs_total(node, state):
            a_prev = node[-1][1] if node else None
            D = None
            for child in children[node]:
                letter, a_cur = child[-1]
                if node and D is None:
                    D = derive(state, a_prev)
                raw = letter_op(D, letter)
                C = forward(raw, a_cur)
                eis = emit_at.get(child)
                if eis:
                    st = unweight(C, a_cur)
                    for ei in eis:
                        yield ei, st
                if children[child]:
                    yield from dfs_total(child, C)

        yield from dfs_total((), None)
        return

    def dfs(node, state):
        a_prev = node[-1][1] if node else None
        for child in children[node]:
            letter, a_cur = child[-1]
            raw = raw_of(state, letter, a_prev)
            eis = emit_at.get(child)
            if eis:
                st = emit_op(raw)
                for ei in eis:
                    yield ei, st
            if children[child]:
                yield from dfs(child, forward(raw, a_cur))

    yield from dfs((), None)


def _apply_sieve_flat(seg, stream, sv: Pl.Sieve, src_seg, src: np.ndarray,
                      stream_idx: int = 0) -> np.ndarray:
    from ..kernels import flat as KF

    p = sv.params
    pre = p.get("pre", 0)
    if pre:
        stream = KF._pre_inc_flat(seg, stream, pre)
    if sv.kind in ("ppv", "cpv"):
        qs = _ppv_quantiles(sv, stream_idx)
        fn = KF.sieve_ppv_flat if sv.kind == "ppv" else KF.sieve_cpv_flat
        return fn(seg, stream, qs, segments=p.get("segments", False))
    cuts_spec = list(p.get("cuts", [-1]))
    norm = p.get("norm", "L2")
    q = _sieve_quantiles(sv, stream_idx)
    if sv.kind in ("npi", "mpi", "xpi", "lpi"):
        cuts = KF.resolve_cuts_flat(seg, cuts_spec, norm, src_seg, src)
        fn = {
            "npi": KF.sieve_npi_flat, "mpi": KF.sieve_mpi_flat,
            "xpi": KF.sieve_xpi_flat, "lpi": KF.sieve_lpi_flat,
        }[sv.kind]
        return fn(seg, stream, cuts, q, inc=p.get("inc", 1))
    cuts = KF.resolve_cuts_flat(seg, cuts_spec, norm, src_seg, src)
    if sv.kind == "end":
        return KF.sieve_end_flat(seg, stream, cuts)
    if sv.kind == "max":
        return KF.sieve_max_flat(seg, stream, cuts, q)
    if sv.kind == "min":
        return KF.sieve_min_flat(seg, stream, cuts, q)
    if sv.kind == "cur":
        return KF.sieve_cur_flat(seg, stream, cuts, q)
    if sv.kind in ("avg", "std"):
        # reference quirk: faithful AVG/STD call CUR (segment.py:309,352)
        if p.get("faithful", True):
            return KF.sieve_cur_flat(seg, stream, cuts, q)
        fn = KF.sieve_avg_flat if sv.kind == "avg" else KF.sieve_std_flat
        return fn(seg, stream, cuts, q)
    raise ValueError(sv.kind)


def _sanitize(label: str, i: int) -> str:
    return f"f{i:04d}_" + re.sub(r"[^A-Za-z0-9]+", "_", label).strip("_")[:48]


def feature_columns(fplan: Pl.FruitPlan) -> list[str]:
    return [_sanitize(lb, i) for i, lb in enumerate(fplan.feature_labels())]


class ExtractStats:
    """Distributed observability for an extraction job — the engine's
    analogue of the reference's ``AbstractCallback`` observers
    (callback.py:6-41).  The reference's hooks fire per in-process
    array; here the arrays live in executor Python workers, so the
    counters are Spark accumulators incremented per Arrow (sub-)batch
    and read on the driver after the action completes.

    Accumulators in a TRANSFORMATION count every computation: task
    retries, speculative execution, or a second action on an uncached
    DataFrame inflate the totals — progress observability, not an exact
    audit (cache the result or read after exactly one action for exact
    counts)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.batches = sc.accumulator(0)
        self.rows = sc.accumulator(0)
        self.tokens = sc.accumulator(0)
        # worker-side time split in microseconds (summed across all
        # workers — divide by active cores for wall): Arrow batch ->
        # flat (values, offsets), the numpy kernels, and the output
        # frame build.  Quantifies the non-kernel share of extraction.
        self.flatten_us = sc.accumulator(0)
        self.kernel_us = sc.accumulator(0)
        self.emit_us = sc.accumulator(0)

    def as_dict(self) -> dict:
        return {
            "batches": self.batches.value,
            "rows": self.rows.value,
            "tokens": self.tokens.value,
            "flatten_us": self.flatten_us.value,
            "kernel_us": self.kernel_us.value,
            "emit_us": self.emit_us.value,
        }


def extract_features(
    df: DataFrame,
    fplan: Pl.FruitPlan,
    tokens_col: str = "tokens",
    keep: tuple[str, ...] = ("doc_id", "source", "n_tok"),
    cast_scale: float | None = None,
    multivariate: bool = False,
    stats: "ExtractStats | None" = None,
) -> DataFrame:
    """Token table -> per-doc feature table (one mapInPandas, no shuffle).

    ``cast_scale``: optional multiplier applied after casting tokens to
    float64 (e.g. 1/TOKEN_MOD to keep monomials bounded without a fitted
    preparateur).

    ``multivariate``: ``tokens_col`` holds array<array<double>> (dims x
    steps); the non-empty rows of one Arrow batch must share a dim
    count.  Univariate input runs as a one-column list, so both take the
    same body: sub-batch, flatten, ``compute_features_flat``, frame.
    """
    import os
    import time

    fcols = feature_columns(fplan)
    keep_fields = [df.schema[k] for k in keep]
    out_schema = StructType(
        list(keep_fields) + [StructField(c, DoubleType(), False) for c in fcols]
    )

    # Arrow batches are sized in ROWS (512, or Spark's default 10k on a
    # foreign session); with long sequences one batch would blow the
    # per-core cache working set (measured: 4096-token docs ran 2.3x
    # slower than 256-token docs at the same tokens/s budget), and
    # CosWISS buffers n_words * n_freqs streams during word-major
    # emission.  Sub-batch by POINTS (tokens x dims) so the kernel
    # working set is constant whatever the document length, dim count
    # or session config.
    token_budget = int(os.environ.get("SPARK_GRAFT_TOKEN_BUDGET", "200000"))

    def _sub_batches(pdf: pd.DataFrame) -> Iterator[pd.DataFrame]:
        rows = pdf[tokens_col]
        if multivariate:
            d = shared_dims(rows)
            pts = np.fromiter(
                (len(r[0]) * d if len(r) else 0 for r in rows),
                dtype=np.int64, count=len(rows),
            )
        else:
            pts = rows.map(len).to_numpy()
        if pts.sum() <= token_budget:
            yield pdf
            return
        cum = np.cumsum(pts)
        start = 0
        base = 0
        for i in range(len(pdf)):
            if cum[i] - base > token_budget and i > start:
                yield pdf.iloc[start:i]
                start = i
                base = cum[i - 1]
        if start < len(pdf):
            yield pdf.iloc[start:]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for full_pdf in batches:
            if len(full_pdf) == 0:
                continue
            for pdf in _sub_batches(full_pdf):
                t0 = time.perf_counter()
                if multivariate:
                    cols, offsets = flatten_lists_mv(list(pdf[tokens_col]))
                else:
                    values, offsets = flatten_lists(pdf[tokens_col])
                    cols = [values]
                t1 = time.perf_counter()
                if cast_scale is not None:
                    for c in cols:
                        c *= cast_scale
                feats = compute_features_flat(cols, offsets, fplan)
                t2 = time.perf_counter()
                # single-block frame (no per-column inserts: pandas
                # fragmentation warning + O(cols) block copies on wide
                # plans)
                out = pd.concat(
                    [
                        pdf[list(keep)].reset_index(drop=True),
                        pd.DataFrame(feats, columns=fcols, copy=False),
                    ],
                    axis=1,
                )
                if stats is not None:
                    stats.batches.add(1)
                    stats.rows.add(len(pdf))
                    stats.tokens.add(int(offsets[-1]))
                    stats.flatten_us.add(int((t1 - t0) * 1e6))
                    stats.kernel_us.add(int((t2 - t1) * 1e6))
                    stats.emit_us.add(int((time.perf_counter() - t2) * 1e6))
                yield out

    return df.select(*keep, tokens_col).mapInPandas(run, out_schema)
