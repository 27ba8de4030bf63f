"""Property-based ISS/sieve tests (hypothesis): on arbitrary integer
series and arbitrary simple words, the flat and block layouts agree
with each other and with an O(l^k) brute-force of the ISS definition
(iss/iss.py:46 semantics; cf. the reference's own brute-force oracles in
tests/signature/test_weighting.py)."""

import itertools

import numpy as np
import pandas as pd
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from fruits_spark.engine.executor import (
    compute_features_block,
    compute_features_flat,
)
from fruits_spark.kernels.segments import flatten_lists
from fruits_spark.plan import FruitPlan, ISSSpec, Prep, Sieve, Slice
from fruits_spark.words import W

# univariate words: digits are DIMENSIONS in SimpleWord notation, so
# only "1" appears; repetition raises the exponent ("[11]" = x^2)
WORDS = ["[1]", "[11]", "[1][1]", "[11][1]", "[1][1][1]", "[111]"]

series_strategy = st.lists(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=24),
    min_size=1,
    max_size=8,
)


def brute_iss_end(x: np.ndarray, exps: list[int], semiring: str) -> float:
    """ISS END by definition: strict i1<...<ik for reals (shift between
    levels, semiring.py:107-125); NON-strict i1<=...<=ik for arctic and
    bayesian (their reference kernels have no inter-level shift,
    semiring.py:287-311, 466-530)."""
    k = len(exps)
    n = len(x)
    idx_iter = (
        itertools.combinations(range(n), k)
        if semiring == "reals"
        else itertools.combinations_with_replacement(range(n), k)
    )
    terms = []
    for idx in idx_iter:
        if semiring == "arctic":
            terms.append(sum(e * x[i] for i, e in zip(idx, exps)))
        else:
            p = 1.0
            for i, e in zip(idx, exps):
                p *= x[i] ** e
            terms.append(p)
    if not terms:
        return 0.0
    if semiring == "reals":
        return float(sum(terms))
    return float(max(terms))


def _word_exps(word: str) -> list[int]:
    # univariate words only: exponent of dim 1 per extended letter
    return [seg.count("1") for seg in word.strip("[]").split("][")]


@settings(max_examples=40, deadline=None)
@given(rows=series_strategy, wi=st.integers(0, len(WORDS) - 1),
       sr=st.sampled_from(["reals", "arctic", "bayesian"]))
def test_layouts_agree_and_match_bruteforce(rows, wi, sr):
    word = WORDS[wi]
    xs = [np.asarray(r, dtype=np.float64) for r in rows]
    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W(word),), semiring=sr),
                sieves=(Sieve("end"),),
            ),
        )
    )
    values, offsets = flatten_lists(pd.Series(xs))
    ff = compute_features_flat(values, offsets, fplan)
    fb = np.vstack(
        [compute_features_block(x.reshape(1, 1, -1), fplan) for x in xs]
    )
    np.testing.assert_allclose(ff, fb, rtol=1e-9, atol=1e-9)
    exps = _word_exps(word)
    for i, x in enumerate(xs):
        expect = brute_iss_end(x, exps, sr)
        if sr == "arctic" and len(x) < len(exps):
            # arctic empty sum is -inf in the scan but nan_to_num'd; the
            # reference zero-fills too short series the same way
            continue
        np.testing.assert_allclose(fb[i, 0], expect, rtol=1e-9, atol=1e-9)


@settings(max_examples=30, deadline=None)
@given(rows=series_strategy,
       q=st.integers(min_value=0, max_value=50))
def test_sieves_match_numpy_definition(rows, q):
    xs = [np.asarray(r, dtype=np.float64) for r in rows]
    fplan = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W("[1]"),)),
                sieves=(
                    Sieve("max"),
                    Sieve("min"),
                    Sieve("ppv", {"quantiles": [float(q)]}),
                    Sieve("cpv", {"quantiles": [float(q)]}),
                ),
            ),
        )
    )
    values, offsets = flatten_lists(pd.Series(xs))
    ff = compute_features_flat(values, offsets, fplan)
    for i, x in enumerate(xs):
        run1 = np.cumsum(x)
        assert ff[i, 0] == run1.max()
        assert ff[i, 1] == run1.min()
        assert ff[i, 2] == (run1 >= q).mean()
        ind = (run1 >= q).astype(int)
        edges = int(((ind[1:] - ind[:-1]) == 1).sum())
        n_even = len(x) + len(x) % 2
        np.testing.assert_allclose(ff[i, 3], 2 * edges / n_even)


@settings(max_examples=40, deadline=None)
@given(rows=series_strategy)
def test_extended_equals_prefix_singles(rows):
    xs = [np.asarray(r, dtype=np.float64) for r in rows]
    values, offsets = flatten_lists(pd.Series(xs))
    word = "[1][11][1]"
    ext = FruitPlan(
        (
            Slice(
                iss=ISSSpec((W(word),), mode="extended"),
                sieves=(Sieve("end"),),
            ),
        )
    )
    fe = compute_features_flat(values, offsets, ext)
    singles = [
        FruitPlan(
            (Slice(iss=ISSSpec((W(p),)), sieves=(Sieve("end"),)),)
        )
        for p in ("[1]", "[1][11]", "[1][11][1]")
    ]
    for j, sp in enumerate(singles):
        fs = compute_features_flat(values, offsets, sp)
        np.testing.assert_allclose(fe[:, j], fs[:, 0], rtol=1e-9)


MV_WORDS = ["[1]", "[12]", "[1][2]", "[11][2]", "[2][1][1]", "[1][22]"]


@settings(max_examples=60, deadline=None)
@given(
    rows=series_strategy,
    wi=st.integers(0, len(MV_WORDS) - 1),
    sr=st.sampled_from(["reals", "arctic", "bayesian"]),
    weighting=st.sampled_from([None, "indices", "l1", "l2"]),
    total=st.booleans(),
    mode=st.sampled_from(["single", "extended"]),
    d=st.integers(1, 2),
)
def test_flat_matches_bucketed_all_spec_combos(rows, wi, sr, weighting,
                                               total, mode, d):
    """Every (semiring x weighting x total x mode x dims) combo the flat
    path claims must match the bucketed reference-parity kernels —
    the round-5 bayesian weighted+total divergence hid exactly in a
    combo no directed test enumerated."""
    from fruits_spark.engine.executor import plan_is_flat

    word = MV_WORDS[wi] if d == 2 else WORDS[wi]
    # bayesian multiplies magnitudes: keep values in [0.5, 1.5] to
    # avoid overflow drowning the comparison
    spec = ISSSpec(
        (W(word),), semiring=sr, mode=mode, weighting=weighting,
        total=total if weighting is not None else False,
    )
    fplan = FruitPlan((Slice(iss=spec, sieves=(Sieve("end"), Sieve("max"))),))
    assert plan_is_flat(fplan, n_dims=d)
    xs = [
        0.5 + np.asarray(r, dtype=np.float64) / 50.0 for r in rows
    ]
    lengths = np.array([len(x) for x in xs], dtype=np.int64)
    offsets = np.zeros(len(xs) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    if d == 1:
        flat_in = np.concatenate(xs) if xs else np.array([])
        blocks = [x.reshape(1, 1, -1) for x in xs]
    else:
        flat_in = [np.concatenate(xs), np.concatenate([x * 0.7 for x in xs])]
        blocks = [
            np.stack([x, x * 0.7])[np.newaxis] for x in xs
        ]
    ff = compute_features_flat(flat_in, offsets, fplan)
    fb = np.vstack([compute_features_block(b, fplan) for b in blocks])
    np.testing.assert_allclose(ff, fb, rtol=1e-9, atol=1e-9)


@settings(max_examples=40, deadline=None)
@given(
    rows=series_strategy,
    wi=st.integers(0, len(MV_WORDS) - 1),
    weighting=st.sampled_from([None, "indices"]),
    d=st.integers(1, 2),
)
def test_flat_argmax_matches_bucketed(rows, wi, weighting, d):
    """Arctic argmax (value + maximizing-index + freeze streams) on the
    flat layout vs the bucketed kernel — mv argmax went flat late in
    round 5; indices are integers so everything must agree exactly up
    to carry-free arctic arithmetic."""
    word = MV_WORDS[wi] if d == 2 else WORDS[wi]
    spec = ISSSpec((W(word),), semiring="arctic", argmax=True,
                   weighting=weighting)
    fplan = FruitPlan((Slice(iss=spec, sieves=(Sieve("end"), Sieve("max"))),))
    xs = [np.asarray(r, dtype=np.float64) for r in rows]
    lengths = np.array([len(x) for x in xs], dtype=np.int64)
    offsets = np.zeros(len(xs) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    if d == 1:
        flat_in = np.concatenate(xs) if xs else np.array([])
        blocks = [x.reshape(1, 1, -1) for x in xs]
    else:
        flat_in = [np.concatenate(xs), np.concatenate([x * 0.5 - 1 for x in xs])]
        blocks = [np.stack([x, x * 0.5 - 1])[np.newaxis] for x in xs]
    ff = compute_features_flat(flat_in, offsets, fplan)
    fb = np.vstack([compute_features_block(b, fplan) for b in blocks])
    np.testing.assert_allclose(ff, fb, rtol=1e-9, atol=1e-9)


# --- every prep without a segmented kernel, on the flat layout --------------

def _cumsum_time(X):
    return np.cumsum(X, axis=-1)


def _repeat_time(X):
    return np.repeat(X, 2, axis=-1)  # length l -> 2l


_LEAF_KINDS = (
    "mav", "mav_dims", "lag", "dot", "win", "cts", "qtc", "ffn", "rin",
    "rdw", "jld", "spe", "rpe", "dil", "pdd", "fun", "fun_resize",
)
_RESIZING = ("lag", "fun_resize")


@st.composite
def _leaf_prep(draw, d, keep_length=False):
    """(prep, output dim count) for a prep routed through the block
    adapter, valid on ``d``-dim input."""
    kinds = [k for k in _LEAF_KINDS if not (keep_length and k in _RESIZING)]
    kind = draw(st.sampled_from(kinds))
    rng = np.random.default_rng(draw(st.integers(0, 2**16)))
    if kind == "mav":
        return Prep("mav", {"width": draw(st.integers(1, 4))}), d
    if kind == "mav_dims":
        return Prep("mav", {"width": -1}), 1
    if kind == "lag":
        return Prep("lag"), 2 * d
    if kind == "dot":
        return Prep("dot", {"n": draw(st.integers(1, 3))}), d
    if kind == "win":
        lo = draw(st.floats(0.0, 0.5))
        return Prep("win", {"start": lo, "end": lo + 0.4}), d
    if kind == "cts":
        return Prep("cts", {"s": 1, "pseudo_shift": draw(st.booleans())}), d
    if kind == "qtc":
        return Prep("qtc", {"q_value": draw(st.floats(-1.0, 1.0)),
                            "lower": draw(st.booleans())}), d
    if kind == "ffn":
        o = draw(st.integers(1, 2))
        return Prep("ffn", {
            "w1": rng.normal(size=(3, d)), "b1": rng.normal(size=3),
            "w2": rng.normal(size=(o, 3)), "b2": rng.normal(size=o),
        }), o
    if kind == "rin":
        return Prep("rin", {"kernel": rng.normal(size=draw(st.integers(1, 2)))}), d
    if kind == "rdw":
        return Prep("rdw", {"weights": rng.integers(1, 3, size=d).astype(float)}), d
    if kind == "jld":
        o = draw(st.integers(1, 3))
        return Prep("jld", {"proj": rng.normal(size=(o, d))}), o
    if kind == "spe":
        return Prep("spe", {
            "freq": draw(st.floats(0.1, 1.0)),
            "operation": draw(st.sampled_from(["multiplicative", "additive"])),
        }), d
    if kind == "rpe":
        assume(d % 2 == 0)
        return Prep("rpe", {"freq": draw(st.floats(0.1, 1.0))}), d
    if kind == "dil":
        return Prep("dil", {"indices": rng.integers(0, 6, size=2),
                            "lengths": rng.integers(1, 3, size=2)}), d
    if kind == "pdd":
        return Prep("pdd", {"indices": np.array([1, 4]),
                            "width": draw(st.integers(1, 2))}), d
    if kind == "fun":
        return Prep("fun", {"f": _cumsum_time}), d
    return Prep("fun", {"f": _repeat_time}), d


@st.composite
def _prep_chain(draw, d):
    """One or two preps, each bare or wrapped in NEW/DIM; wrapped
    preps keep the series length (a resized wrapped output cannot line
    up with the other dims).  Returns (preps, output dim count)."""
    preps = []
    for _ in range(draw(st.integers(1, 2))):
        wrap = draw(st.sampled_from(["bare", "new", "dim"]))
        if wrap == "bare":
            p, d = draw(_leaf_prep(d))
        elif wrap == "new":
            p, extra = draw(_leaf_prep(d, keep_length=True))
            p, d = Prep("new", {"prep": p}), d + extra
        else:
            dims = draw(st.lists(st.integers(0, d - 1), min_size=1,
                                 max_size=d, unique=True))
            # negative indices count from the end, as np.delete does
            dims = [i - d if draw(st.booleans()) else i for i in dims]
            p, out = draw(_leaf_prep(len(dims), keep_length=True))
            p, d = Prep("dim", {"dims": dims, "prep": p}), d - len(dims) + out
        preps.append(p)
    return tuple(preps), d


@st.composite
def _adapter_case(draw):
    d_in = draw(st.integers(1, 2))
    preps, d = draw(_prep_chain(d_in))
    words = (W("[1][1]"), W("[11]")) + ((W("[1][2]"),) if d >= 2 else ())
    fplan = FruitPlan((
        Slice(
            preps=preps,
            iss=ISSSpec(words),
            # a float cut is resolved on the original input, integer
            # cuts on the (possibly resized) stream
            sieves=(Sieve("end", {"cuts": [-1, 0.5]}),
                    Sieve("max", {"cuts": [-1, 2]})),
        ),
    ))
    lengths = draw(st.lists(st.integers(0, 10), min_size=1, max_size=8))
    rng = np.random.default_rng(draw(st.integers(0, 2**16)))
    cols = [rng.uniform(-2.0, 2.0, size=sum(lengths)) for _ in range(d_in)]
    return fplan, cols, np.array(lengths, dtype=np.int64)


@settings(max_examples=80, deadline=None)
@given(case=_adapter_case())
def test_adapter_preps_flat_match_block_oracle(case):
    """Preps without a segmented kernel run on the flat layout through
    the block adapter: over random lengths (0, 1 and 2 included), 1-D
    and 2-D input, bare or under NEW/DIM, ``compute_features_flat``
    equals ``compute_features_block`` run per equal-length group."""
    fplan, cols, lengths = case
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    ff = compute_features_flat(cols if len(cols) > 1 else cols[0],
                               offsets, fplan)
    fb = np.zeros_like(ff)
    for ln in np.unique(lengths[lengths > 0]):
        rows = np.nonzero(lengths == ln)[0]
        gather = (offsets[rows][:, None] + np.arange(ln)[None, :]).ravel()
        Z = np.stack([c[gather].reshape(len(rows), ln) for c in cols], axis=1)
        fb[rows] = compute_features_block(Z, fplan)
    np.testing.assert_allclose(ff, fb, rtol=1e-9, atol=1e-10)
