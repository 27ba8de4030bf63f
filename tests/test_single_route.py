"""The single extract route: plan-shape checks in compute_features_flat,
the block adapter for preps without a segmented kernel, degenerate
multivariate batches, and a Spark run showing extract_features never
calls the block oracle."""

import numpy as np
import pandas as pd
import pytest

from fruits_spark.engine import executor as EX
from fruits_spark.kernels.segments import flatten_lists_mv
from fruits_spark.plan import FruitPlan, ISSSpec, Prep, Sieve, Slice
from fruits_spark.words import W

RNG = np.random.default_rng(31)


def _batch(n=24, d=1, lmax=12):
    lengths = RNG.integers(0, lmax + 1, size=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    cols = [RNG.uniform(-2.0, 2.0, size=int(offsets[-1])) for _ in range(d)]
    return cols, offsets


def _oracle(cols, offsets, fplan):
    """compute_features_block per equal-length group; empty rows 0."""
    lengths = np.diff(offsets)
    out = np.zeros((len(lengths), fplan.n_features()))
    for ln in np.unique(lengths[lengths > 0]):
        rows = np.nonzero(lengths == ln)[0]
        gather = (offsets[rows][:, None] + np.arange(ln)[None, :]).ravel()
        Z = np.stack([c[gather].reshape(len(rows), ln) for c in cols], axis=1)
        out[rows] = EX.compute_features_block(Z, fplan)
    return out


def _flat(cols, offsets, fplan):
    return EX.compute_features_flat(
        cols if len(cols) > 1 else cols[0], offsets, fplan
    )


def _plan(preps=(), words=(W("[1][1]"),), sieves=(Sieve("end"),), **spec):
    return FruitPlan(
        (Slice(preps=tuple(preps), iss=ISSSpec(tuple(words), **spec),
               sieves=tuple(sieves)),)
    )


# --- plan-shape checks -------------------------------------------------------

def test_word_over_more_dims_than_input_raises():
    fplan = _plan(words=(W("[12]"),))
    with pytest.raises(ValueError, match="word uses dim 2 but input has 1"):
        EX.compute_features_flat(
            np.array([1.0, 2.0, 3.0, 4.0]), np.array([0, 4]), fplan
        )
    # the check runs after the slice's preps: NEW makes a second dim
    ok = _plan(preps=(Prep("new", {"prep": Prep("inc")}),),
               words=(W("[12]"),))
    cols, offsets = _batch()
    np.testing.assert_allclose(_flat(cols, offsets, ok),
                               _oracle(cols, offsets, ok), rtol=1e-9,
                               atol=1e-10)
    # chained levels are univariate
    chained = FruitPlan((Slice(
        iss=(ISSSpec((W("[1]"),)), ISSSpec((W("[1][2]"),))),
        sieves=(Sieve("end"),),
    ),))
    with pytest.raises(ValueError, match="word uses dim 2 but input has 1"):
        _flat(*_batch(d=2), chained)


def test_dim_negative_index_counts_from_the_end():
    """DIM dims=[-1] transforms the LAST dim and drops it from the
    rest, as np.delete does in the bucketed dim_wrap."""
    fplan = _plan(preps=(Prep("dim", {"dims": [-1], "prep": Prep("inc")}),),
                  words=(W("[1][2]"), W("[2]")))
    cols, offsets = _batch(d=2)
    np.testing.assert_allclose(_flat(cols, offsets, fplan),
                               _oracle(cols, offsets, fplan), rtol=1e-9,
                               atol=1e-10)
    three = _plan(preps=(Prep("dim", {"dims": [-1], "prep": Prep("inc")}),),
                  words=(W("[3]"),))
    with pytest.raises(ValueError, match="word uses dim 3 but input has 2"):
        _flat(cols, offsets, three)
    bad = _plan(preps=(Prep("dim", {"dims": [2], "prep": Prep("inc")}),))
    with pytest.raises(ValueError, match="out of range"):
        _flat(cols, offsets, bad)


@pytest.mark.parametrize("weighting,params", [
    ("l1", {}),
    ("l2", {"relative": True}),
    ("custom", {"fn": lambda X: np.broadcast_to(
        np.linspace(0.0, 1.0, X.shape[-1]), X[:, 0, :].shape)}),
])
def test_weighting_on_original_input_after_lag_raises(weighting, params):
    """lag makes the stream 2l-1 long; a weighting read from the
    original l-long input cannot line up with it (the bucketed oracle
    dies in a numpy broadcast)."""
    fplan = _plan(preps=(Prep("lag"),), weighting=weighting,
                  weighting_params=params)
    with pytest.raises(ValueError, match="'lag'"):
        _flat(*_batch(), fplan)
    # weighting the prepared series is well defined
    on_prep = _plan(preps=(Prep("lag"),), weighting=weighting,
                    weighting_params={**params, "on_prepared": True})
    cols, offsets = _batch()
    np.testing.assert_allclose(_flat(cols, offsets, on_prep),
                               _oracle(cols, offsets, on_prep), rtol=1e-9,
                               atol=1e-10)


def test_wrapped_length_changing_prep_raises():
    fplan = _plan(preps=(Prep("new", {"prep": Prep("lag")}),))
    with pytest.raises(ValueError, match="NEW cannot wrap 'lag'"):
        _flat(*_batch(), fplan)


# --- the adapter -------------------------------------------------------------

def test_lag_float_and_int_cuts_use_their_own_geometry():
    """Float cuts are coquantiles of the ORIGINAL input, integer cuts
    count on the 2l-1 long lag stream — as the bucketed resolve_cuts."""
    fplan = _plan(preps=(Prep("lag"),), words=(W("[1][2]"), W("[11]")),
                  sieves=(Sieve("end", {"cuts": [-1, 0.5, -2]}),
                          Sieve("max", {"cuts": [0.3, 3]}),
                          Sieve("npi", {"cuts": [0.5], "q": (-1.0, 0.0, 1.0)})))
    for d in (1, 2):
        cols, offsets = _batch(d=d)
        np.testing.assert_allclose(_flat(cols, offsets, fplan),
                                   _oracle(cols, offsets, fplan), rtol=1e-9,
                                   atol=1e-10)


def test_mav_wider_than_short_docs():
    fplan = _plan(preps=(Prep("mav", {"width": 5}),),
                  sieves=(Sieve("end"), Sieve("max")))
    offsets = np.array([0, 1, 3, 3, 9], dtype=np.int64)
    values = RNG.uniform(-2.0, 2.0, size=9)
    got = EX.compute_features_flat(values, offsets, fplan)
    np.testing.assert_allclose(got, _oracle([values], offsets, fplan),
                               rtol=1e-9, atol=1e-10)
    assert not got[:3].any()


# --- degenerate multivariate batches -----------------------------------------

def test_mv_rows_disagreeing_on_dims_raise():
    with pytest.raises(ValueError, match=r"dim count: \[2, 3\]"):
        flatten_lists_mv([[[1.0], [2.0]], [], [[1.0], [2.0], [3.0]]])


def test_mv_zero_dim_rows_are_empty_docs():
    fplan = _plan()
    cols, offsets = flatten_lists_mv([[], [[1.0, 2.0], [3.0, 4.0]], []])
    assert len(cols) == 2 and offsets.tolist() == [0, 0, 2, 2]
    got = EX.compute_features_flat(cols, offsets, fplan)
    assert got[0, 0] == 0.0 and got[2, 0] == 0.0 and got[1, 0] == 2.0


# --- production never calls the oracle ---------------------------------------

def test_extract_features_never_calls_the_block_oracle(spark, monkeypatch):
    """With ``compute_features_block`` patched to raise, extract_features
    still extracts a ``lag`` plan over 1-D input and the benchmark's
    fallback plan over 2-D input.  Spark's Python workers import the
    module afresh, so the captured UDF body is also run in this process,
    where the patch holds; both must equal the oracle's features."""
    from perfbench.workloads import fallback_plan

    lag_plan = _plan(preps=(Prep("lag"),), words=(W("[1][2]"), W("[11]")),
                     sieves=(Sieve("end", {"cuts": [-1, 0.5]}), Sieve("max")))
    docs = [RNG.integers(-9, 10, size=RNG.integers(0, 15)).astype(float)
            for _ in range(40)]
    uv = pd.DataFrame({"doc_id": range(40), "tokens": [x.tolist() for x in docs],
                       "source": "s", "n_tok": [len(x) for x in docs]})
    mv = uv.assign(tokens=[[x.tolist(), (x * 0.5 - 1).tolist()] for x in docs])
    cases = [
        (lag_plan, uv, "doc_id long, tokens array<double>, source string, "
         "n_tok int", False, [np.concatenate(docs)]),
        (fallback_plan(), mv, "doc_id long, tokens array<array<double>>, "
         "source string, n_tok int", True,
         [np.concatenate(docs), np.concatenate(docs) * 0.5 - 1]),
    ]
    offsets = np.zeros(41, dtype=np.int64)
    np.cumsum([len(x) for x in docs], out=offsets[1:])
    expects = [_oracle(cols, offsets, fplan) for fplan, *_, cols in cases]

    def boom(*args, **kwargs):
        raise AssertionError("extract_features called the block oracle")

    monkeypatch.setattr(EX, "compute_features_block", boom)
    bodies = []
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame
    real_map = frame_cls.mapInPandas

    def spy(self, fn, schema, *args, **kwargs):
        bodies.append(fn)
        return real_map(self, fn, schema, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "mapInPandas", spy)
    for (fplan, pdf, schema, multivariate, _), expect in zip(cases, expects):
        df = spark.createDataFrame(pdf, schema)
        fcols = EX.feature_columns(fplan)
        got = (
            EX.extract_features(df, fplan, multivariate=multivariate)
            .toPandas().sort_values("doc_id")[fcols].to_numpy()
        )
        np.testing.assert_allclose(got, expect, rtol=1e-9, atol=1e-10)
        local = pd.concat(list(bodies[-1](iter([pdf.iloc[:25], pdf.iloc[25:]]))))
        np.testing.assert_allclose(local[fcols].to_numpy(), expect,
                                   rtol=1e-9, atol=1e-10)
