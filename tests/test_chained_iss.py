"""Chained (consecutive) ISS tests — reference parity with
tests/signature/test_consecutive.py:6-37: sieves apply to the cartesian
composition of stream sets, and chaining equals manual re-application."""

import numpy as np

from fruits_spark.engine.executor import compute_features_block, plan_is_flat
from fruits_spark.kernels import iss as KI
from fruits_spark.plan import ISSSpec, Sieve, Slice, FruitPlan
from fruits_spark.words import W

RNG = np.random.default_rng(3)


def make_plan():
    iss1 = ISSSpec(
        (W("[12][1]"), W("[1][32]"), W("[11][121][3]")), mode="extended"
    )
    iss2 = ISSSpec(
        (W("[11]"), W("[111]"), W("[111][1][11]"), W("[1][1][11]")),
        mode="extended",
    )
    return FruitPlan(
        (Slice(iss=(iss1, iss2), sieves=(Sieve("max"), Sieve("end"))),)
    )


def test_feature_count_98():
    # reference: fruit.nfeatures() == 98 (7 x 7 streams x 2 sieves)
    fplan = make_plan()
    assert fplan.slices[0].iss_chain()[0].n_streams() == 7
    assert fplan.slices[0].iss_chain()[1].n_streams() == 7
    assert fplan.n_features() == 98
    assert len(fplan.feature_labels()) == 98


def test_chain_equals_manual_composition():
    X = RNG.random((10, 3, 50))
    fplan = make_plan()
    feats = compute_features_block(X, fplan)
    assert feats.shape == (10, 98)

    # manual: run iss1, then iss2 on each stream, then sieves
    iss1, iss2 = fplan.slices[0].iss_chain()
    col = 0
    for wi1, w1 in enumerate(iss1.words):
        d1 = iss1.plan().depth(wi1)
        s1 = KI.iss(X, w1.matrix, extended=d1)
        for a in range(d1):
            inner = s1[:, a, :][:, np.newaxis, :]
            for wi2, w2 in enumerate(iss2.words):
                d2 = iss2.plan().depth(wi2)
                s2 = KI.iss(inner, w2.matrix, extended=d2)
                for b in range(d2):
                    stream = s2[:, b, :]
                    np.testing.assert_allclose(
                        feats[:, col], stream.max(axis=1), rtol=1e-10
                    )
                    np.testing.assert_allclose(
                        feats[:, col + 1], stream[:, -1], rtol=1e-10
                    )
                    col += 2
    assert col == 98


def test_univariate_chain_flat_padded_match():
    from fruits_spark.engine.executor import compute_features_flat

    chain = (
        ISSSpec((W("[1][11]"),), mode="extended"),
        ISSSpec((W("[11]"), W("[1][1]"))),
    )
    fplan = FruitPlan(
        (Slice(iss=chain, sieves=(Sieve("end"), Sieve("max"))),)
    )
    assert plan_is_flat(fplan)
    assert fplan.n_features() == 2 * 2 * 2

    lengths = RNG.integers(1, 40, size=40)
    offsets = np.zeros(41, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    values = RNG.integers(0, 50, size=offsets[-1]).astype(np.float64)

    # bucketed reference
    expect = np.zeros((40, fplan.n_features()))
    for ln in np.unique(lengths):
        rows = np.nonzero(lengths == ln)[0]
        gather = (offsets[rows][:, None] + np.arange(ln)[None, :]).ravel()
        Z = values[gather].reshape(len(rows), 1, int(ln))
        expect[rows] = compute_features_block(Z, fplan)

    np.testing.assert_array_equal(
        compute_features_flat(values, offsets, fplan), expect
    )
