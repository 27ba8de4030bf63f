"""Preparateur kernel tests — goldens ported from the reference
(tests/preparation/test_transform.py, test_filter.py)."""

import numpy as np

from fruits_spark.kernels import prep as P


def test_inc_goldens(x1):
    np.testing.assert_allclose(
        P.inc(x1),
        [
            [[0.0, 4.8, -0.8, 5.0, -8.0], [0.0, -1.0, -1.0, 0.0, -7.0]],
            [[0.0, 3.0, -6.0, 4.0, -6.0], [0.0, 4.0, -3.0, 3.5, -7.5]],
        ],
    )
    np.testing.assert_allclose(
        P.inc(x1, zero_padding=False),
        [
            [[-4.0, 4.8, -0.8, 5.0, -8.0], [2.0, -1.0, -1.0, 0.0, -7.0]],
            [[5.0, 3.0, -6.0, 4.0, -6.0], [-5.0, 4.0, -3.0, 3.5, -7.5]],
        ],
    )


def test_inc_depth2(x1):
    out = P.inc(x1, depth=2)
    np.testing.assert_allclose(out, P.inc(P.inc(x1)))


def test_std_separately(x1):
    out = P.std(x1, eps=1e-10)
    np.testing.assert_allclose(out.mean(axis=-1), 0.0, atol=1e-12)
    np.testing.assert_allclose(out.std(axis=-1), 1.0, rtol=1e-6)


def test_std_global(x1):
    out = P.std(
        x1, separately=False, mean=float(x1.mean()), stdev=float(x1.std()),
        eps=1e-10,
    )
    np.testing.assert_almost_equal(out.mean(), 0.0)
    np.testing.assert_almost_equal(out.std(), 1.0)


def test_nrm_goldens(x1):
    np.testing.assert_allclose(
        P.nrm(x1),
        [
            [[0.0, 4.8 / 9, 4 / 9, 1.0, 1 / 9], [1.0, 8 / 9, 7 / 9, 7 / 9, 0.0]],
            [[5 / 8, 1.0, 2 / 8, 6 / 8, 0.0], [3 / 7.5, 7 / 7.5, 4 / 7.5, 1.0, 0.0]],
        ],
    )
    np.testing.assert_allclose(
        P.nrm(x1, scale_dim=True),
        [
            [[3 / 12, 7.8 / 12, 7 / 12, 1.0, 4 / 12],
             [9 / 12, 8 / 12, 7 / 12, 7 / 12, 0.0]],
            [[13 / 16, 1.0, 10 / 16, 14 / 16, 8 / 16],
             [3 / 16, 7 / 16, 4 / 16, 7.5 / 16, 0.0]],
        ],
    )


def test_nrm_constant_dim_is_zero():
    X = np.ones((1, 1, 4))
    np.testing.assert_allclose(P.nrm(X), 0.0)


def test_mav_goldens(x1):
    np.testing.assert_allclose(
        P.mav(x1, 2),
        [
            [[0, -1.6, 0.4, 2.5, 1], [0, 1.5, 0.5, 0, -3.5]],
            [[0, 6.5, 5, 4, 3], [0, -3, -2.5, -2.25, -4.25]],
        ],
    )
    # width=0.6 of length 5 -> 3
    np.testing.assert_allclose(
        P.mav(x1, 3),
        np.array(
            [
                [[0, 0, -3.2, 5.8, 2.0], [0, 0, 3.0, 1.0, -7.0]],
                [[0, 0, 15.0, 16.0, 8.0], [0, 0, -10.0, -5.5, -12.5]],
            ]
        ) / 3,
    )
    # series shorter than the window: every output is one of the first
    # width-1, so all zeros
    for length in (1, 2):
        np.testing.assert_array_equal(
            P.mav(x1[..., :length], 5), np.zeros((2, 2, length))
        )


def test_lag_golden(x1):
    np.testing.assert_allclose(
        P.lag(x1),
        [
            [[-4.0, 0.8, 0.8, 0.0, 0.0, 5.0, 5.0, -3.0, -3.0],
             [-4.0, -4.0, 0.8, 0.8, 0.0, 0.0, 5.0, 5.0, -3.0],
             [2.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0, -7.0, -7.0],
             [2.0, 2.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0, -7.0]],
            [[5.0, 8.0, 8.0, 2.0, 2.0, 6.0, 6.0, 0.0, 0.0],
             [5.0, 5.0, 8.0, 8.0, 2.0, 2.0, 6.0, 6.0, 0.0],
             [-5.0, -1.0, -1.0, -4.0, -4.0, -0.5, -0.5, -8.0, -8.0],
             [-5.0, -5.0, -1.0, -1.0, -4.0, -4.0, -0.5, -0.5, -8.0]],
        ],
    )


def test_dot_filter(x1):
    out = P.dot_filter(x1, 2)
    expected = np.zeros_like(x1)
    expected[..., 1::2] = x1[..., 1::2]
    np.testing.assert_allclose(out, expected)


def test_win_filter():
    # keep only the coquantile window of L2 mass
    X = np.array([[[-4.0, 0.8, 0.0, 5.0, -3.0]]])
    out = P.win_filter(X, 0.2, 0.5)
    # cq(0.2)=1, cq(0.5)=4 -> window [0, 4)
    np.testing.assert_allclose(out, [[[-4.0, 0.8, 0.0, 5.0, 0.0]]])


def test_cts():
    X = np.arange(5, dtype=np.float64)[np.newaxis, np.newaxis, :]
    np.testing.assert_allclose(P.cts(X, 2), [[[2, 3, 4, 4, 4]]])
    np.testing.assert_allclose(
        P.cts(X, 2, pseudo_shift=True), [[[0, 0, 0, 1, 2]]]
    )


def test_qtc():
    X = np.arange(5, dtype=np.float64)[np.newaxis, np.newaxis, :]
    np.testing.assert_allclose(P.qtc(X, 2.0), [[[0, 1, 2, 2, 2]]])
    np.testing.assert_allclose(P.qtc(X, 2.0, lower=True), [[[2, 2, 2, 3, 4]]])


def test_rin_matches_inc_for_unit_kernel(x1):
    # RIN with kernel [1] == INC with zero padding
    out = P.rin(x1, np.array([1.0]))
    inc = P.inc(x1)
    np.testing.assert_allclose(out, inc)


def test_ffn_shapes_and_algebra():
    rng = np.random.default_rng(0)
    X = rng.random((3, 2, 10))
    w1 = rng.standard_normal((4, 2))
    b1 = rng.standard_normal(4)
    w2 = rng.standard_normal((1, 4))
    b2 = rng.standard_normal(1)
    out = P.ffn(X, w1, b1, w2, b2, center=False)
    assert out.shape == (3, 1, 10)
    # manual check on one time step
    h = np.maximum(w1 @ X[0, :, 0] + b1, 0)
    np.testing.assert_allclose(out[0, :, 0], w2 @ h + b2, rtol=1e-12)


def test_jld_projection():
    X = np.ones((2, 3, 4))
    proj = np.array([[1.0, 2.0, 3.0]])
    np.testing.assert_allclose(P.jld(X, proj), np.full((2, 1, 4), 6.0))


def test_rdw_powers():
    X = np.full((1, 2, 3), 2.0)
    out = P.rdw(X, np.array([1.0, 2.0]))
    np.testing.assert_allclose(out[0, 0], 2.0)
    np.testing.assert_allclose(out[0, 1], 4.0)


def test_mav_dims(x1):
    out = P.mav_dims(x1)
    np.testing.assert_allclose(out[:, 0, :], x1.mean(axis=1))


def test_rpe_rotation():
    X = np.zeros((1, 2, 3))
    X[0, 0] = 1.0  # unit vector along first dim
    out = P.rpe(X, 1.0)
    ang = np.arange(3) / 3.0
    np.testing.assert_allclose(out[0, 0], np.cos(ang), rtol=1e-12)
    np.testing.assert_allclose(out[0, 1], np.sin(ang), rtol=1e-12)


def test_spe():
    X = np.ones((1, 1, 4))
    out = P.spe(X, 1.0)
    np.testing.assert_allclose(out[0, 0], np.sin(np.arange(4) / 4.0))


def test_dil_pdd():
    X = np.ones((1, 1, 10))
    out = P.dil(X, np.array([2, 7]), np.array([2, 1]))
    np.testing.assert_allclose(out[0, 0], [1, 1, 0, 0, 1, 1, 1, 0, 1, 1])
    out = P.pdd(X, np.array([0, 5]), 2)
    np.testing.assert_allclose(out[0, 0], [0, 0, 1, 1, 1, 0, 0, 1, 1, 1])


def test_dim_wrapper(x1):
    from fruits_spark.engine.executor import _apply_prep
    from fruits_spark.plan import Prep

    # INC on dim 1 only; output = [dim0 untouched, dim1 transformed]
    out = _apply_prep(x1, Prep("dim", {"prep": Prep("inc"), "dims": [1]}))
    np.testing.assert_allclose(out[:, 0, :], x1[:, 0, :])
    np.testing.assert_allclose(out[:, 1, :], P.inc(x1)[:, 1, :])


def test_new_wrapper(x1):
    from fruits_spark.engine.executor import _apply_prep
    from fruits_spark.plan import Prep

    out = _apply_prep(x1, Prep("new"))
    assert out.shape == (2, 4, 5)
    np.testing.assert_allclose(out[:, 2:, :], x1)
    out2 = _apply_prep(x1, Prep("new", {"prep": Prep("inc")}))
    np.testing.assert_allclose(out2[:, 2:, :], P.inc(x1))


def test_fun_escape_hatch(x1):
    from fruits_spark.engine.executor import _apply_prep
    from fruits_spark.plan import Prep

    out = _apply_prep(x1, Prep("fun", {"f": lambda Z: Z * 2}))
    np.testing.assert_allclose(out, x1 * 2)
