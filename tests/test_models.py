"""Numerics tests: special functions + BG/NBD / Gamma-Gamma fits (M1–M6)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from lakehouse_workshop_spark.models import BetaGeoModel, GammaGammaModel
from lakehouse_workshop_spark.models.special import hyp2f1, lgamma, nelder_mead


def test_lgamma_matches_stdlib():
    xs = [0.05, 0.5, 1.0, 1.5, 7.3, 100.0, 1e4]
    for x in xs:
        assert abs(float(lgamma(x)) - math.lgamma(x)) < 1e-10 * max(1, abs(math.lgamma(x)))


def test_lgamma_equals_term_by_term_series():
    """The block-accumulated Lanczos series adds in the textbook order, so
    it equals the one-term-at-a-time loop bit for bit."""
    from lakehouse_workshop_spark.models.special import _HALF_LOG_2PI, _LANCZOS_C, _LANCZOS_G

    x = np.exp(np.random.default_rng(3).normal(0.0, 4.0, 257))
    z = x - 1.0
    acc = np.full_like(z, _LANCZOS_C[0])
    for i in range(1, 9):
        acc = acc + _LANCZOS_C[i] / (z + i)
    t = z + _LANCZOS_G + 0.5
    want = _HALF_LOG_2PI + (z + 0.5) * np.log(t) - t + np.log(acc)
    assert np.array_equal(lgamma(x), want)
    assert np.array_equal([lgamma(v) for v in x[:9]], want[:9])


def test_hyp2f1_closed_form():
    # 2F1(1,1;2;z) = -ln(1-z)/z
    for z in [0.05, 0.3, 0.6, 0.9, 0.97]:
        got = float(hyp2f1(1.0, 1.0, 2.0, np.array([z])))
        want = -math.log(1 - z) / z
        assert abs(got - want) < 1e-9 * abs(want)
    # A 2-D z is a block of rows that converge at different k (z=0.02 needs
    # a handful of terms, z=0.85 a few hundred, z=0.95 takes the Euler
    # branch); each row must stop on its own test and equal its 1-D call.
    a = np.array([1.0, 0.7, 3.2, 12.5])
    b = np.array([1.0, 2.4, 5.1, 20.5])
    c = np.array([2.0, 1.9, 7.0, 30.0])
    z = np.array(
        [
            [0.02, 0.02, 0.01, 0.03],
            [0.4, 0.5, 0.3, 0.45],
            [0.85, 0.8, 0.88, 0.7],
            [0.95, 0.97, 0.93, 0.99],
        ]
    )
    block = hyp2f1(a, b, c, z)
    assert block.shape == z.shape
    for i in range(len(z)):
        assert np.array_equal(block[i], hyp2f1(a, b, c, z[i])), i
    col = z[:, :1]
    per_row = [hyp2f1(a[0], b[0], c[0], zi)[0] for zi in col]
    assert np.array_equal(hyp2f1(a[0], b[0], c[0], col)[:, 0], per_row)


def test_nelder_mead_rosenbrock():
    fn = lambda p: (1 - p[0]) ** 2 + 100 * (p[1] - p[0] ** 2) ** 2
    x, fval = nelder_mead(fn, np.array([-1.2, 1.0]), max_iter=5000)
    assert np.allclose(x, [1.0, 1.0], atol=1e-3)


def _simulate_bgnbd(rng, n, r, alpha, a, b, T=52.0):
    lam = rng.gamma(r, 1 / alpha, n)
    pdrop = rng.beta(a, b, n)
    xs, txs = [], []
    for i in range(n):
        t, x, tx = 0.0, 0, 0.0
        while True:
            t += rng.exponential(1 / lam[i]) if lam[i] > 0 else 1e12
            if t > T:
                break
            x += 1
            tx = t
            if rng.random() < pdrop[i]:
                break
        xs.append(x)
        txs.append(tx)
    return np.array(xs, float), np.array(txs), np.full(n, T)


def test_bgnbd_parameter_recovery():
    rng = np.random.default_rng(7)
    x, t_x, T = _simulate_bgnbd(rng, 4000, r=0.25, alpha=4.0, a=0.8, b=2.4)
    mdl = BetaGeoModel.fit(x, t_x, T)
    assert mdl.r == pytest.approx(0.25, rel=0.35)
    assert mdl.alpha == pytest.approx(4.0, rel=0.35)
    # predictions behave: more recent + frequent -> more predicted visits
    hi = mdl.conditional_expected_purchases(52.0, np.array([10.0]), np.array([50.0]), np.array([52.0]))
    lo = mdl.conditional_expected_purchases(52.0, np.array([1.0]), np.array([5.0]), np.array([52.0]))
    assert hi[0] > lo[0]
    p = mdl.conditional_probability_alive(x, t_x, T)
    assert np.all((p >= 0) & (p <= 1))
    # never-repeat customers are alive with probability 1 under BG/NBD
    assert np.allclose(p[x == 0], 1.0)


def test_bgnbd_clv_positive_and_discounted():
    rng = np.random.default_rng(11)
    x, t_x, T = _simulate_bgnbd(rng, 1500, r=0.5, alpha=5.0, a=1.0, b=3.0)
    mdl = BetaGeoModel.fit(x, t_x, T)
    m = np.full_like(x, 100.0)
    clv_lo_rate = mdl.customer_lifetime_value(x, t_x, T, m, discount_rate=0.0056)
    clv_hi_rate = mdl.customer_lifetime_value(x, t_x, T, m, discount_rate=0.01)
    assert np.all(clv_lo_rate >= 0)
    assert np.all(clv_lo_rate >= clv_hi_rate)  # heavier discounting lowers CLV


def test_gammagamma_population_mean_recovery():
    rng = np.random.default_rng(13)
    p, q, v = 6.0, 4.0, 15.0
    x = rng.integers(1, 20, 3000).astype(float)
    nu = rng.gamma(q, 1 / v, 3000)
    m = np.array([rng.gamma(p * xi, 1 / nui) / xi for xi, nui in zip(x, nu)])
    gg = GammaGammaModel.fit(x, m)
    # (p, v) are weakly identified; the economically meaningful functional
    # p*v/(q-1) (population mean spend) must recover.
    assert gg.p * gg.v / (gg.q - 1) == pytest.approx(p * v / (q - 1), rel=0.1)
    cond = gg.conditional_expected_average_profit(x, m)
    assert np.all(cond > 0)
    # shrinkage: conditional estimate sits between observed and population mean
    pop = gg.p * gg.v / (gg.q - 1)
    between = ((cond >= np.minimum(m, pop) - 1e-6) & (cond <= np.maximum(m, pop) + 1e-6)).mean()
    assert between > 0.99


# --- Bit-identity pin for the model kernels ---------------------------------
#
# The kernels are free to get faster, never to move a bit: the golden CLV
# parquet and the oracle compare fitted scores exactly. Each seeded group
# below pins the fitted parameters as ``float.hex`` and a SHA-256 digest of
# ``clv_score_group``'s output plus the float64 CLV vector behind it.
# Regenerate only for an intended numerical change, by printing
# ``_pin_record(_PIN_GROUPS[name]())`` for every name.


def _rfm_group(seed: int, n: int, *, zero_share: float = 0.0) -> "pd.DataFrame":
    """One grouped-map input group in the Arrow dtypes Spark hands
    ``clv_score_group``: Summary_2011-shaped RFM rows, shuffled ids."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    age = rng.integers(2, 52, n)
    rec = np.minimum(rng.integers(1, 51, n), age - 1).clip(min=1)
    freq = np.minimum(rng.geometric(0.25, n), 50)
    if zero_share:
        zero = rng.random(n) < zero_share
        freq[zero], rec[zero] = 0, 0
    profit = np.round(np.exp(rng.normal(5.5, 1.2, n)), 2)
    return pd.DataFrame(
        {
            "GroupKey": np.full(n, 1, np.int32),
            "CustomerID": (10_000 + rng.permutation(3 * n)[:n]).astype(np.int32),
            "FREQUENCY": freq.astype(np.int64),
            "RECENCY": rec.astype(np.float32),
            "AGE": age.astype(np.float32),
            "AVG_MONETARY_VALUE": profit.astype(np.float32),
        }
    )


def _degenerate_group() -> "pd.DataFrame":
    """Fewer than 10 repeat customers: ``clv_score_group`` skips the
    Gamma-Gamma fit and scores CLV on the observed monetary value."""
    pdf = _rfm_group(17, 60, zero_share=0.5)
    freq = pdf["FREQUENCY"].to_numpy().copy()
    freq[freq > 1] = 1
    freq[[3, 11, 29, 41, 52]] = [2, 3, 2, 5, 4]
    pdf["FREQUENCY"] = freq
    return pdf


_PIN_GROUPS = {
    "n50": lambda: _rfm_group(101, 50),
    "n500": lambda: _rfm_group(202, 500),
    "n2000": lambda: _rfm_group(303, 2_000),
    "n300_freq0": lambda: _rfm_group(404, 300, zero_share=0.3),
    "n60_degenerate": _degenerate_group,
}


def _pin_record(pdf) -> dict:
    import hashlib

    from lakehouse_workshop_spark.clv.pipeline import (
        BGNBD_PENALIZER,
        CLV_MONTHS,
        DISCOUNT_RATE,
        GG_PENALIZER,
        clv_score_group,
    )

    srt = pdf.sort_values("CustomerID", kind="mergesort")
    x = srt["FREQUENCY"].to_numpy(dtype=float)
    t_x = srt["RECENCY"].to_numpy(dtype=float)
    T = srt["AGE"].to_numpy(dtype=float)
    m = srt["AVG_MONETARY_VALUE"].to_numpy(dtype=float)
    bgf = BetaGeoModel.fit(x, t_x, T, penalizer_coef=BGNBD_PENALIZER)
    rec = {"bgnbd": tuple(float(v).hex() for v in (bgf.r, bgf.alpha, bgf.a, bgf.b))}
    repeat = x > 1
    if repeat.sum() >= 10:
        ggf = GammaGammaModel.fit(x[repeat], m[repeat], penalizer_coef=GG_PENALIZER)
        rec["gg"] = tuple(float(v).hex() for v in (ggf.p, ggf.q, ggf.v))
        m = ggf.conditional_expected_average_profit(x, m)
    else:
        rec["gg"] = None
    clv = bgf.customer_lifetime_value(
        x, t_x, T, m, time=CLV_MONTHS, discount_rate=DISCOUNT_RATE
    )
    rec["clv64"] = hashlib.sha256(np.ascontiguousarray(clv).tobytes()).hexdigest()[:16]
    out = clv_score_group(pdf, include_cond_exp_avg_profit=True)
    h = hashlib.sha256()
    for name in out.columns:
        col = out[name]
        arr = col.to_numpy("int64", na_value=-1) if col.dtype.name == "Int32" else col.to_numpy()
        h.update(name.encode() + str(arr.dtype).encode() + arr.tobytes())
    rec["score"] = h.hexdigest()[:16]
    return rec


_PINS = {
    "n2000": {
        "bgnbd": (
            "0x1.c57629a2f5454p-1",
            "0x1.3f32dd9b0a1afp+1",
            "0x1.2d02d61b5d5cfp+0",
            "0x1.5242bf74497efp+3",
        ),
        "gg": ("0x1.cb5421160eab0p+1", "0x1.6344c0ea610cbp-2", "0x1.c22423e6db9abp+1"),
        "clv64": "69b1fb06635509a1",
        "score": "2942581e89d52910",
    },
    "n300_freq0": {
        "bgnbd": (
            "0x1.712e99c4d046ap-2",
            "0x1.7d590a13efbd2p+0",
            "0x1.f8043e19a1c0fp-1",
            "0x1.2c4fabd78d71fp+3",
        ),
        "gg": ("0x1.ce0df780ed9b4p+1", "0x1.619b2cd672138p-2", "0x1.c4cadc98f8dc7p+1"),
        "clv64": "9ce95f0514d43e36",
        "score": "8a3961c9904ec298",
    },
    "n50": {
        "bgnbd": (
            "0x1.93f45eac1b5b3p-1",
            "0x1.c18c0bdc53a39p+0",
            "0x1.6c33cc6d0da76p+0",
            "0x1.91c9ae27a26c7p+3",
        ),
        "gg": ("0x1.d956bb166f12ep+1", "0x1.78093c8670a3dp-2", "0x1.d0ce07dc67f6fp+1"),
        "clv64": "a714acb89498987c",
        "score": "ffd904c9869b244f",
    },
    "n500": {
        "bgnbd": (
            "0x1.d74780c679636p-1",
            "0x1.6883fb4e65387p+1",
            "0x1.2dd7c547fa9d7p+0",
            "0x1.43131cc346cc3p+3",
        ),
        "gg": ("0x1.c3e52a1bdd404p+1", "0x1.5cfe47bd658aap-2", "0x1.b9f7c7186ff72p+1"),
        "clv64": "8ba4155591a7afcd",
        "score": "6e114a85f76d91ea",
    },
    "n60_degenerate": {
        "bgnbd": (
            "0x1.8424f17fc5153p-2",
            "0x1.33547a8bc967ap+2",
            "0x1.8018573eb1446p-1",
            "0x1.31183f7087d5fp-1",
        ),
        "gg": None,
        "clv64": "c7b3b600da59e25b",
        "score": "2019588f0302ffd3",
    },
}


@pytest.mark.parametrize("name", sorted(_PIN_GROUPS))
def test_model_kernels_bit_identical(name):
    assert _pin_record(_PIN_GROUPS[name]()) == _PINS[name]


def test_pin_groups_cover_edge_cases():
    z = _PIN_GROUPS["n300_freq0"]()
    assert (z["FREQUENCY"] == 0).sum() > 50
    d = _PIN_GROUPS["n60_degenerate"]()
    assert (d["FREQUENCY"] > 1).sum() < 10
    assert _pin_record(d)["gg"] is None
