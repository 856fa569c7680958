"""BG/NBD (Beta-Geometric / Negative-Binomial) purchase model.

Reimplements the model the reference fits through the ``lifetimes`` library
(``DS_cust_lifetime_value.py:192-264``, M1–M3 in SURVEY.md §2.7) from the
published Fader/Hardie formulas ("Counting Your Customers the Easy Way: An
Alternative to the Pareto/NBD Model", Marketing Science 2005, and the
companion note linked at ``DS_cust_lifetime_value.py:187``).

Inputs per customer: ``frequency`` x (repeat purchases), ``recency`` t_x
(time of last repeat purchase), ``T`` (age). All math is vectorized numpy —
inside ``applyInPandas`` this scores whole Arrow batches at once.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from lakehouse_workshop_spark.models.special import hyp2f1, lgamma, nelder_mead


def _objective(x: np.ndarray, t_x: np.ndarray, T: np.ndarray, penalizer: float):
    """Penalized mean negative log-likelihood over log-params, as a closure
    that holds the data-only terms so a fit computes them once, not once
    per Nelder-Mead evaluation.

    x is small-integer frequency: the lgamma terms depend on x alone, so
    they run over its ~20 unique values in one stacked ``lgamma`` call and
    are indexed back. Every expression keeps the association order of the
    textbook form, so the value is bit-identical to evaluating it row by
    row. Non-finite values map to 1e12 so the simplex walks away from them.
    """
    ux, inv = np.unique(x, return_inverse=True)
    k = len(ux)
    pos = x > 0
    x_pos, t_x_pos = x[pos], t_x[pos]
    a4 = np.full_like(x, -np.inf)

    def obj(log_params: np.ndarray) -> float:
        params = np.exp(np.clip(log_params, -15.0, 15.0))
        r, alpha, a, b = params
        ab = a + b
        lg = lgamma(np.concatenate((r + ux, b + ux, ab + ux, (r, ab, b))))
        lg_r, lg_ab, lg_b = lg[3 * k :]
        a1 = lg[:k] - lg_r + r * np.log(alpha)
        a2 = lg_ab + lg[k : 2 * k] - lg_b - lg[2 * k : 3 * k]
        a3 = -(r + x) * np.log(alpha + T)
        a4[pos] = np.log(a) - np.log(b + x_pos - 1.0) - (r + x_pos) * np.log(alpha + t_x_pos)
        ll = (a1 + a2)[inv] + np.logaddexp(a3, a4)
        v = -np.mean(ll) + penalizer * np.sum(params**2)
        return v if np.isfinite(v) else 1e12

    return obj


@dataclass
class BetaGeoModel:
    """Fitted BG/NBD parameters (r, alpha, a, b)."""

    r: float
    alpha: float
    a: float
    b: float

    @classmethod
    def fit(
        cls,
        frequency: np.ndarray,
        recency: np.ndarray,
        T: np.ndarray,
        *,
        penalizer_coef: float = 0.0001,
    ) -> "BetaGeoModel":
        """MLE fit (ref ``DS:192-193`` with ``penalizer_coef=0.0001``)."""
        x = np.asarray(frequency, float)
        t_x = np.asarray(recency, float)
        T = np.asarray(T, float)

        obj = _objective(x, t_x, T, penalizer_coef)
        best, best_f = None, np.inf
        # Deterministic multi-start: MLE surface has flat valleys.
        for start in ([0.1] * 4, [1.0] * 4, [0.5, 2.0, 0.5, 2.0]):
            theta, f = nelder_mead(obj, np.log(np.asarray(start)))
            if f < best_f:
                best, best_f = theta, f
        r, alpha, a, b = np.exp(best)
        return cls(r=float(r), alpha=float(alpha), a=float(a), b=float(b))

    # M2 — conditional expected purchases over the next ``t`` periods
    # (ref ``DS:204,238,473``: t=52.08 weeks). ``t`` may be a column of
    # horizons, giving one row of expectations per horizon.
    def conditional_expected_purchases(
        self, t: float | np.ndarray, frequency: np.ndarray, recency: np.ndarray, T: np.ndarray
    ) -> np.ndarray:
        r, alpha, a, b = self.r, self.alpha, self.a, self.b
        x = np.asarray(frequency, float)
        t_x = np.asarray(recency, float)
        T = np.asarray(T, float)
        z = t / (alpha + T + t)
        hyp = hyp2f1(r + x, b + x, a + b + x - 1.0, z)
        numer = (
            (a + b + x - 1.0)
            / (a - 1.0)
            * (1.0 - np.power((alpha + T) / (alpha + T + t), r + x) * hyp)
        )
        denom = 1.0 + (x > 0) * (a / (b + x - 1.0)) * np.power(
            (alpha + T) / (alpha + t_x), r + x
        )
        return numer / denom

    # M3 — P(alive | x, t_x, T) (ref ``DS:240``).
    def conditional_probability_alive(
        self, frequency: np.ndarray, recency: np.ndarray, T: np.ndarray
    ) -> np.ndarray:
        r, alpha, a, b = self.r, self.alpha, self.a, self.b
        x = np.asarray(frequency, float)
        t_x = np.asarray(recency, float)
        T = np.asarray(T, float)
        odds = (x > 0) * (a / (b + x - 1.0)) * np.power((alpha + T) / (alpha + t_x), r + x)
        return 1.0 / (1.0 + odds)

    # M3 horizon variant — P(alive at age T+t given no further purchases)
    # (engine's reading of the reference's PROB_ALIVE_t at t=10, ``DS:253``).
    def probability_alive_at_horizon(
        self, t: float, frequency: np.ndarray, recency: np.ndarray, T: np.ndarray
    ) -> np.ndarray:
        return self.conditional_probability_alive(
            frequency, recency, np.asarray(T, float) + float(t)
        )

    # M5 — discounted CLV over ``time`` months at monthly ``discount_rate``
    # (ref ``DS:305-314,480-489``: freq='W', time=12, rate 0.0056/0.01).
    # Mirrors the lifetimes DCF: monthly increments of expected purchases,
    # each month's revenue = monetary * increment, discounted by month index.
    def customer_lifetime_value(
        self,
        frequency: np.ndarray,
        recency: np.ndarray,
        T: np.ndarray,
        monetary_value: np.ndarray,
        *,
        time: int = 12,
        discount_rate: float = 0.01,
        weeks_per_month: float = 4.345,
    ) -> np.ndarray:
        x = np.asarray(frequency, float)
        clv = np.zeros_like(x)
        prev = np.zeros_like(x)
        m = np.asarray(monetary_value, float)
        # All horizons as one (time, n) block: one hyp2f1 call whose rows
        # converge independently, so each row equals its own scalar-t call.
        horizons = (np.arange(1, int(time) + 1) * weeks_per_month)[:, None]
        cums = self.conditional_expected_purchases(horizons, frequency, recency, T)
        for month, cum in enumerate(cums, start=1):
            clv = clv + m * (cum - prev) / (1.0 + discount_rate) ** month
            prev = cum
        return clv
