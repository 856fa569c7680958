"""Gamma-Gamma monetary-value model.

Reimplements the reference's ``GammaGammaFitter`` usage
(``DS_cust_lifetime_value.py:295-325``, M4/M6 in SURVEY.md §2.7) from the
published Fader/Hardie note "The Gamma-Gamma Model of Monetary Value" (2013).
Fit only on repeat customers (frequency > 1, ref ``DS:276,476``) whose
frequency and monetary value are approximately uncorrelated (checked by A8).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from lakehouse_workshop_spark.models.special import lgamma, nelder_mead


def _objective(x: np.ndarray, m: np.ndarray, penalizer: float):
    """Penalized mean negative log-likelihood over log-params, as a closure
    over the data-only terms (see ``bgnbd._objective``): log(m), log(x),
    m*x and the unique frequencies are computed once per fit, and the
    three lgamma terms run in one stacked call over the unique values.
    """
    ux, inv = np.unique(x, return_inverse=True)
    k = len(ux)
    log_m, log_x, mx = np.log(m), np.log(x), m * x

    def obj(log_params: np.ndarray) -> float:
        params = np.exp(np.clip(log_params, -15.0, 15.0))
        p, q, v = params
        pu = p * ux
        lg = lgamma(np.concatenate((pu + q, pu, (q,))))
        head = (lg[:k] - lg[k : 2 * k] - lg[2 * k] + q * np.log(v))[inv]
        px = pu[inv]
        ll = head + (px - 1.0) * log_m + px * log_x - (px + q) * np.log(v + mx)
        val = -np.mean(ll) + penalizer * np.sum(params**2)
        return val if np.isfinite(val) else 1e12

    return obj


@dataclass
class GammaGammaModel:
    """Fitted Gamma-Gamma parameters (p, q, v)."""

    p: float
    q: float
    v: float

    @classmethod
    def fit(
        cls, frequency: np.ndarray, monetary_value: np.ndarray, *, penalizer_coef: float = 0.0001
    ) -> "GammaGammaModel":
        """MLE fit on repeat customers (ref ``DS:297-298,476-478``)."""
        x = np.asarray(frequency, float)
        m = np.asarray(monetary_value, float)
        keep = (x > 0) & (m > 0)
        x, m = x[keep], m[keep]

        obj = _objective(x, m, penalizer_coef)
        best, best_f = None, np.inf
        for start in ([1.0, 1.0, 1.0], [0.1, 0.1, 0.1], [2.0, 3.0, 5.0]):
            theta, f = nelder_mead(obj, np.log(np.asarray(start)))
            if f < best_f:
                best, best_f = theta, f
        p, q, v = np.exp(best)
        return cls(p=float(p), q=float(q), v=float(v))

    # M6 — E[M | m̄, x] (ref ``DS:316-325`` COND_EXP_AVG_PROFT).
    def conditional_expected_average_profit(
        self, frequency: np.ndarray, monetary_value: np.ndarray
    ) -> np.ndarray:
        p, q, v = self.p, self.q, self.v
        x = np.asarray(frequency, float)
        m = np.asarray(monetary_value, float)
        # Weighted form: individual mean shrunk toward the population mean.
        w = p * x / (p * x + q - 1.0)
        population = p * v / (q - 1.0)
        return (1.0 - w) * population + w * m
