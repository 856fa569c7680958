"""Vectorized special functions + derivative-free optimizer in pure numpy.

scipy is not available in this image, so the pieces the CLV models need are
implemented from their published forms:

- ``lgamma``: Lanczos approximation (g=7, n=9 — the classic Numerical-Recipes
  coefficient set), abs error ~1e-13 over the positive reals.
- ``hyp2f1``: Gauss hypergeometric series for 0 <= z < 1 (the only region the
  BG/NBD conditional-expectation formula visits: z = t/(alpha+T+t)), with the
  Euler transformation applied when z > 0.9 for convergence. Each row of a
  2-D ``z`` (one CLV horizon per row) stops on its own convergence test, so
  a block of rows returns exactly what one call per row would.
- ``nelder_mead``: standard simplex optimizer (what ``lifetimes`` uses via
  scipy) — enough for 3-4 parameter MLE fits. The simplex is one ``(d+1, d)``
  array, so a step costs a few array ops rather than Python list work.

The CLV fits call these a few thousand times on small groups, so per-call
interpreter overhead, not data volume, is what they cost: callers stack
arguments into one ``lgamma`` call and one ``hyp2f1`` block, and each
function does its work in a few whole-array ops. Every rewrite keeps the
order of every floating-point operation, so results are bit-identical to
the textbook one-term-at-a-time forms.
"""

from __future__ import annotations

import numpy as np

_LANCZOS_G = 7.0
_LANCZOS_C = np.array(
    [
        0.99999999999980993,
        676.5203681218851,
        -1259.1392167224028,
        771.32342877765313,
        -176.61502916214059,
        12.507343278686905,
        -0.13857109526572012,
        9.9843695780195716e-6,
        1.5056327351493116e-7,
    ]
)
_LANCZOS_I = np.arange(1.0, 9.0)[:, None]
_HALF_LOG_2PI = 0.5 * np.log(2.0 * np.pi)


def lgamma(x: np.ndarray | float) -> np.ndarray:
    """log Γ(x) for x > 0, vectorized (Lanczos, g=7).

    The series c0 + c1/(z+1) + ... + c8/(z+8) is one (9, n) block of terms
    summed by ``np.add.accumulate``, which adds strictly in row order: the
    same left fold as adding one term at a time, in two array ops.
    """
    x = np.asarray(x, dtype=np.float64)
    z = x.reshape(-1) - 1.0
    terms = np.empty((9, z.size))
    terms[0] = _LANCZOS_C[0]
    np.divide(_LANCZOS_C[1:, None], z + _LANCZOS_I, out=terms[1:])
    acc = np.add.accumulate(terms, axis=0)[-1]
    t = z + _LANCZOS_G + 0.5
    return (_HALF_LOG_2PI + (z + 0.5) * np.log(t) - t + np.log(acc)).reshape(x.shape)


def hyp2f1(a: float | np.ndarray, b: float | np.ndarray, c: float | np.ndarray, z: np.ndarray) -> np.ndarray:
    """Gauss 2F1(a, b; c; z) for 0 <= z < 1, vectorized over all args.

    The series runs until every element of a row has converged, where a
    row is the whole array for 1-D ``z`` and ``z[i]`` (with ``a``, ``b``,
    ``c`` broadcast against it) for 2-D ``z``. A converged row stops taking
    terms while the others go on, so row ``i`` of a block is bit-identical
    to a call on that row alone.
    """
    a, b, c, z = np.broadcast_arrays(
        np.asarray(a, float), np.asarray(b, float), np.asarray(c, float), np.asarray(z, float)
    )
    shape = z.shape
    a, b, c, z = np.atleast_2d(a, b, c, z)
    # Euler transform where z is close to 1: 2F1(a,b;c;z) =
    # (1-z)^(c-a-b) 2F1(c-a, c-b; c; z).
    hard = z > 0.9
    prefac = np.ones_like(z)
    if hard.any():
        prefac = np.where(hard, np.power(1.0 - z, c - a - b), 1.0)
        a = np.where(hard, c - a, a)
        b = np.where(hard, c - b, b)
    out = np.empty_like(z)
    live = np.arange(len(z))
    term = np.ones_like(z)
    total = np.ones_like(z)
    for k in range(5000):
        if not live.size:
            break
        term = term * (a + k) * (b + k) / ((c + k) * (k + 1.0)) * z
        total = total + term
        done = np.all(np.abs(term) < 1e-13 * np.maximum(np.abs(total), 1e-300), axis=1)
        if done.any():
            out[live[done]] = total[done]
            keep = ~done
            live, a, b, c, z, term, total = (v[keep] for v in (live, a, b, c, z, term, total))
    out[live] = total
    return (prefac * out).reshape(shape)


def nelder_mead(
    fn,
    x0: np.ndarray,
    *,
    max_iter: int = 2000,
    xatol: float = 1e-7,
    fatol: float = 1e-9,
) -> tuple[np.ndarray, float]:
    """Minimize ``fn`` from ``x0`` with the Nelder-Mead simplex method."""
    x0 = np.asarray(x0, float)
    n = len(x0)
    alpha, gamma, rho, sigma = 1.0, 2.0, 0.5, 0.5
    simplex = np.tile(x0, (n + 1, 1))
    step = np.where(x0 != 0, 0.05, 0.00025)
    simplex[np.arange(1, n + 1), np.arange(n)] += step
    fvals = np.array([fn(p) for p in simplex])

    for _ in range(max_iter):
        order = np.argsort(fvals)
        simplex, fvals = simplex[order], fvals[order]
        if (
            np.max(np.abs(simplex[1:] - simplex[0])) < xatol
            and abs(fvals[-1] - fvals[0]) < fatol
        ):
            break
        centroid = np.mean(simplex[:-1], axis=0)
        xr = centroid + alpha * (centroid - simplex[-1])
        fr = fn(xr)
        if fvals[0] <= fr < fvals[-2]:
            simplex[-1], fvals[-1] = xr, fr
        elif fr < fvals[0]:
            xe = centroid + gamma * (xr - centroid)
            fe = fn(xe)
            if fe < fr:
                simplex[-1], fvals[-1] = xe, fe
            else:
                simplex[-1], fvals[-1] = xr, fr
        else:
            xc = centroid + rho * (simplex[-1] - centroid)
            fc = fn(xc)
            if fc < fvals[-1]:
                simplex[-1], fvals[-1] = xc, fc
            else:
                simplex[1:] = simplex[0] + sigma * (simplex[1:] - simplex[0])
                fvals[1:] = [fn(s) for s in simplex[1:]]
    best = np.argsort(fvals)[0]
    return simplex[best].copy(), fvals[best]
