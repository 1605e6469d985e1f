"""Numpy implementations of the reference's scipy-backed kernels.

The container has no scipy/sklearn/pmdarima, so the four numeric kernels the
reference leans on are re-implemented here (each is small and deterministic):

- savgol_filter    — scipy.signal.savgol_filter equivalent (polynomial
                     least-squares smoothing), used by the workload
                     preprocessor (/root/reference/analytics/app/workload/
                     models.py:55-62, window=51, poly=3).
- simpson          — scipy.integrate.simpson equivalent (composite Simpson
                     on a possibly non-uniform grid), used by the
                     recovery-time catch-up integral (recoverytime/
                     models.py:45-70).
- nnls             — scipy.optimize.nnls equivalent (Lawson-Hanson active
                     set), used by the TWRES baseline MST fit
                     (baselines/models.py:15-30; 4 coefficients).
- ridge_cv         — sklearn RidgeCV equivalent: closed-form ridge with
                     efficient leave-one-out CV over an alpha grid, used by
                     the capacity model (recoverytime/models.py:20-31;
                     <= 8 training rows).

All operate on plain numpy arrays; the Spark layer calls them inside
``applyInPandas`` kernels (per-series/per-model groups) or driver-side for
tiny inputs (candidate grids <= 23 rows).
"""

from __future__ import annotations

import math

import numpy as np


def lit_double_array(xs) -> "Column":
    """``array<double>`` literal built as ONE parsed SQL expression.

    ``F.array(*[F.lit(x) for x in xs])`` issues a py4j round-trip per
    element — measured ~4 s for a 51-tap vector + two 25x51 matrices in
    the Savitzky-Golay kernel, ALL of it Python-side construction time.
    A single ``F.expr("array(...)")`` parses in the JVM in ~ms. Values
    are bit-identical: ``repr(float)`` is the shortest round-trip decimal
    form and Java's ``Double.parseDouble`` is correctly-rounded, so
    ``parseDouble(repr(x)) == x`` exactly (the ``D`` suffix pins the SQL
    literal type to DOUBLE — bare decimals would parse as DECIMAL).
    Non-finite values fall back to the per-element form (repr emits
    'inf'/'nan', which the SQL parser does not accept)."""
    from pyspark.sql import functions as F

    vals = [float(x) for x in xs]
    if vals and all(math.isfinite(x) for x in vals):
        return F.expr("array(" + ",".join(f"{x!r}D" for x in vals) + ")")
    # empty input or non-finite values: per-element form, still typed
    return F.array(*[F.lit(x) for x in vals]).cast("array<double>")


def lit_double_matrix(rows) -> "Column":
    """``array<array<double>>`` literal in one parsed expression (see
    :func:`lit_double_array`)."""
    from pyspark.sql import functions as F

    mat = [[float(x) for x in row] for row in rows]
    if mat and all(math.isfinite(x) for row in mat for x in row):
        return F.expr(
            "array("
            + ",".join("array(" + ",".join(f"{x!r}D" for x in row) + ")" for row in mat)
            + ")"
        )
    # empty input or non-finite values: per-element form, cast as a WHOLE
    # so lit_double_matrix([]) is array<array<double>>, not array<void>
    # (ADVICE r11 — the helpers are public; callers never hit this today)
    return F.array(
        *[F.array(*[F.lit(x) for x in row]) for row in mat]
    ).cast("array<array<double>>")


def lit_long_array(xs) -> "Column":
    """``array<bigint>`` literal in one parsed expression (see
    :func:`lit_double_array`; the ``L`` suffix pins BIGINT)."""
    from pyspark.sql import functions as F

    vals = [int(x) for x in xs]
    if not vals:
        return F.array().cast("array<bigint>")
    # a BIGINT literal must fit in int64 or the parsed `NNNL` form fails
    # at analysis time with an opaque error — reject at construction
    if not all(-(2**63) <= x < 2**63 for x in vals):
        raise ValueError("lit_long_array: value outside int64")
    return F.expr("array(" + ",".join(f"{x}L" for x in vals) + ")")


def lit_long_matrix(rows) -> "Column":
    """``array<array<bigint>>`` literal in one parsed expression."""
    from pyspark.sql import functions as F

    mat = [[int(x) for x in row] for row in rows]
    if not mat:
        # typed empty guard (ADVICE r11): F.expr("array()") is array<void>
        return F.array().cast("array<array<bigint>>")
    if not all(-(2**63) <= x < 2**63 for row in mat for x in row):
        raise ValueError("lit_long_matrix: value outside int64")
    return F.expr(
        "array("
        + ",".join("array(" + ",".join(f"{x}L" for x in row) + ")" for row in mat)
        + ")"
    )


def savgol_coeffs(window: int, polyorder: int) -> np.ndarray:
    """Central Savitzky-Golay smoothing coefficients (deriv=0).

    Least-squares fit of a degree-``polyorder`` polynomial over the window,
    evaluated at the center: c = e_center^T (A^T A)^{-1} A^T with Vandermonde
    A over offsets — identical to scipy's convolution coefficients.
    """
    if window % 2 != 1 or window <= polyorder:
        raise ValueError("window must be odd and > polyorder")
    half = window // 2
    offsets = np.arange(-half, half + 1, dtype=float)
    A = np.vander(offsets, polyorder + 1, increasing=True)  # (window, p+1)
    # pinv row 0 gives the value of the fitted polynomial at offset 0
    coeffs = np.linalg.pinv(A)[0]
    return coeffs


def savgol_filter(y: np.ndarray, window: int, polyorder: int) -> np.ndarray:
    """scipy-compatible savgol with 'interp' edge mode: interior points are
    the centered convolution; the first/last half-window points come from
    polynomials fitted to the first/last ``window`` samples (scipy default
    mode='interp'). Degenerate short inputs fall back to a reduced window
    (the reference corrects even/large windows the same way,
    workload/models.py:57-61)."""
    y = np.asarray(y, dtype=float)
    n = len(y)
    if n == 0:
        return y
    w = min(window, n if n % 2 == 1 else n - 1)
    if w <= polyorder:
        w = polyorder + 1 + ((polyorder + 1) % 2 == 0)  # next odd > polyorder
        w = min(w, n if n % 2 == 1 else n - 1)
        if w <= polyorder:
            return y.copy()
    half = w // 2
    out = np.convolve(y, savgol_coeffs(w, polyorder)[::-1], mode="same")
    # 'interp' edges: fit a polynomial to the first/last w samples
    offsets = np.arange(w, dtype=float)
    first_fit = np.polynomial.polynomial.polyfit(offsets, y[:w], polyorder)
    out[:half] = np.polynomial.polynomial.polyval(offsets[:half], first_fit)
    last_fit = np.polynomial.polynomial.polyfit(offsets, y[-w:], polyorder)
    out[-half:] = np.polynomial.polynomial.polyval(offsets[half + 1 :], last_fit)
    return out


def exp_rolling_mean(y: np.ndarray, window: int, tau: float = 1.0) -> np.ndarray:
    """pandas ``rolling(window, min_periods=1, center=True,
    win_type='exponential').mean()`` equivalent without scipy.

    Weights are scipy.signal.windows.exponential(window, tau=1, sym=True):
    ``w[j] = exp(-|j - (window-1)/2| / tau)``. Pandas centered window for
    index i spans ``[i-(window-1)//2, i+window//2]`` inclusive; edge windows
    are partial with weights renormalized over the available positions
    (min_periods=1)."""
    y = np.asarray(y, dtype=float)
    n = len(y)
    if n == 0 or window <= 1:
        return y.copy()
    center = (window - 1) / 2.0
    w = np.exp(-np.abs(np.arange(window) - center) / tau)
    lo_off = (window - 1) // 2
    out = np.empty(n)
    # full convolution once; edges corrected with partial normalization
    num = np.convolve(y, w[::-1], mode="full")
    den = np.convolve(np.ones(n), w[::-1], mode="full")
    # full-mode index for output i: window position j maps to y[i-lo_off+j];
    # conv index = (i - lo_off) + (window - 1)
    idx = np.arange(n) - lo_off + window - 1
    out = num[idx] / den[idx]
    return out


def simpson(y: np.ndarray, x: np.ndarray) -> float:
    """Composite Simpson's rule on (possibly non-uniform) sample points —
    matches scipy.integrate.simpson semantics: pairs of intervals get the
    quadratic rule; an odd final interval is handled with the trapezoid-
    corrected last-interval formula scipy uses ('avg' is not used; scipy
    default even='avg' applies to uniform arrays via `dx`, but with explicit
    x scipy integrates the last interval by Cartesian correction)."""
    y = np.asarray(y, dtype=float)
    x = np.asarray(x, dtype=float)
    n = len(y)
    if n < 2:
        return 0.0
    if n == 2:
        return float((x[1] - x[0]) * (y[0] + y[1]) / 2.0)
    total = 0.0
    # pairs of intervals [x0,x1,x2]
    last_pair_end = n - 1 if (n - 1) % 2 == 0 else n - 2
    for i in range(0, last_pair_end - 1, 2):
        h0 = x[i + 1] - x[i]
        h1 = x[i + 2] - x[i + 1]
        hsum = h0 + h1
        if h0 == 0 and h1 == 0:
            continue
        total += (hsum / 6.0) * (
            y[i] * (2.0 - h1 / h0)
            + y[i + 1] * (hsum * hsum / (h0 * h1))
            + y[i + 2] * (2.0 - h0 / h1)
        )
    if (n - 1) % 2 == 1:
        # odd interval count: scipy's correction for the final interval
        h0 = x[-2] - x[-3]
        h1 = x[-1] - x[-2]
        total += y[-1] * (2 * h1 * h1 + 3 * h0 * h1) / (6 * (h0 + h1))
        total += y[-2] * (h1 * h1 + 3 * h1 * h0) / (6 * h0)
        total -= y[-3] * h1 * h1 * h1 / (6 * h0 * (h0 + h1))
    return float(total)


def nnls(A: np.ndarray, b: np.ndarray, max_iter: int | None = None) -> tuple[np.ndarray, float]:
    """Lawson-Hanson non-negative least squares (scipy.optimize.nnls
    equivalent): min ||Ax - b|| s.t. x >= 0. Active-set algorithm; the TWRES
    fit has only 4 coefficients so this converges in a handful of steps."""
    A = np.asarray(A, dtype=float)
    b = np.asarray(b, dtype=float)
    m, k = A.shape
    if max_iter is None:
        max_iter = 3 * k
    x = np.zeros(k)
    passive: list[int] = []
    w = A.T @ (b - A @ x)
    it = 0
    tol = 10 * np.finfo(float).eps * np.linalg.norm(A, 1) * (max(m, k) + 1)
    while len(passive) < k and np.any(w > tol):
        candidates = [j for j in range(k) if j not in passive]
        if not candidates:
            break
        j = candidates[int(np.argmax(w[candidates]))]
        passive.append(j)
        while True:
            it += 1
            if it > max_iter * 10:
                break
            Ap = A[:, passive]
            s_passive, *_ = np.linalg.lstsq(Ap, b, rcond=None)
            if np.all(s_passive > tol):
                x = np.zeros(k)
                x[passive] = s_passive
                break
            neg = s_passive <= tol
            xp = x[passive]
            with np.errstate(divide="ignore", invalid="ignore"):
                alphas = np.where(neg, xp / (xp - s_passive), np.inf)
            alpha = np.min(alphas)
            x[passive] = xp + alpha * (s_passive - xp)
            passive = [p for p, xv in zip(passive, x[passive]) if xv > tol]
            if not passive:
                x = np.zeros(k)
                break
        w = A.T @ (b - A @ x)
    resid = float(np.linalg.norm(A @ x - b))
    return x, resid


def ridge_cv(
    X: np.ndarray,
    y: np.ndarray,
    alphas: tuple[float, ...] = (0.1, 1.0, 10.0),
) -> tuple[np.ndarray, float, float]:
    """sklearn RidgeCV() equivalent: closed-form ridge regression with
    efficient leave-one-out CV over ``alphas`` (sklearn's default grid).
    Features are augmented with an (unpenalized-intercept-style) bias via
    centering, matching sklearn fit_intercept=True. Returns
    (coef, intercept, best_alpha)."""
    X = np.atleast_2d(np.asarray(X, dtype=float))
    if X.shape[0] == 1 and len(np.asarray(y)) > 1:
        X = X.T
    y = np.asarray(y, dtype=float)
    Xm = X.mean(axis=0)
    ym = y.mean()
    Xc = X - Xm
    yc = y - ym
    best = (None, np.inf)
    for a in alphas:
        G = Xc @ np.linalg.inv(Xc.T @ Xc + a * np.eye(X.shape[1])) @ Xc.T
        resid = yc - G @ yc
        loo = resid / (1.0 - np.clip(np.diag(G), None, 1 - 1e-12))
        err = float(np.mean(loo**2))
        if err < best[1]:
            best = (a, err)
    a = best[0]
    coef = np.linalg.solve(Xc.T @ Xc + a * np.eye(X.shape[1]), Xc.T @ yc)
    intercept = float(ym - Xm @ coef)
    return coef, intercept, float(a)
