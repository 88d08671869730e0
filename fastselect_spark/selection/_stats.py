"""Pure-NumPy statistical finalizers run on the DRIVER over small merged
sufficient statistics (contingency tables, observed matrices, per-class
moments).

scipy is unavailable in this environment, so the chi-square survival
function is implemented from scratch via the regularized incomplete gamma
function (classic series + Lentz continued-fraction method, public
numerical-analysis knowledge).
"""

from __future__ import annotations

import math

import numpy as np

_EPS_MI = 1e-12  # matches reference eps placement (mutual_information.py:40-45)


def log_base(unit: str) -> float:
    """Natural log of the MI unit's base: ln 2 for ``"bit"``, 1 for
    ``"nat"``. Any other unit raises instead of silently returning nats."""
    if unit == "bit":
        return math.log(2.0)
    if unit == "nat":
        return 1.0
    raise ValueError(f"unit must be 'bit' or 'nat', got {unit!r}")


def mi_from_contingency(table: np.ndarray, unit: str = "bit") -> float:
    """I(a;b) from a joint count table, reproducing the reference's exact
    eps semantics: cells with pxy > 1e-12 contribute
    ``pxy * log(pxy / (px*py + 1e-12))``; result divided by ln2 for bits.
    (/root/reference/src/fast_select/mutual_information.py:26-46)"""
    n = table.sum()
    if n <= 0:
        return 0.0
    p = table.astype(np.float64) / n
    px = p.sum(axis=1)
    py = p.sum(axis=0)
    denom = px[:, None] * py[None, :] + _EPS_MI
    mask = p > _EPS_MI
    mi = float(np.sum(p[mask] * np.log(p[mask] / denom[mask])))
    return mi / log_base(unit)


def chi2_stats_from_observed(
    observed: np.ndarray, class_freqs: np.ndarray, n_samples: float
) -> np.ndarray:
    """chi2 per feature from the (K, p) value-weighted observed matrix,
    matching reference semantics: zero-sum features score 0; expected cells
    <= 1e-12 are skipped (/root/reference/src/fast_select/Chi2.py:24-47)."""
    feature_counts = observed.sum(axis=0)
    expected = np.outer(class_freqs, feature_counts) / n_samples  # (K, p)
    with np.errstate(divide="ignore", invalid="ignore"):
        term = np.where(expected > 1e-12, (observed - expected) ** 2 / expected, 0.0)
    stats = term.sum(axis=0)
    stats[feature_counts == 0] = 0.0
    return stats


def fisher_from_moments(n_c: np.ndarray, s: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Fisher score per feature from per-class count ``(K,)``, sum and
    sum-of-squares ``(K, p)``: between-class variance over pooled
    within-class population variance. Zero within-class variance scores
    +inf when the class means differ, 0 when constant; fewer than two
    classes score 0. Both layouts' Fisher scorers finalize here."""
    if len(n_c) < 2:
        return np.zeros(s.shape[1], dtype=np.float64)
    n = n_c.sum()
    mu_c = s / n_c[:, None]
    var_c = np.maximum(q / n_c[:, None] - mu_c**2, 0.0)
    mu = s.sum(axis=0) / n
    between = (n_c[:, None] * (mu_c - mu[None, :]) ** 2).sum(axis=0)
    within = (n_c[:, None] * var_c).sum(axis=0)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(
            within > 0, between / within, np.where(between > 0, np.inf, 0.0)
        )


# --- regularized incomplete gamma (for the chi-square survival function) ---

_ITMAX = 500
_TOL = 3e-14


def _gser(a: float, x: float) -> float:
    """Lower regularized incomplete gamma P(a, x) by series expansion
    (converges fast for x < a + 1)."""
    if x <= 0.0:
        return 0.0
    ap = a
    s = 1.0 / a
    delta = s
    for _ in range(_ITMAX):
        ap += 1.0
        delta *= x / ap
        s += delta
        if abs(delta) < abs(s) * _TOL:
            break
    return s * math.exp(-x + a * math.log(x) - math.lgamma(a))


def _gcf(a: float, x: float) -> float:
    """Upper regularized incomplete gamma Q(a, x) by modified Lentz
    continued fraction (converges fast for x >= a + 1)."""
    tiny = 1e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, _ITMAX):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < _TOL:
            break
    return h * math.exp(-x + a * math.log(x) - math.lgamma(a))


def gammainc_upper(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x)."""
    if x < 0.0 or a <= 0.0:
        raise ValueError("invalid arguments for gammainc_upper")
    if x == 0.0:
        return 1.0
    if x < a + 1.0:
        return 1.0 - _gser(a, x)
    return _gcf(a, x)


def chi2_sf(stats: np.ndarray, dof: int) -> np.ndarray:
    """Survival function of the chi-square distribution:
    sf(x, k) = Q(k/2, x/2)."""
    out = np.empty_like(np.asarray(stats, dtype=np.float64))
    flat = np.asarray(stats, dtype=np.float64).ravel()
    o = out.ravel()
    for i, x in enumerate(flat):
        o[i] = gammainc_upper(dof / 2.0, max(x, 0.0) / 2.0)
    return out
