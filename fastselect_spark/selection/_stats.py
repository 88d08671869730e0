"""Pure-NumPy statistical finalizers run over small merged sufficient
statistics (contingency tables, observed matrices, per-class moments), and
the one contingency-table builder: every MI and SU scorer builds its tables
as stacks with :func:`contingency_tables` and finalizes a whole stack with
:func:`mi_tables` or :func:`su_tables`, never one table per Python call.

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


def table_blocks(m: int, cells: int, n: int):
    """Slices of ``m`` tables of ``cells`` cells over ``n`` rows, one per
    :func:`contingency_tables` call. A block is about 16k table cells per
    1000 rows (large blocks mmap/munmap tens of MB each, and concurrent
    workers measured 5-8x slower on that page-fault churn than one
    process) and never holds more than 2M codes (16 MB of int64) in one
    temporary."""
    n = max(1, n)
    step = max(1, min((1 << 14) // cells * max(1, 1000 // n), (1 << 21) // n))
    for s in range(0, m, step):
        yield slice(s, min(s + step, m))


def contingency_tables(A, B, ka: int, kb: int, weights=None) -> np.ndarray:
    """The ``(m, ka, kb)`` stack of joint count tables of two code arrays
    broadcasting to ``(m, n)``: table t counts the pairs (A[t, r], B[t, r])
    over the rows r, all in ONE ``np.bincount`` of the fused codes
    ``A*kb + B`` offset by t·ka·kb (CLAUDE.md: bincount beats np.add.at
    ~10x on fused codes). Codes lie in [0, ka) and [0, kb). ``weights``
    (broadcasting to ``(m, n)``) weighs each row, e.g. a value cube's cell
    counts; the stack is int64 counts without them, float64 sums with
    them. Bound ``m·n`` with :func:`table_blocks`."""
    fused = np.multiply(A, kb, dtype=np.int64)
    fused += B
    cells = ka * kb
    m = fused.shape[0]
    fused += np.arange(0, m * cells, cells, dtype=np.int64)[:, None]
    if weights is not None:
        w = np.empty(fused.shape)
        w[...] = weights  # one broadcasting copy, not a strided ravel
        weights = w.ravel()
    return np.bincount(fused.ravel(), weights, minlength=m * cells).reshape(m, ka, kb)


def _joint_p(T) -> tuple[np.ndarray, ...]:
    """(T as float64, n (m,1,1), p, p_x (m,ka,1), p_y (m,1,kb)) of a table
    stack; an empty table takes n = 1, so its probabilities are all 0."""
    T = np.asarray(T, dtype=np.float64)
    n = T.sum(axis=(1, 2), keepdims=True)
    n = np.where(n > 0, n, 1.0)
    P = T / n
    return T, n, P, P.sum(axis=2, keepdims=True), P.sum(axis=1, keepdims=True)


def mi_tables(T, unit: str = "bit") -> np.ndarray:
    """I(a;b) of every table of a ``(m, ka, kb)`` count stack, with the
    reference's eps placement (mutual_information.py:40-45): cells with
    p > 1e-12 add ``p * log(p / (p_x*p_y + 1e-12))``; an empty table
    scores 0. Each table is summed over its own cells only, so a table
    gets the same bits alone and at any position of a larger stack."""
    _, _, P, px, py = _joint_p(T)
    mask = P > _EPS_MI
    contrib = np.zeros_like(P)
    np.log(np.where(mask, P / (px * py + _EPS_MI), 1.0), out=contrib, where=mask)
    return (P * contrib).sum(axis=(1, 2)) / log_base(unit)


def _entropy_bits(q: np.ndarray) -> np.ndarray:
    """Entropy in bits of each row of a probability matrix; cells at or
    below 1e-12 count as empty."""
    lg = np.zeros_like(q)
    np.log2(q, out=lg, where=q > _EPS_MI)
    return -(q * lg).sum(axis=1)


def su_tables(T) -> np.ndarray:
    """Symmetrical uncertainty SU = 2·I/(H_x + H_y) of every table of a
    ``(m, ka, kb)`` count stack, in CFS's log2 form (CFS.py:11-64): the MI
    has NO eps in its denominator and counts a cell only where p, p_x and
    p_y all exceed 1e-12; the entropies come from the count marginals.
    An empty table, or one with H_x + H_y < 1e-12, scores 0. Stack tables
    of one shape: zero-padding a table to a larger shape changes its
    summation order, hence its bits."""
    T, n, P, px, py = _joint_p(T)
    h = _entropy_bits(T.sum(axis=2) / n[:, 0]) + _entropy_bits(T.sum(axis=1) / n[:, 0])
    mask = (P > _EPS_MI) & (px > _EPS_MI) & (py > _EPS_MI)
    ratio = np.ones_like(P)
    np.divide(P, px * py, out=ratio, where=mask)
    lg = np.zeros_like(P)
    np.log2(ratio, out=lg, where=mask)
    mi = (P * lg).sum(axis=(1, 2))
    low = h < 1e-12
    return np.where(low, 0.0, 2.0 * mi / np.where(low, 1.0, h))


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
