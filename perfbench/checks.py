"""Output checks. Each returns a list of problems; an empty list passes.

The references are exact answers from the seeded inputs (sorted raw values,
exact NDV, the exact-duplicate pair set) and direct builds with the numpy
kernels over the same raw rows. A merge of stored DDSketches is a sum of
bucket counts, so a range or rollup answer must equal the direct build
exactly, not just within alpha.
"""

from __future__ import annotations

import math

import numpy as np


def exact_lower_quantile(sorted_vals: np.ndarray, q: float) -> float:
    """The value at rank floor(q * (n - 1)), the convention the DDSketch
    quantile walk follows."""
    return float(sorted_vals[int(math.floor(q * (len(sorted_vals) - 1)))])


def within_alpha(est: float, exact: float, alpha: float) -> bool:
    return abs(est - exact) <= alpha * abs(exact) * (1 + 1e-9) + 1e-12


def check_alpha(label: str, est, sorted_vals: np.ndarray, qs, alpha: float) -> list[str]:
    out = []
    for q, e in zip(qs, est):
        x = exact_lower_quantile(sorted_vals, q)
        if e is None or not within_alpha(float(e), x, alpha):
            out.append(f"{label} q={q}: estimate {e} not within {alpha} of {x}")
    return out


def check_equal(label: str, got, want, rel: float = 0.0) -> list[str]:
    got = [None if g is None else float(g) for g in got]
    want = [float(w) for w in want]
    if len(got) != len(want):
        return [f"{label}: {len(got)} values, expected {len(want)}"]
    for g, w in zip(got, want):
        if g is None or abs(g - w) > rel * abs(w):
            return [f"{label}: got {got}, direct build gives {want}"]
    return []


def rank_error(sorted_vals: np.ndarray, est: float, q: float) -> float:
    """Distance from ``q`` to the normalized rank interval of ``est``."""
    n = len(sorted_vals)
    lo = np.searchsorted(sorted_vals, est, side="left") / n
    hi = np.searchsorted(sorted_vals, est, side="right") / n
    return 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))


def check_rank(label: str, est, sorted_vals: np.ndarray, qs, eps: float) -> list[str]:
    out = []
    for q, e in zip(qs, est):
        err = rank_error(sorted_vals, float(e), q)
        if not err <= eps:
            out.append(f"{label} q={q}: rank error {err:.4f} > {eps}")
    return out


def check_hll(est: float, exact: int, p: int) -> list[str]:
    sigma = 1.04 / math.sqrt(1 << p)
    if abs(est - exact) > 3 * sigma * exact:
        return [f"HLL estimate {est:.1f} not within 3 sigma of {exact}"]
    return []


def check_pairs_found(found: set, required: np.ndarray, label: str) -> list[str]:
    missing = [tuple(p) for p in required.tolist() if tuple(p) not in found]
    if missing:
        return [f"{label}: {len(missing)} of {len(required)} pairs missing, "
                f"e.g. {missing[:3]}"]
    return []


def check_sketch_cells(got: dict, want: dict, label: str) -> list[str]:
    """``got``/``want`` map a cell key to serialized sketch bytes."""
    out = []
    if set(got) != set(want):
        extra, missing = set(got) - set(want), set(want) - set(got)
        out.append(f"{label}: {len(extra)} unexpected and {len(missing)} "
                   f"missing cells, e.g. {sorted(extra)[:2]} {sorted(missing)[:2]}")
    bad = [k for k in set(got) & set(want) if got[k] != want[k]]
    if bad:
        out.append(f"{label}: {len(bad)} cells differ from the direct build, "
                   f"e.g. {sorted(bad)[:2]}")
    return out
