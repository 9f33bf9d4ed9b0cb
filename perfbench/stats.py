"""Summary statistics with the benchmark's sample-count rule."""

from __future__ import annotations

import numpy as np

# a tail percentile is reported only when this many samples lie beyond it
TAIL_MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def tail_allowed(values, q: float) -> bool:
    """True when at least ``TAIL_MIN_BEYOND`` samples are strictly above
    the ``q``-th percentile of ``values``."""
    if len(values) == 0:
        return False
    p = percentile(values, q)
    return int(np.sum(np.asarray(values, dtype=np.float64) > p)) >= TAIL_MIN_BEYOND


def summarize(values, tails=(90,)) -> dict:
    """``{"n", "p50"[, "p<q>"...]}`` for a list of samples; each tail
    percentile appears only when the rule above allows it."""
    out = {"n": len(values)}
    if not values:
        return out
    out["p50"] = percentile(values, 50)
    for q in tails:
        if tail_allowed(values, q):
            out[f"p{q}"] = percentile(values, q)
    return out


def median(values) -> float:
    return float(np.median(np.asarray(values, dtype=np.float64)))
