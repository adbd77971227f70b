"""Correctness gates. Each returns the list of its failures (empty = pass).

An op whose gates report any failure counts as failed, exactly like an
op that raises.
"""

from __future__ import annotations

import math

import numpy as np

# XOR filter false-positive probability for random non-members: the
# fingerprint must equal one value out of 2^width
XOR_WIDTH = 16
# a correct filter reports more false positives than the gate allows
# with probability below this (Poisson tail of the binomial count)
FPR_TAIL = 1e-6
# HLL estimates may miss by this many published standard errors
HLL_SLACK_SE = 3.0
# KLL normalized rank error bound for k=200 (the published single-quantile
# bound at 99% confidence; the same k is used in the benchmark)
KLL_EPS = 0.0165


def fp_limit(n: int) -> int:
    """Most false positives ``n`` never-inserted probes may report: the
    smallest ``k`` with P(Poisson(n * 2^-XOR_WIDTH) > k) < ``FPR_TAIL``."""
    lam = n * 2.0 ** -XOR_WIDTH
    k, term = 0, math.exp(-lam)
    cdf = term
    while 1.0 - cdf >= FPR_TAIL:
        k += 1
        term *= lam / k
        cdf += term
    return k


def no_false_negatives(what: str, fn: int) -> list[str]:
    return [] if fn == 0 else [f"{what}: {fn} false negatives"]


def fpr_within_bound(fp: int, n: int) -> list[str]:
    limit = fp_limit(n)
    if fp <= limit:
        return []
    return [f"{fp} false positives over {n} never-inserted probes "
            f"> {limit} allowed for XOR{XOR_WIDTH}"]


def equals(what: str, got: int, want: int) -> list[str]:
    return [] if got == want else [f"{what}: got {got}, want {want}"]


def hll_error(est: float, exact: int) -> float:
    return abs(est - exact) / exact


def hll_within(what: str, est: float, exact: int, p: int) -> list[str]:
    bound = HLL_SLACK_SE * 1.04 / math.sqrt(1 << p)
    err = hll_error(est, exact)
    if err <= bound:
        return []
    return [f"{what}: HLL estimate {est:.0f} vs exact {exact} "
            f"(error {err:.4f} > {bound:.4f})"]


def cms_within(est: dict, exact: dict, eps: float, total: int) -> list[str]:
    """Count-Min never underestimates and overestimates by at most eps*N."""
    out = []
    for item, want in exact.items():
        got = int(est[item])
        if got < want or got - want > eps * total:
            out.append(f"CMS {item!r}: estimate {got} vs exact {want} "
                       f"(allowed overestimate {eps * total:.0f})")
    return out


def kll_rank_error(q: float, rank_lo: float, rank_hi: float) -> float:
    """Distance from ``q`` to the true normalized rank interval of the
    value the sketch returned for quantile ``q``."""
    return max(0.0, rank_lo - q, q - rank_hi)


def kll_within(errors: dict) -> list[str]:
    return [f"KLL q={q}: rank error {e:.4f} > {KLL_EPS}"
            for q, e in errors.items() if e > KLL_EPS]


def all_members(what: str, member: np.ndarray) -> list[str]:
    missing = int((~member).sum())
    return [] if missing == 0 else [f"{what}: {missing} keys not members"]
