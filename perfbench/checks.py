"""Exact references and answer checks, computed with numpy only.

Every timed operation hands its collected answer to one of these
checks. A check returns the worst error it saw; the caller compares it
with the sketch's published bound and counts the operation as failed
when the bound is broken or an exact answer differs.

Rank error follows the midpoint-ECDF convention the t-digest kernel
interpolates with: an estimate equal to a data value ``v`` may stand for
any rank in ``[#(x < v), #(x <= v)] / n``; an estimate strictly between
two adjacent data values may stand for any rank between their mid-ranks.
The error of an answer is its distance to that interval, so an exact
midpoint-interpolating answer scores 0.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# Published bounds (QUALITY.md and the kernels' own accessors).
# t-digest: QUALITY.md measures quantile KS <= 1.8e-2 at max_size=100 on
# the adversarial mixture and <= 3.8e-3 at max_size=1000; the workloads'
# digests are either under capacity (exact) or max_size=1000.
TDIGEST_RANK_BOUND = 0.01
# KLL: KLL.rank_error = 3 / k
KLL_K = 200
KLL_RANK_BOUND = 3.0 / KLL_K
# HLL: 5 sigma of 1.04 / sqrt(2^p) (FIXTURES.md section 7), plus two
# for register collisions: at a handful of distinct values (linear
# counting) one shared register already misses a whole value, and over
# ~150 k small groups some groups always have one
HLL_P = 14
HLL_REL_BOUND = 5 * 1.04 / np.sqrt(2.0 ** HLL_P)
HLL_ABS_SLACK = 2.0


class CheckFailed(AssertionError):
    """An answer fell outside its bound or differs from the exact one."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


@dataclass
class GroupedValues:
    """Values of many groups, sorted within each group, for vectorised
    rank lookups. ``codes`` maps a group key to its segment index."""

    codes: dict
    offsets: np.ndarray
    composite: np.ndarray
    lo: float
    span: float

    @classmethod
    def build(cls, keys: pd.Series, values: np.ndarray) -> "GroupedValues":
        values = np.asarray(values, dtype=np.float64)
        gcode, uniq = pd.factorize(keys, sort=True)
        order = np.lexsort((values, gcode))
        counts = np.bincount(gcode, minlength=len(uniq))
        offsets = np.concatenate(([0], np.cumsum(counts)))
        lo = float(values.min()) - 1.0
        span = float(values.max()) - lo + 2.0
        composite = gcode[order] * span + (values[order] - lo)
        return cls({k: i for i, k in enumerate(uniq)}, offsets, composite,
                   lo, span)

    def group_index(self, keys) -> np.ndarray:
        return np.fromiter((self.codes[k] for k in keys), dtype=np.int64,
                           count=len(keys))

    def sizes(self, gidx: np.ndarray) -> np.ndarray:
        return self.offsets[gidx + 1] - self.offsets[gidx]

    def _count(self, gidx, x, side):
        x = np.clip(x, self.lo + 0.5, self.lo + self.span - 0.5)
        pos = np.searchsorted(self.composite, gidx * self.span + (x - self.lo),
                              side=side)
        return pos - self.offsets[gidx]

    def rank_interval(self, gidx: np.ndarray, x: np.ndarray):
        """Rank interval [lo, hi] (as fractions of the group size) an
        answer ``x`` stands for in group ``gidx``."""
        gidx = np.asarray(gidx, dtype=np.int64)
        x = np.asarray(x, dtype=np.float64)
        n = self.sizes(gidx).astype(np.float64)
        lt = self._count(gidx, x, "left")
        le = self._count(gidx, x, "right")
        lo = lt / n
        hi = le / n
        between = (le == lt) & (lt > 0) & (lt < n)
        if between.any():
            g, c = gidx[between], lt[between]
            base = self.offsets[g]
            prev_lt = np.searchsorted(
                self.composite, self.composite[base + c - 1], side="left"
            ) - base
            next_le = np.searchsorted(
                self.composite, self.composite[base + c], side="right"
            ) - base
            lo[between] = (prev_lt + c) / (2 * n[between])
            hi[between] = (c + next_le) / (2 * n[between])
        return lo, hi

    def rank_error(self, gidx, x, q) -> np.ndarray:
        """|rank(x) - q| per answer, 0 inside the interval; NaN answers
        score 1 (a missing answer is as wrong as it gets)."""
        lo, hi = self.rank_interval(gidx, x)
        q = np.broadcast_to(np.asarray(q, dtype=np.float64), lo.shape)
        err = np.maximum(0.0, np.maximum(lo - q, q - hi))
        return np.where(np.isnan(np.asarray(x, dtype=np.float64)), 1.0, err)


def quantile_errors(ref: GroupedValues, keys, answers, qs) -> np.ndarray:
    """Rank errors of per-group quantile vectors ``answers`` (one list
    per key, in ``qs`` order)."""
    gidx = ref.group_index(keys)
    est = np.array([np.asarray(a, dtype=np.float64) for a in answers])
    qs = np.asarray(qs, dtype=np.float64)
    require(est.shape == (len(gidx), len(qs)), "quantile answer shape")
    return ref.rank_error(np.repeat(gidx, len(qs)), est.ravel(),
                          np.tile(qs, len(gidx)))


def cdf_errors(ref: GroupedValues, keys, probes, answers) -> np.ndarray:
    """Distance of CDF answers from the exact rank interval of their
    probe."""
    gidx = ref.group_index(keys)
    lo, hi = ref.rank_interval(gidx, np.asarray(probes, dtype=np.float64))
    c = np.asarray(answers, dtype=np.float64)
    err = np.maximum(0.0, np.maximum(lo - c, c - hi))
    return np.where(np.isnan(c), 1.0, err)


def relative_errors(estimates, exact) -> np.ndarray:
    est = np.asarray(estimates, dtype=np.float64)
    ex = np.asarray(exact, dtype=np.float64)
    require(bool((ex > 0).all()), "exact counts must be positive")
    return np.where(np.isnan(est), 1.0, np.abs(est - ex) / ex)


def check_hll(estimates, exact) -> float:
    """Check HLL estimates against exact distinct counts; return the
    worst relative error."""
    est = np.asarray(estimates, dtype=np.float64)
    ex = np.asarray(exact, dtype=np.float64)
    allowed = HLL_REL_BOUND * ex + HLL_ABS_SLACK
    require(bool((np.abs(est - ex) <= allowed).all()),
            "hll estimate outside 5 sigma + collision slack")
    return float(relative_errors(est, ex).max())


def check_cms(estimates, exact, width: int, n_rows) -> float:
    """Count-min never under-counts and over-counts by at most
    e/width * N (N = rows in the sketch); return the worst relative
    error."""
    est = np.asarray(estimates, dtype=np.float64)
    ex = np.asarray(exact, dtype=np.float64)
    require(bool((est >= ex).all()), "cms under-count")
    require(bool((est - ex <= np.e / width * np.asarray(n_rows)).all()),
            "cms over-count beyond e/width * N")
    return float(relative_errors(est, ex).max())


def check_bound(errs: np.ndarray, bound: float, what: str) -> float:
    worst = float(np.max(errs)) if len(errs) else 0.0
    require(worst <= bound, f"{what}: worst error {worst:.4g} > {bound:.4g}")
    return worst
