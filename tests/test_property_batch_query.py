"""The batched read path equals the per-digest query code, bit for bit.

``wire.decode_batch`` followed by ``DigestBatch.quantile`` / ``cdf`` /
``median`` must answer every row exactly as decoding its blob alone and
running the per-digest query code does. That per-digest code is kept
below, verbatim, as the oracle (``self`` is a decoded ``TDigest``).
Inputs cover every scale family, singleton policy, storage precision
and wire version; empty, one-centroid and compressed (mixed-kind)
digests; NaN, ±inf and out-of-[0,1] probes; mixed digest sizes and
duplicate blobs in one batch. A corrupt-blob table pins that the batch
decoder raises ``wire.decode``'s error for every malformed blob.

``HYP_EXAMPLES_SCALE=N`` multiplies every example budget
(``tools/fuzz_kernel.py`` runs this module at a large scale)."""

import math
import os
import struct
import tracemalloc
from typing import Tuple

import numpy as np
import pytest
from hypothesis import example, given, settings, strategies as st

from gr_tdigest_spark.sketches import tdigest, wire
from gr_tdigest_spark.sketches.tdigest import KIND_ATOMIC, TDigest

_SCALE = max(int(os.environ.get("HYP_EXAMPLES_SCALE", "1")), 1)


def _n(base: int) -> int:
    return base * _SCALE


# --------------------------------------------------------------------- #
# oracle: the per-digest query code, verbatim
# --------------------------------------------------------------------- #


def oracle_quantile_batch(self, qs: np.ndarray) -> np.ndarray:
    m = self.means64
    n_c = m.size
    out = np.full(qs.size, np.nan)
    if n_c == 0:
        return out
    nan_mask = np.isnan(qs)
    if n_c == 1:
        out[~nan_mask] = m[0]
        return out
    w = self.weights64
    kinds = self.kinds
    total = self.count
    q = np.clip(qs, 0.0, 1.0)
    index = q * total

    lo_mask = (index < 1.0) & ~nan_mask
    hi_mask = (index > total - 1.0) & ~nan_mask
    mid_mask = ~(lo_mask | hi_mask | nan_mask)
    out[lo_mask] = self.min
    out[hi_mask] = self.max
    if not np.any(mid_mask):
        return out

    idx = index[mid_mask]
    prefix = np.concatenate(([0.0], np.cumsum(w)))[:-1]  # exclusive
    centers = prefix + 0.5 * w  # cumulative weight at each centroid center
    # left bracket: last i with centers[i+1] <= index, clamped to m-2
    li = np.searchsorted(centers[1:], idx, side="right")
    li = np.minimum(li, n_c - 2)
    ri = li + 1

    wl, wr = w[li], w[ri]
    ml, mr = m[li], m[ri]
    cl = centers[li]
    cr = centers[ri]
    atomic_l = kinds[li] == KIND_ATOMIC
    atomic_r = kinds[ri] == KIND_ATOMIC

    res = np.empty(idx.size)
    done = np.zeros(idx.size, dtype=bool)

    # atomic-pile snap (strictly inside half-width)
    pile_l = atomic_l & (wl > 1.0) & (cl - wl / 2.0 < idx) & (idx < cl + wl / 2.0)
    res[pile_l] = ml[pile_l]
    done |= pile_l
    pile_r = (
        ~done
        & atomic_r
        & (wr > 1.0)
        & (cr - wr / 2.0 < idx)
        & (idx < cr + wr / 2.0)
    )
    res[pile_r] = mr[pile_r]
    done |= pile_r

    # unit-singleton snap (±0.5 of center) — weight-based like reference
    snap_l = ~done & (wl == 1.0) & ((idx - cl) < 0.5)
    res[snap_l] = ml[snap_l]
    done |= snap_l
    snap_r = ~done & (wr == 1.0) & ((cr - idx) < 0.5)
    res[snap_r] = mr[snap_r]
    done |= snap_r

    # linear interpolation with unit-singleton dead zones.  The
    # reference *guarantees* quantile is monotone in q
    # (quantile.rs:8-33), so the lerp must be monotone in floats too:
    #  - denom is computed idx-independently ((cr-cl)-dead, NOT
    #    toward_r+toward_l, which wobbles by an ulp as idx moves),
    #    making t = toward_r/denom monotone in idx (IEEE ops with one
    #    constant operand are monotone);
    #  - the result is clamped into the [ml, mr] bracket, whose
    #    endpoints are themselves monotone across brackets, so a
    #    1-ulp overshoot can never produce a dip at a bracket edge.
    dead_l = np.where(wl == 1.0, 0.5, 0.0)
    dead_r = np.where(wr == 1.0, 0.5, 0.0)
    toward_r = idx - cl - dead_l
    denom = (cr - cl) - dead_l - dead_r
    pos = denom > 0.0
    t = np.clip(
        np.where(pos, toward_r / np.where(pos, denom, 1.0), 0.5),
        0.0,
        1.0,
    )
    interp = np.clip(
        np.where(pos, ml + (mr - ml) * t, 0.5 * (ml + mr)), ml, mr
    )
    res[~done] = interp[~done]
    out[mid_mask] = res
    return out


def oracle_cdf(self, vals) -> np.ndarray:
    """CDF at each probe (cdf.rs:61-203). Empty digest → all-NaN;
    NaN probe → NaN; below min → 0; above max → 1."""
    xs = np.atleast_1d(np.asarray(vals, dtype=np.float64))
    if self.is_effectively_empty:
        return np.full(xs.size, np.nan)
    m = self.means64
    w = self.weights64
    kinds = self.kinds
    n_c = m.size
    prefix = np.concatenate(([0.0], np.cumsum(w)))[:-1]
    total = float(prefix[-1] + w[-1])
    min_v, max_v = self.min, self.max

    out = np.full(xs.size, np.nan)
    ok = ~np.isnan(xs)
    x = xs[ok]
    res = np.empty(x.size)

    idx = np.searchsorted(m, x, side="left")
    exact = np.zeros(x.size, dtype=bool)
    inb = idx < n_c
    exact[inb] = m[idx[inb]] == x[inb]

    # exact centroid hit: midpoint mass
    ei = idx[exact]
    res[exact] = (prefix[ei] + 0.5 * w[ei]) / total

    rest = ~exact
    # left tail: idx == 0
    left = rest & (idx == 0)
    if np.any(left):
        xv = x[left]
        m0, w0 = m[0], w[0]
        gap = m0 - min_v
        r = np.empty(xv.size)
        below = xv < min_v
        r[below] = 0.0
        if gap > 0.0:
            at_min = ~below & (xv == min_v)
            r[at_min] = 0.5 / total
            ramp = ~below & ~at_min
            r[ramp] = (1.0 + (xv[ramp] - min_v) / gap * (w0 / 2.0 - 1.0)) / total
        else:
            r[~below] = 0.0
        res[left] = r

    # right tail: idx == n_c
    right = rest & (idx == n_c)
    if np.any(right):
        xv = x[right]
        mn_, wn_ = m[-1], w[-1]
        gap = max_v - mn_
        r = np.empty(xv.size)
        above = xv > max_v
        r[above] = 1.0
        if gap > 0.0:
            at_max = ~above & (xv == max_v)
            r[at_max] = 1.0 - 0.5 / total
            ramp = ~above & ~at_max
            dq = (1.0 + (max_v - xv[ramp]) / gap * (wn_ / 2.0 - 1.0)) / total
            r[ramp] = 1.0 - dq
        else:
            r[~above] = 1.0
        res[right] = r

    # between centroids
    mid = rest & (idx > 0) & (idx < n_c)
    if np.any(mid):
        xv = x[mid]
        li = idx[mid] - 1
        ri = idx[mid]
        ml, mr = m[li], m[ri]
        wl, wr = w[li], w[ri]
        gap = mr - ml
        dw_center = 0.5 * (wl + wr)
        degenerate = gap <= 0.0
        left_excl = np.where(kinds[li] == KIND_ATOMIC, wl * 0.5, 0.0)
        right_excl = np.where(kinds[ri] == KIND_ATOMIC, wr * 0.5, 0.0)
        dw_span = dw_center - left_excl - right_excl
        base = prefix[li] + wl * 0.5 + left_excl
        frac = np.where(degenerate, 0.0, (xv - ml) / np.where(gap <= 0, 1.0, gap))
        val = (base + dw_span * frac) / total
        val = np.where(degenerate, (prefix[li] + dw_center) / total, val)
        res[mid] = val

    out[ok] = res
    return out


def oracle_median(self) -> float:
    """Median with the even-count branch (quantile.rs:219-233)."""
    total = self.count
    if total <= 0.0:
        return math.nan
    if int(total) % 2 != 0:
        return float(oracle_quantile_batch(self, np.asarray([0.5]))[0])
    li, ri = oracle_bracket_for_median(self)
    return 0.5 * (float(self.means64[li]) + float(self.means64[ri]))


def oracle_bracket_for_median(self) -> Tuple[int, int]:
    m = self.means64
    n_c = m.size
    if n_c == 1:
        return 0, 0
    total = self.count
    if n_c == 2 or total <= 2.0:
        return 0, 1
    index = 0.5 * total
    if index < 1.0:
        return 0, 1
    if index > total - 1.0:
        return n_c - 2, n_c - 1
    w = self.weights64
    prefix = np.concatenate(([0.0], np.cumsum(w)))[:-1]
    centers = prefix + 0.5 * w
    li = int(np.searchsorted(centers[1:], index, side="right"))
    li = min(li, n_c - 2)
    return li, li + 1


def oracle_quantile(td: TDigest, q: float) -> float:
    return float(oracle_quantile_batch(td, np.asarray([q]))[0])


def oracle_median_or_nan(td: TDigest) -> float:
    # the per-digest median indexes centroid 0 of a centroid-less digest
    # whose count is positive and even; no encoder writes such a blob
    return oracle_median(td) if len(td) else math.nan


# --------------------------------------------------------------------- #
# inputs
# --------------------------------------------------------------------- #

values = st.one_of(
    st.integers(-40, 40).map(float),  # repeats make atomic piles
    st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False),
)
any_float = st.floats(allow_nan=True, allow_infinity=True)
q_probes = st.one_of(
    any_float, st.floats(-0.5, 1.5), st.sampled_from([0.0, 0.5, 1.0]),
)


@st.composite
def digest_blobs(draw) -> bytes:
    shape = draw(st.sampled_from(["empty", "one", "small", "compressed"]))
    if shape == "empty":
        vals = []
    elif shape == "one":
        vals = [draw(values)] * draw(st.integers(1, 4))
    elif shape == "small":
        vals = draw(st.lists(values, min_size=2, max_size=30))
    else:
        vals = draw(st.lists(values, min_size=40, max_size=250))
    policy = draw(st.sampled_from(["off", "use", "edges"]))
    cfg = dict(
        max_size=draw(st.sampled_from(
            [2, 3, 5, 10] if shape == "compressed" else [1, 2, 5, 100]
        )),
        scale=draw(st.sampled_from(["quad", "k1", "k2", "k3", "k2norm"])),
        policy=policy,
        pin_per_side=draw(st.integers(1, 3)) if policy == "edges" else 0,
        precision=draw(st.sampled_from(["f32", "f64"])),
    )
    if draw(st.booleans()):
        ws = draw(st.lists(st.floats(0.25, 40.0), min_size=len(vals),
                           max_size=len(vals)))
        td = TDigest.from_weighted(vals, ws, **cfg)
    else:
        td = TDigest.from_values(vals, **cfg)
    return wire.encode(td, draw(st.sampled_from([1, 2, 3])))


@st.composite
def batch_rows(draw) -> list:
    """Rows of one Arrow batch: a few digests, repeated in any order."""
    blobs = draw(st.lists(digest_blobs(), min_size=1, max_size=6))
    pick = draw(st.lists(st.integers(0, len(blobs) - 1), min_size=1,
                         max_size=16))
    return [blobs[i] for i in pick]


def _same_bits(got, want) -> None:
    got = np.asarray(got, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    np.testing.assert_array_equal(got.view(np.int64), want.view(np.int64))


# --------------------------------------------------------------------- #
# batch kernels ≡ oracle
# --------------------------------------------------------------------- #

@settings(max_examples=_n(60), deadline=None)
@given(rows=batch_rows(), data=st.data())
def test_batch_quantile_matches_oracle(rows, data):
    batch = wire.decode_batch(rows)
    tds = [wire.decode(r) for r in rows]
    qs = []
    for td in tds:
        # probe anywhere, or where q·count lands on a centroid center
        w = td.weights64
        centers = np.concatenate(([0.0], np.cumsum(w)))[:-1] + 0.5 * w
        hits = [float(c / td.count) for c in centers if td.count > 0]
        qs.append(data.draw(
            st.one_of(q_probes, st.sampled_from(hits)) if hits else q_probes
        ))
    qs = np.asarray(qs)
    _same_bits(batch.quantile(batch.rows, qs),
               [oracle_quantile(td, q) for td, q in zip(tds, qs)])
    # a constant probe broadcasts over the rows
    _same_bits(batch.quantile(batch.rows, qs[0]),
               [oracle_quantile(td, qs[0]) for td in tds])
    # the one-digest call of the same kernel
    for td in tds:
        _same_bits(td.quantile(qs), oracle_quantile_batch(td, qs))


@settings(max_examples=_n(60), deadline=None)
@given(rows=batch_rows(), data=st.data())
def test_batch_cdf_matches_oracle(rows, data):
    batch = wire.decode_batch(rows)
    tds = [wire.decode(r) for r in rows]
    xs = []
    for td in tds:
        # probe at a centroid mean, an edge, or anywhere
        hits = [float(m) for m in td.means64] + [td.min, td.max]
        xs.append(data.draw(st.one_of(any_float, st.sampled_from(hits))))
    xs = np.asarray(xs)
    _same_bits(batch.cdf(batch.rows, xs),
               [oracle_cdf(td, [x])[0] for td, x in zip(tds, xs)])
    _same_bits(batch.cdf(batch.rows, xs[0]),
               [oracle_cdf(td, [xs[0]])[0] for td in tds])
    for td in tds:
        _same_bits(td.cdf(xs), oracle_cdf(td, xs))


# piles of weight 1, 2, 1: the even count's half (2.0) lands exactly on
# the middle centroid's center, where the bracket search's side matters
_PILES = [wire.encode(TDigest.from_values([v, v + 1, v + 1, v + 2]))
          for v in (1.0, 5.0)]


@settings(max_examples=_n(60), deadline=None)
@given(rows=batch_rows())
@example(rows=_PILES + [wire.encode(TDigest.from_values([7.0]))])
def test_batch_median_matches_oracle(rows):
    batch = wire.decode_batch(rows)
    tds = [wire.decode(r) for r in rows]
    want = [oracle_median_or_nan(td) for td in tds]
    _same_bits(batch.median(batch.rows), want)
    _same_bits([td.median() for td in tds], want)


@settings(max_examples=_n(40), deadline=None)
@given(rows=batch_rows(), header_only=st.booleans())
def test_batch_header_columns_match_decode(rows, header_only):
    batch = wire.decode_batch(rows, header_only=header_only)
    assert batch.rows.size == len(rows)
    # identical blobs share one digest
    assert batch.n.size == len(set(rows))
    for r, d in zip(rows, batch.rows):
        td = wire.decode(r)
        _same_bits([batch.count[d], batch.sum[d], batch.min[d],
                    batch.max[d]], [td.count, td.sum, td.min, td.max])
        assert batch.n[d] == len(td)
        assert batch.precision[d] == td.precision == wire.wire_precision(r)
        assert batch.empty[d] == td.is_effectively_empty
        if not header_only:
            lo, hi = batch.offsets[d], batch.offsets[d + 1]
            _same_bits(batch.means[lo:hi], td.means64)
            _same_bits(batch.weights[lo:hi], td.weights64)
            np.testing.assert_array_equal(batch.kinds[lo:hi], td.kinds)


def test_f32_blob_fields_round_like_decode():
    """An f32 v3 blob whose f64 weight and min/max fields hold values f32
    cannot: the batch rounds them exactly as a decoded digest stores
    them, and a header-only read keeps the raw header min/max."""
    td = TDigest.from_weighted([1.0, 2.0, 3.0], [1.0, 2.0, 3.0],
                               max_size=10, precision="f32")
    b = bytearray(wire.encode(td))
    w1 = wire.HEADER_LEN_V3 + 13 + 4  # centroid 1's weight (stride 13)
    b[w1:w1 + 8] = struct.pack("<d", 2.1)
    b[28:36] = struct.pack("<d", 0.9999999)  # min
    b[36:44] = struct.pack("<d", 3.0000001)  # max
    blob = _resealed(b)
    want = wire.decode(blob)
    batch = wire.decode_batch([_GOOD, blob])
    _same_bits(batch.weights[batch.offsets[1]:], want.weights64)
    _same_bits([batch.min[1], batch.max[1]], [want.min, want.max])
    qs = np.linspace(0.0, 1.0, 11)
    _same_bits(batch.quantile(1, qs), oracle_quantile_batch(want, qs))
    xs = np.linspace(0.5, 3.5, 13)
    _same_bits(batch.cdf(np.ones(xs.size, dtype=int), xs),
               oracle_cdf(want, xs))
    # the header-only read returns the raw f64 header fields
    head = wire.decode_batch([_GOOD, blob], header_only=True)
    _same_bits([head.min[1], head.max[1]], [0.9999999, 3.0000001])


def test_prefix_chunks_join_exactly(monkeypatch):
    """The padded prefix sums are built per chunk of digests; answers
    must not depend on where the chunks split."""
    rng = np.random.default_rng(5)
    rows = [wire.encode(TDigest.from_values(
        np.round(rng.normal(0, 5, int(k)), 1), max_size=20))
        for k in rng.integers(0, 60, 11)]
    tds = [wire.decode(r) for r in rows]
    qs = rng.uniform(0, 1, len(rows))
    xs = rng.normal(0, 5, len(rows))
    monkeypatch.setattr(tdigest, "_PREFIX_CELLS", 40)
    batch = wire.decode_batch(rows)
    _same_bits(batch.quantile(batch.rows, qs),
               [oracle_quantile(td, q) for td, q in zip(tds, qs)])
    _same_bits(batch.cdf(batch.rows, xs),
               [oracle_cdf(td, [x])[0] for td, x in zip(tds, xs)])


def test_prefix_matrix_bounded_by_cells():
    """One max_size=20000 digest among many one-centroid digests: the
    padded prefix matrix stays within its cell budget instead of giving
    every small digest a row as wide as the large one (1001 × 20000
    f64 cells would be 160 MB)."""
    rng = np.random.default_rng(11)
    big = TDigest.from_values(rng.normal(size=20_000), max_size=20_000)
    assert len(big) == 20_000
    small = [TDigest.from_values([float(v)]) for v in rng.normal(size=1000)]
    tds = small[:500] + [big] + small[500:]
    batch = wire.decode_batch([wire.encode(td) for td in tds])
    tracemalloc.start()
    try:
        batch._prefix
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak <= 3 * 8 * tdigest._PREFIX_CELLS
    qs = rng.uniform(0, 1, len(tds))
    xs = rng.normal(size=len(tds))
    _same_bits(batch.quantile(batch.rows, qs),
               [oracle_quantile(td, q) for td, q in zip(tds, qs)])
    _same_bits(batch.cdf(batch.rows, xs),
               [oracle_cdf(td, [x])[0] for td, x in zip(tds, xs)])
    _same_bits(batch.median(batch.rows),
               [oracle_median_or_nan(td) for td in tds])


def test_empty_batch():
    batch = wire.decode_batch([])
    assert batch.rows.size == batch.n.size == 0
    assert batch.quantile(batch.rows, 0.5).size == 0
    assert batch.cdf(batch.rows, 0.0).size == 0
    assert batch.median(batch.rows).size == 0


# --------------------------------------------------------------------- #
# corrupt blobs: the batch raises wire.decode's error
# --------------------------------------------------------------------- #

# a three-centroid f64 v3 digest: atomic pile, mixed centroid, singleton
_GOOD = wire.encode(TDigest.from_weighted(
    [1.0, 2.0, 2.5, 9.0], [3.0, 1.0, 1.0, 1.0], max_size=3, policy="off",
))
_PAY = wire.HEADER_LEN_V3  # centroid i at _PAY + 17·i: mean, weight, kind


def _resealed(blob) -> bytes:
    """Recompute the CRC so the corruption reaches the later checks."""
    b = bytearray(blob)
    b[wire.V3_CHECKSUM_OFFSET:wire.V3_CHECKSUM_OFFSET + 4] = bytes(4)
    crc = wire._checksum_v3(bytes(b), b[6])
    b[wire.V3_CHECKSUM_OFFSET:wire.V3_CHECKSUM_OFFSET + 4] = struct.pack(
        "<I", crc)
    return bytes(b)


def _patched(offset: int, raw: bytes, reseal: bool = True) -> bytes:
    b = bytearray(_GOOD)
    b[offset:offset + len(raw)] = raw
    return _resealed(b) if reseal else bytes(b)


# (case, blob, decode's message, a framing error that the header-only
# read raises too)
CORRUPT = [
    ("bad magic", b"XDIG" + _GOOD[4:], "invalid TDIG magic header", True),
    ("empty blob", b"", "empty TDIG blob", True),
    ("short v3", _GOOD[:40], "buffer too small", True),
    ("unknown version", _patched(4, b"\x09"),
     "unsupported TDIG version: 9", True),
    ("header_len < 64", _patched(6, b"\x10"),
     "v3 header_len must be >= 64", True),
    ("precision code", _patched(7, b"\x07"),
     "invalid TDIG precision code: 7", True),
    ("bad crc", _patched(_PAY, b"\xff", reseal=False),
     "invalid TDIG checksum", False),
    ("truncated payload", _resealed(_GOOD[:-5]),
     "payload length mismatch", False),
    ("kind code 2", _patched(_PAY + 16, b"\x02"),
     "invalid centroid kind code", False),
    ("non-finite mean", _patched(_PAY + 17, struct.pack("<d", math.inf)),
     "non-finite centroid mean in payload", False),
    ("negative weight", _patched(_PAY + 8, struct.pack("<d", -1.0)),
     "invalid centroid weight in payload", False),
    ("scale code", _patched(8, b"\x09"), "invalid TDIG scale code: 9",
     False),
    ("policy code", _patched(9, b"\x07"), "invalid TDIG policy code: 7",
     False),
    ("edges with pin 0", _patched(9, b"\x02\x00"),
     "edges policy requires pin_per_side >= 1", False),
    ("v2 truncated payload", wire.encode(wire.decode(_GOOD), 2)[:-3],
     "payload length does not match f32 or f64 layout", True),
]


def _decode_error(blob) -> str:
    with pytest.raises(wire.WireError) as err:
        wire.decode(blob)
    return str(err.value)


@pytest.mark.parametrize("case,blob,message,framing", CORRUPT,
                         ids=[c[0] for c in CORRUPT])
def test_corrupt_blob_raises_decode_error(case, blob, message, framing):
    assert _decode_error(blob) == message
    with pytest.raises(wire.WireError) as got:
        wire.decode_batch([_GOOD, blob, _GOOD])
    assert str(got.value) == message
    if framing:
        with pytest.raises(wire.WireError) as got:
            wire.decode_batch([_GOOD, blob], header_only=True)
        assert str(got.value) == message
    else:
        # header-only reads check no payload, config code or checksum
        batch = wire.decode_batch([blob], header_only=True)
        assert batch.count[0] == wire.decode(_GOOD).count


def test_good_blob_has_atomic_and_mixed_centroids():
    td = wire.decode(_GOOD)
    assert len(td) == 3 and set(td.kinds) == {KIND_ATOMIC, 1}


def test_first_bad_row_raises():
    blob = {case: b for case, b, _, _ in CORRUPT}
    crc, magic = blob["bad crc"], blob["bad magic"]
    for rows in ([_GOOD, crc, magic], [_GOOD, magic, crc]):
        with pytest.raises(wire.WireError) as got:
            wire.decode_batch(rows)
        assert str(got.value) == _decode_error(rows[1])


@pytest.mark.parametrize("header_only", [False, True])
def test_null_blob_raises(header_only):
    with pytest.raises(wire.WireError, match="null TDIG blob"):
        wire.decode_batch([_GOOD, None], header_only=header_only)
