"""TDIG binary wire codec (v1/v2/v3), byte-compatible with the reference.

Layouts (reference src/tdigest/wire.rs:1-48):

v1/v2 header (56 bytes, little-endian)::

    0..4   magic b"TDIG"
    4      version (1|2)
    5      scale_code
    6      policy_code
    7      pin_per_side
    8..16  max_size (u64)
    16..24 total_weight (v1=u64, v2=f64)
    24..32 min (f64)
    32..40 max (f64)
    40..48 centroid_count (u64)
    48..56 data_sum (f64)

v3 header (64 bytes, little-endian)::

    0..4   magic b"TDIG"
    4      version (3)
    5      flags (bit0: checksum present)
    6      header_len (u8 >= 64)
    7      payload precision (1=f32, 2=f64)
    8      scale_code; 9 policy_code; 10 pin_per_side; 11 reserved
    12..20 max_size (u64)
    20..28 total_weight (f64)
    28..36 min (f64); 36..44 max (f64)
    44..52 centroid_count (u64)
    52..60 data_sum (f64)
    60..64 CRC32 (over header with zeroed slot + payload)

Payload per centroid: v1 ``mean(F) + weight(u64)``; v2/v3
``mean(F) + weight(f64) + kind(u8)`` with kind 0=atomic, 1=mixed
(wire.rs:396-412). v1 decode reconstructs kind heuristically:
``w==1 → atomic unit else mixed`` (wire.rs:855-868).

The digest is always encoded at its own precision; v1/v2 decode infers
precision from payload length (wire.rs:628-700), v3 reads the header code.
"""

from __future__ import annotations

import struct
import zlib
from typing import Tuple

import numpy as np

from gr_tdigest_spark.sketches.tdigest import (
    DigestBatch, TDigest, KIND_ATOMIC, KIND_MIXED,
)

__all__ = ["encode", "decode", "decode_batch", "wire_precision", "WireError"]

MAGIC = b"TDIG"
HEADER_LEN_V12 = 56
HEADER_LEN_V3 = 64
V3_CHECKSUM_OFFSET = 60
V3_FLAG_CHECKSUM = 0x01

_SCALE_TO_CODE = {"quad": 0, "k1": 1, "k2": 2, "k3": 3, "k2norm": 4}
_CODE_TO_SCALE = {v: k for k, v in _SCALE_TO_CODE.items()}
_POLICY_TO_CODE = {"off": 0, "use": 1, "edges": 2}
_CODE_TO_POLICY = {v: k for k, v in _POLICY_TO_CODE.items()}
_PRECISION_CODE = {"f32": 1, "f64": 2}
_CODE_PRECISION = {1: "f32", 2: "f64"}


class WireError(ValueError):
    """Raised on malformed TDIG blobs."""


def _mean_dtype(precision: str):
    return "<f4" if precision == "f32" else "<f8"


def _stride(version: int, precision: str) -> int:
    mean = 4 if precision == "f32" else 8
    if version == 1:
        return mean + 8
    return mean + 8 + 1


def _policy_bytes(td: TDigest) -> Tuple[int, int]:
    code = _POLICY_TO_CODE[td.policy]
    pin = min(td.pin_per_side, 255) if td.policy == "edges" else 0
    return code, pin


def encode(td: TDigest, version: int = 3) -> bytes:
    """Encode a digest; default wire version v3 (wire.rs:440-441)."""
    if version not in (1, 2, 3):
        raise WireError(f"unsupported TDIG version: {version}")
    n = len(td)
    scale_code = _SCALE_TO_CODE[td.scale]
    policy_code, pin = _policy_bytes(td)
    means = td.means64
    weights = td.weights64
    kinds = np.asarray(td.kinds, dtype=np.uint8)

    if version in (1, 2):
        head = bytearray()
        head += MAGIC
        head += bytes([version, scale_code, policy_code, pin])
        head += struct.pack("<Q", td.max_size)
        if version == 1:
            w_u64 = _v1_weight_u64(weights)
            # saturating total, matching the reference's saturating_add
            # (np.sum would wrap on u64 overflow)
            total = min(int(w_u64.astype(object).sum()), U64_MAX)
            head += struct.pack("<Q", total)
        else:
            head += struct.pack("<d", td.count)
        head += struct.pack("<d", td.min)
        head += struct.pack("<d", td.max)
        head += struct.pack("<Q", n)
        head += struct.pack("<d", td.sum)
        assert len(head) == HEADER_LEN_V12
        payload = _encode_payload(version, td.precision, means, weights, kinds)
        return bytes(head) + payload

    # v3
    head = bytearray()
    head += MAGIC
    head += bytes([
        3, V3_FLAG_CHECKSUM, HEADER_LEN_V3, _PRECISION_CODE[td.precision],
        scale_code, policy_code, pin, 0,
    ])
    head += struct.pack("<Q", td.max_size)
    head += struct.pack("<d", td.count)
    head += struct.pack("<d", td.min)
    head += struct.pack("<d", td.max)
    head += struct.pack("<Q", n)
    head += struct.pack("<d", td.sum)
    head += struct.pack("<I", 0)  # checksum placeholder
    assert len(head) == HEADER_LEN_V3
    payload = _encode_payload(3, td.precision, means, weights, kinds)
    blob = bytearray(bytes(head) + payload)
    crc = _checksum_v3(blob, HEADER_LEN_V3)
    blob[V3_CHECKSUM_OFFSET:V3_CHECKSUM_OFFSET + 4] = struct.pack("<I", crc)
    return bytes(blob)


U64_MAX = 2 ** 64 - 1
_U64_MAX_AS_F64 = float(2 ** 64)  # u64::MAX rounds UP to 2^64 as f64


def _v1_weight_u64(weights: np.ndarray) -> np.ndarray:
    """Integerize v1 weights exactly like the reference (wire.rs:484-496):
    Rust ``f64::round`` (half away from zero — NOT ``floor(w+0.5)``,
    which pulls 0.49999999999999994 up to 1 and odd integers ≥ 2^52 up
    to w+1 because ``w+0.5`` itself rounds), then saturate at u64::MAX
    instead of letting the numpy cast wrap."""
    frac_half = weights - np.floor(weights) == 0.5
    r = np.where(frac_half, np.ceil(weights), np.round(weights))
    r = np.where(r <= 0.0, 0.0, r)
    over = r >= _U64_MAX_AS_F64
    out = np.empty(r.shape, dtype=np.uint64)
    out[over] = np.uint64(U64_MAX)
    out[~over] = r[~over].astype(np.uint64)
    return out


def _encode_payload(
    version: int, precision: str, means: np.ndarray, weights: np.ndarray,
    kinds: np.ndarray,
) -> bytes:
    n = means.size
    if n == 0:
        return b""
    stride = _stride(version, precision)
    buf = np.zeros(n * stride, dtype=np.uint8)
    mdt = np.dtype(_mean_dtype(precision))
    msz = mdt.itemsize
    view = buf.reshape(n, stride)
    view[:, :msz] = means.astype(mdt).view(np.uint8).reshape(n, msz)
    if version == 1:
        w_u64 = _v1_weight_u64(weights).astype("<u8")
        view[:, msz:msz + 8] = w_u64.view(np.uint8).reshape(n, 8)
    else:
        view[:, msz:msz + 8] = weights.astype("<f8").view(np.uint8).reshape(n, 8)
        view[:, msz + 8] = kinds
    return buf.tobytes()


def _checksum_v3(blob: bytes, header_len: int) -> int:
    """CRC32 over header (checksum slot zeroed) + payload (wire.rs:415-428)."""
    h = zlib.crc32(bytes(blob[:V3_CHECKSUM_OFFSET]))
    h = zlib.crc32(b"\x00\x00\x00\x00", h)
    if header_len > V3_CHECKSUM_OFFSET + 4:
        h = zlib.crc32(bytes(blob[V3_CHECKSUM_OFFSET + 4:header_len]), h)
    h = zlib.crc32(bytes(blob[header_len:]), h)
    return h & 0xFFFFFFFF


def wire_precision(blob: bytes) -> str:
    """Sniff 'f32'/'f64' from the header without a full decode
    (wire.rs:224-272)."""
    if len(blob) < 5:
        raise WireError("buffer too small")
    if blob[:4] != MAGIC:
        raise WireError("invalid TDIG magic header")
    version = blob[4]
    if version == 3:
        if len(blob) < HEADER_LEN_V3:
            raise WireError("buffer too small")
        code = blob[7]
        if code not in _CODE_PRECISION:
            raise WireError(f"invalid TDIG precision code: {code}")
        return _CODE_PRECISION[code]
    if version in (1, 2):
        if len(blob) < HEADER_LEN_V12:
            raise WireError("buffer too small")
        (count,) = struct.unpack_from("<Q", blob, 40)
        if count == 0:
            return "f64"
        payload_len = len(blob) - HEADER_LEN_V12
        if payload_len == count * _stride(version, "f32"):
            return "f32"
        if payload_len == count * _stride(version, "f64"):
            return "f64"
        raise WireError("payload length does not match f32 or f64 layout")
    raise WireError(f"unsupported TDIG version: {version}")


def decode(blob: bytes) -> TDigest:
    """Decode any TDIG version into a digest at its wire precision
    (wire.rs:628-953)."""
    if not isinstance(blob, (bytes, bytearray, memoryview)):
        raise WireError("from_bytes expects a bytes-like object")
    blob = bytes(blob)
    if len(blob) == 0:
        raise WireError("empty TDIG blob")
    if len(blob) < 5:
        raise WireError("buffer too small")
    if blob[:4] != MAGIC:
        raise WireError("invalid TDIG magic header")
    version = blob[4]
    if version in (1, 2):
        return _decode_v12(blob, version)
    if version == 3:
        return _decode_v3(blob)
    raise WireError(f"unsupported TDIG version: {version}")


def _decode_centroids(
    payload: bytes, version: int, precision: str, n: int
) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    stride = _stride(version, precision)
    if len(payload) != n * stride:
        raise WireError("payload length mismatch")
    if n == 0:
        return (
            np.empty(0), np.empty(0), np.empty(0, dtype=np.uint8),
        )
    raw = np.frombuffer(payload, dtype=np.uint8).reshape(n, stride)
    mdt = np.dtype(_mean_dtype(precision))
    msz = mdt.itemsize
    means = raw[:, :msz].copy().view(mdt).ravel().astype(np.float64)
    if version == 1:
        w = raw[:, msz:msz + 8].copy().view("<u8").ravel().astype(np.float64)
        # v1 kind heuristic (wire.rs:855-868): w==1 → atomic, else mixed
        kinds = np.where(w == 1.0, KIND_ATOMIC, KIND_MIXED).astype(np.uint8)
    else:
        w = raw[:, msz:msz + 8].copy().view("<f8").ravel()
        kcodes = raw[:, msz + 8]
        if np.any(kcodes > 1):
            raise WireError("invalid centroid kind code")
        kinds = kcodes.astype(np.uint8)
    if not np.all(np.isfinite(means)):
        raise WireError("non-finite centroid mean in payload")
    if not np.all(np.isfinite(w)) or np.any(w < 0):
        raise WireError("invalid centroid weight in payload")
    return means, w, kinds


def _build(
    precision: str, scale_code: int, policy_code: int, pin: int,
    max_size: int, total_weight: float, mn: float, mx: float, data_sum: float,
    means: np.ndarray, weights: np.ndarray, kinds: np.ndarray,
) -> TDigest:
    if scale_code not in _CODE_TO_SCALE:
        raise WireError(f"invalid TDIG scale code: {scale_code}")
    if policy_code not in _CODE_TO_POLICY:
        raise WireError(f"invalid TDIG policy code: {policy_code}")
    policy = _CODE_TO_POLICY[policy_code]
    if policy == "edges" and pin == 0:
        raise WireError("edges policy requires pin_per_side >= 1")
    td = TDigest.__new__(TDigest)
    td.means = means
    td.weights = weights
    td.kinds = kinds
    td.max_size = max_size
    td.sum = data_sum
    td.count = total_weight
    td.min = mn
    td.max = mx
    td.scale = _CODE_TO_SCALE[scale_code]
    td.policy = policy
    td.pin_per_side = pin if policy == "edges" else 0
    td.delta = None
    td.precision = precision
    td._store()
    return td


def _decode_v12(blob: bytes, version: int) -> TDigest:
    if len(blob) < HEADER_LEN_V12:
        raise WireError("buffer too small")
    scale_code, policy_code, pin = blob[5], blob[6], blob[7]
    (max_size,) = struct.unpack_from("<Q", blob, 8)
    if version == 1:
        (tw_u,) = struct.unpack_from("<Q", blob, 16)
        total_weight = float(tw_u)
    else:
        (total_weight,) = struct.unpack_from("<d", blob, 16)
    mn, mx = struct.unpack_from("<dd", blob, 24)
    (n,) = struct.unpack_from("<Q", blob, 40)
    (data_sum,) = struct.unpack_from("<d", blob, 48)
    precision = wire_precision(blob)
    payload = blob[HEADER_LEN_V12:]
    means, w, kinds = _decode_centroids(payload, version, precision, int(n))
    return _build(
        precision, scale_code, policy_code, pin, int(max_size),
        total_weight, mn, mx, data_sum, means, w, kinds,
    )


def _decode_v3(blob: bytes) -> TDigest:
    if len(blob) < HEADER_LEN_V3:
        raise WireError("buffer too small")
    flags = blob[5]
    header_len = blob[6]
    if header_len < HEADER_LEN_V3:
        raise WireError("v3 header_len must be >= 64")
    if len(blob) < header_len:
        raise WireError("buffer shorter than header_len")
    prec_code = blob[7]
    if prec_code not in _CODE_PRECISION:
        raise WireError(f"invalid TDIG precision code: {prec_code}")
    precision = _CODE_PRECISION[prec_code]
    scale_code, policy_code, pin = blob[8], blob[9], blob[10]
    (max_size,) = struct.unpack_from("<Q", blob, 12)
    (total_weight,) = struct.unpack_from("<d", blob, 20)
    mn, mx = struct.unpack_from("<dd", blob, 28)
    (n,) = struct.unpack_from("<Q", blob, 44)
    (data_sum,) = struct.unpack_from("<d", blob, 52)
    (expected_crc,) = struct.unpack_from("<I", blob, V3_CHECKSUM_OFFSET)
    if flags & V3_FLAG_CHECKSUM:
        actual = _checksum_v3(blob, header_len)
        if actual != expected_crc:
            raise WireError("invalid TDIG checksum")
    payload = blob[header_len:]
    means, w, kinds = _decode_centroids(payload, 3, precision, int(n))
    return _build(
        precision, scale_code, policy_code, pin, int(max_size),
        total_weight, mn, mx, data_sum, means, w, kinds,
    )


# v3 header fields read by decode_batch (layout in the module docstring)
_V3_FIELDS = [  # (name, format, offset)
    ("flags", "u1", 5), ("header_len", "u1", 6), ("precision", "u1", 7),
    ("scale", "u1", 8), ("policy", "u1", 9), ("pin", "u1", 10),
    ("count", "<f8", 20), ("min", "<f8", 28), ("max", "<f8", 36),
    ("n", "<u8", 44), ("sum", "<f8", 52), ("crc", "<u4", 60),
]
_HEADER_V3 = np.dtype({
    "names": [f[0] for f in _V3_FIELDS],
    "formats": [f[1] for f in _V3_FIELDS],
    "offsets": [f[2] for f in _V3_FIELDS],
    "itemsize": HEADER_LEN_V3,
})
_PAYLOAD_V3 = {
    p: np.dtype({
        "names": ["mean", "weight", "kind"],
        "formats": [_mean_dtype(p), "<f8", "u1"],
        "offsets": [0, _stride(3, p) - 9, _stride(3, p) - 1],
        "itemsize": _stride(3, p),
    })
    for p in ("f32", "f64")
}


def decode_batch(blobs, header_only: bool = False) -> DigestBatch:
    """Decode a column of TDIG blobs into one ``DigestBatch``.

    Identical blobs decode once (``rows`` maps every input row to its
    digest). v3 blobs are parsed column-wise: one structured view over
    their joined headers, and per precision one over their joined
    payloads; v1/v2 blobs go through ``decode`` and are spliced in. A
    blob ``decode`` would reject — or a null — raises the error
    ``decode`` raises for the first such row.

    ``header_only`` reads just the header columns: v3 payloads, config
    codes and checksums are not checked, the centroid columns are None,
    and an f32 v3 blob's min/max are the raw f64 header fields (a full
    read rounds them to f32, as ``decode`` does).
    """
    index: dict = {}
    rows = np.fromiter(
        (index.setdefault(None if b is None else bytes(b), len(index))
         for b in blobs),
        dtype=np.int64,
    )
    keys = list(index)
    n_dig = len(keys)
    bad = np.zeros(n_dig, dtype=bool)
    v3, legacy = [], []
    for i, b in enumerate(keys):
        version = (
            b[4] if b is not None and len(b) >= 5 and b[:4] == MAGIC else None
        )
        if version == 3 and len(b) >= HEADER_LEN_V3:
            v3.append(i)
        elif version in (1, 2):
            legacy.append(i)
        else:
            bad[i] = True

    v3 = np.asarray(v3, dtype=np.int64)
    hdr = np.frombuffer(
        b"".join([keys[i][:HEADER_LEN_V3] for i in v3]), dtype=_HEADER_V3
    )
    size = np.asarray([len(keys[i]) for i in v3], dtype=np.int64)
    hlen = hdr["header_len"].astype(np.int64)
    f32 = hdr["precision"] == _PRECISION_CODE["f32"]
    ok = (
        (hlen >= HEADER_LEN_V3) & (size >= hlen)
        & (f32 | (hdr["precision"] == _PRECISION_CODE["f64"]))
    )
    payloads = []
    if not header_only:
        # codes are dense from 0
        ok &= (
            (hdr["scale"] < len(_CODE_TO_SCALE))
            & (hdr["policy"] < len(_CODE_TO_POLICY))
            & ~((hdr["policy"] == _POLICY_TO_CODE["edges"]) & (hdr["pin"] == 0))
        )
        stride = np.where(f32, _stride(3, "f32"), _stride(3, "f64"))
        plen = size - hlen
        ok &= (plen % stride == 0) & (
            hdr["n"] == (plen // stride).astype(np.uint64)
        )
        hl = hlen.tolist()
        for j in np.flatnonzero(ok & (hdr["flags"] & V3_FLAG_CHECKSUM != 0)):
            ok[j] = _checksum_v3(keys[v3[j]], hl[j]) == hdr["crc"][j]
        for prec, code in _PRECISION_CODE.items():
            sel = np.flatnonzero(ok & (hdr["precision"] == code))
            if not sel.size:
                continue
            rec = np.frombuffer(
                b"".join([keys[v3[j]][hl[j]:] for j in sel]),
                dtype=_PAYLOAD_V3[prec],
            )
            w = rec["weight"]
            cbad = (
                (rec["kind"] > KIND_MIXED) | ~np.isfinite(rec["mean"])
                | ~np.isfinite(w) | (w < 0)
            )
            owner = np.repeat(sel, hdr["n"][sel].astype(np.int64))
            ok[owner[cbad]] = False
            payloads.append((v3[sel], prec, rec))
    bad[v3[~ok]] = True

    legacy_td = {}
    for i in legacy:
        try:
            legacy_td[i] = decode(keys[i])
        except WireError:
            bad[i] = True
    if bad.any():
        _reject(keys[int(np.flatnonzero(bad)[0])])

    n = np.zeros(n_dig, dtype=np.int64)
    count, total, mn, mx = (np.empty(n_dig) for _ in range(4))
    precision = np.empty(n_dig, dtype="<U3")
    n[v3] = hdr["n"]
    count[v3] = hdr["count"]
    total[v3] = hdr["sum"]
    mn[v3] = hdr["min"]
    mx[v3] = hdr["max"]
    precision[v3] = np.where(f32, "f32", "f64")
    for i, td in legacy_td.items():
        n[i], count[i], total[i] = len(td), td.count, td.sum
        mn[i], mx[i], precision[i] = td.min, td.max, td.precision
    cols = dict(
        n=n, count=count, sum=total, min=mn, max=mx, precision=precision,
        rows=rows,
    )
    if header_only:
        return DigestBatch(
            means=None, weights=None, kinds=None, offsets=None, **cols
        )
    if f32.any():
        with np.errstate(over="ignore"):
            # f32 digests store min/max at f32 (TDigest._store); the
            # header-only read keeps the raw header fields
            mn[v3[f32]] = hdr["min"][f32].astype(np.float32)
            mx[v3[f32]] = hdr["max"][f32].astype(np.float32)

    offsets = np.zeros(n_dig + 1, dtype=np.int64)
    np.cumsum(n, out=offsets[1:])
    means = np.empty(offsets[-1])
    weights = np.empty(offsets[-1])
    kinds = np.empty(offsets[-1], dtype=np.uint8)

    def owned(digests):
        mask = np.zeros(n_dig, dtype=bool)
        mask[digests] = True
        return np.repeat(mask, n)

    for digests, prec, rec in payloads:
        at = owned(digests)
        means[at] = rec["mean"]
        w = rec["weight"]
        if prec == "f32":
            with np.errstate(over="ignore"):
                # f32 digests store weights at f32 too (TDigest._store)
                w = w.astype(np.float32)
        weights[at] = w
        kinds[at] = rec["kind"]
    if legacy_td:
        at = owned(list(legacy_td))
        tds = list(legacy_td.values())
        means[at] = np.concatenate([td.means64 for td in tds])
        weights[at] = np.concatenate([td.weights64 for td in tds])
        kinds[at] = np.concatenate([td.kinds for td in tds])
    return DigestBatch(
        means=means, weights=weights, kinds=kinds, offsets=offsets, **cols
    )


def _reject(blob) -> None:
    """Raise the error ``decode`` raises for a blob the batch rejected."""
    if blob is None:
        raise WireError("null TDIG blob")
    decode(blob)
    raise AssertionError("decode_batch rejected a blob that decodes")


def encode_pile_groups(
    run_means: np.ndarray,
    run_weights: np.ndarray,
    bounds: np.ndarray,
    counts: np.ndarray,
    sums: np.ndarray,
    *,
    max_size: int,
    scale: str,
    policy: str,
    pin_per_side: int,
    precision: str,
) -> list:
    """Vectorized v3 encoding of MANY uncompressed pile digests at once.

    Group ``i`` owns runs ``bounds[i]:bounds[i+1]`` of the (sorted,
    coalesced) ``run_means``/``run_weights`` arrays; ``counts``/``sums``
    carry the group totals computed from the ORIGINAL weights. Produces
    byte-for-byte the same blob as ``encode(_pile_digest(...), 3)``
    without constructing a TDigest object per key: the payload matrix
    and header field columns are built in numpy for all groups, leaving
    only crc32 (zlib, C) + slicing in the per-key loop. Empty groups
    yield None.
    """
    scale_code = _SCALE_TO_CODE[scale]
    policy_code = _POLICY_TO_CODE[policy]
    pin = min(pin_per_side, 255) if policy == "edges" else 0

    n_groups = len(bounds) - 1
    # storage-precision views (TDigest._store semantics)
    if precision == "f32":
        m_store = run_means.astype(np.float32)
        w_store = np.where(run_weights <= 1.0, 1.0, run_weights).astype(
            np.float32
        ).astype(np.float64)
        mean_payload = m_store  # already f32
    else:
        m_store = np.asarray(run_means, dtype=np.float64)
        w_store = np.where(run_weights <= 1.0, 1.0, run_weights)
        mean_payload = m_store

    n = run_means.size
    stride = _stride(3, precision)
    msz = 4 if precision == "f32" else 8
    pay = np.zeros(n * stride, dtype=np.uint8)
    view = pay.reshape(n, stride) if n else pay.reshape(0, stride)
    if n:
        view[:, :msz] = (
            mean_payload.astype(_mean_dtype(precision))
            .view(np.uint8).reshape(n, msz)
        )
        view[:, msz:msz + 8] = (
            w_store.astype("<f8").view(np.uint8).reshape(n, 8)
        )
        # kinds: all piles are atomic (0) — column already zeroed
    pay_bytes = pay.tobytes()

    b0 = bounds[:-1]
    b1 = bounds[1:]
    valid = b1 > b0
    mn = np.zeros(n_groups)
    mx = np.zeros(n_groups)
    if n:
        m64 = np.asarray(m_store, dtype=np.float64)
        mn[valid] = m64[np.minimum(b0[valid], n - 1)]
        mx[valid] = m64[b1[valid] - 1]

    tmpl = bytearray(HEADER_LEN_V3)
    tmpl[0:4] = MAGIC
    tmpl[4:12] = bytes([
        3, V3_FLAG_CHECKSUM, HEADER_LEN_V3, _PRECISION_CODE[precision],
        scale_code, policy_code, pin, 0,
    ])
    struct.pack_into("<Q", tmpl, 12, max_size)

    # all headers as one (G × 64) matrix — vectorized field writes; the
    # crc slot stays zero so crc32 over the full 64-byte slice matches
    # _checksum_v3's zeroed-slot semantics
    H = np.tile(np.frombuffer(bytes(tmpl), np.uint8), (n_groups, 1))
    if n_groups:
        H[:, 20:28] = np.asarray(counts, "<f8").view(np.uint8).reshape(-1, 8)
        H[:, 28:36] = mn.astype("<f8").view(np.uint8).reshape(-1, 8)
        H[:, 36:44] = mx.astype("<f8").view(np.uint8).reshape(-1, 8)
        H[:, 44:52] = (b1 - b0).astype("<u8").view(np.uint8).reshape(-1, 8)
        H[:, 52:60] = np.asarray(sums, "<f8").view(np.uint8).reshape(-1, 8)
    hdr_bytes = H.tobytes()

    out = []
    crc32 = zlib.crc32
    pack = struct.pack
    off = (bounds * stride).tolist()
    valid_l = valid.tolist()
    for i in range(n_groups):
        if not valid_l[i]:
            out.append(None)
            continue
        h = hdr_bytes[i * HEADER_LEN_V3:(i + 1) * HEADER_LEN_V3]
        pslice = pay_bytes[off[i]:off[i + 1]]
        crc = crc32(pslice, crc32(h))
        out.append(h[:V3_CHECKSUM_OFFSET] + pack("<I", crc) + pslice)
    return out
