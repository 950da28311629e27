"""Column-level t-digest query/transform functions.

Spark analogue of the reference's Polars expression plugin
(polars_expr.rs:119-443; names mirrored from __init__.py:547-802):
``tdigest_quantile / tdigest_cdf / tdigest_median / tdigest_trimmed_mean /
merge_tdigests / tdigest_scale_weights / tdigest_scale_values /
tdigest_cast_precision / tdigest_to_bytes / tdigest_from_bytes /
tdigest_summary / tdigest_wire_precision`` plus cheap header-level stats
(count/sum/min/max/mean).

All functions are Arrow-vectorized pandas UDFs over a BinaryType digest
column (the TDIG v3 blob is the canonical in-DataFrame representation —
~17 KB at max_size=1000, shuffle- and store-friendly).

- Quantile / CDF / median (``tdigest_quantile(s)``, ``tdigest_cdf(s)``,
  ``tdigest_cdf_col``, ``tdigest_median`` and their ``register_sql``
  names) decode each Arrow batch once with ``wire.decode_batch`` —
  identical blobs once — and answer every row in one ``DigestBatch``
  kernel call.
- Header stats (count/sum/min/max/mean/n_centroids/wire_precision) read
  the header columns of the same decoder: no payload decode and no
  checksum. A NULL blob raises ``ValueError("null TDIG blob")``, a
  truncated one ``WireError("buffer too small")``.
- Summary, trimmed mean and the digest → digest transforms decode one
  blob per row.
"""

from __future__ import annotations

import math
from typing import List, Optional, Sequence, Union

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
)

from gr_tdigest_spark import validation
from gr_tdigest_spark.sketches import wire as td_wire
from gr_tdigest_spark.sketches.tdigest import TDigest

__all__ = [
    "empty_tdigest",
    "tdigest_quantile",
    "tdigest_quantiles",
    "tdigest_cdf",
    "tdigest_cdfs",
    "tdigest_cdf_col",
    "register_sql",
    "tdigest_median",
    "tdigest_trimmed_mean",
    "tdigest_count",
    "tdigest_sum",
    "tdigest_min",
    "tdigest_max",
    "tdigest_mean",
    "tdigest_n_centroids",
    "tdigest_summary",
    "tdigest_wire_precision",
    "tdigest_scale_weights",
    "tdigest_scale_values",
    "tdigest_cast_precision",
    "tdigest_to_version",
    "tdigest_to_struct",
    "tdigest_from_struct",
    "infer_column_precision",
    "merge_tdigests",
    "TDIGEST_STRUCT",
]


def _decode(blob) -> Optional[TDigest]:
    if blob is None:
        raise ValueError("null TDIG blob (reference polars_expr.rs:376-383)")
    return td_wire.decode(bytes(blob))


def _map_blobs(series: pd.Series, fn, dtype=object) -> pd.Series:
    out = [fn(_decode(b)) for b in series]
    return pd.Series(out, dtype=dtype)


def _quantiles(batch, qs: np.ndarray) -> np.ndarray:
    """(digests × probes) quantiles; empty digests' rows are NaN (null)."""
    d = np.arange(batch.n.size)
    out = batch.quantile(d[:, None], qs[None, :]).reshape(d.size, qs.size)
    out[batch.empty] = np.nan
    return out


def _cdfs(batch, xs: np.ndarray) -> np.ndarray:
    """(digests × probes) CDF values; empty digests give NaN."""
    d = np.arange(batch.n.size)
    return batch.cdf(d[:, None], xs[None, :]).reshape(d.size, xs.size)


def empty_tdigest(
    max_size: int = 1000,
    scale: str = "k2",
    policy: str = "use",
    pin_per_side: int = 0,
    precision: str = "f64",
) -> Column:
    """Literal empty-digest blob — use with ``F.coalesce`` after outer
    joins so empty groups behave like the reference's empty digests
    (quantile → null, cdf → NaN) instead of erroring on null blobs."""
    td = TDigest.empty(
        validation.validate_max_size(max_size),
        validation.coerce_scale(scale),
        validation.coerce_policy(policy),
        validation.validate_pin_per_side(
            pin_per_side, max_size, validation.coerce_policy(policy)
        ),
        None,
        validation.coerce_precision(precision),
    )
    return F.lit(td_wire.encode(td))


def tdigest_quantile(col, q: float) -> Column:
    """Quantile of each digest row; strict probe validation
    (frontends.rs:152-160); empty digest → null (polars_expr.rs:1149-1170)."""
    qv = np.asarray([validation.validate_quantile_probe(q)])

    @F.pandas_udf(DoubleType())
    def _q(blobs: pd.Series) -> pd.Series:
        b = td_wire.decode_batch(blobs)
        return pd.Series(_quantiles(b, qv)[b.rows, 0])

    return _q(col)


def tdigest_quantiles(col, qs: Sequence[float]) -> Column:
    """Vector of quantiles per digest row → array<double>."""
    qarr = np.asarray([validation.validate_quantile_probe(q) for q in qs])

    @F.pandas_udf(ArrayType(DoubleType()))
    def _qs(blobs: pd.Series) -> pd.Series:
        b = td_wire.decode_batch(blobs)
        out = pd.Series(_quantiles(b, qarr)[b.rows].tolist(), dtype=object)
        out[b.empty[b.rows]] = None
        return out

    return _qs(col)


def tdigest_cdf(col, x: float) -> Column:
    """CDF at a constant probe; empty digest → NaN (tdigest.rs:349-360)."""
    xv = np.asarray([float(x)])

    @F.pandas_udf(DoubleType())
    def _c(blobs: pd.Series) -> pd.Series:
        b = td_wire.decode_batch(blobs)
        return pd.Series(_cdfs(b, xv)[b.rows, 0])

    return _c(col)


def tdigest_cdfs(col, xs: Sequence[float]) -> Column:
    """CDF at several probes → array<double>."""
    xarr = np.asarray(xs, dtype=np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _cs(blobs: pd.Series) -> pd.Series:
        b = td_wire.decode_batch(blobs)
        return pd.Series(_cdfs(b, xarr)[b.rows].tolist(), dtype=object)

    return _cs(col)


@F.pandas_udf(DoubleType())
def _cdf_col(blobs: pd.Series, xs: pd.Series) -> pd.Series:
    b = td_wire.decode_batch(blobs)
    xarr = xs.to_numpy(dtype=np.float64, na_value=np.nan)
    return pd.Series(b.cdf(b.rows, xarr))


def tdigest_cdf_col(digest_col, probe_col) -> Column:
    """CDF with a per-row probe column (digest ⋈ probe pattern,
    reference polars_expr.rs:920-983)."""
    return _cdf_col(digest_col, probe_col)


@F.pandas_udf(DoubleType())
def _median(blobs: pd.Series) -> pd.Series:
    b = td_wire.decode_batch(blobs)
    return pd.Series(b.median(np.arange(b.n.size))[b.rows])


def tdigest_median(col) -> Column:
    """Median with even-count branch (quantile.rs:219-233); empty → null."""
    return _median(col)


def tdigest_trimmed_mean(col, lower: float, upper: float) -> Column:
    lo, hi = validation.validate_trimmed_bounds(lower, upper)

    @F.pandas_udf(DoubleType())
    def _t(blobs: pd.Series) -> pd.Series:
        def one(td):
            if td.is_effectively_empty:
                return None
            v = td.trimmed_mean(lo, hi)
            return None if math.isnan(v) else float(v)

        return _map_blobs(blobs, one, dtype="float64")

    return _t(col)


# ---------------------------------------------------------------------- #
# header-only stats — the decoder's header columns, not the payload
# ---------------------------------------------------------------------- #

def _header_udf(stat, returns=DoubleType()):
    """Pandas UDF of one per-digest header stat, ``stat(batch)``."""

    @F.pandas_udf(returns)
    def _h(blobs: pd.Series) -> pd.Series:
        b = td_wire.decode_batch(blobs, header_only=True)
        return pd.Series(stat(b)[b.rows])

    return _h


def _field_udf(name: str):
    return _header_udf(lambda b: getattr(b, name))


def tdigest_count(col) -> Column:
    """Total weight ∑w (v3 header bytes 20..28)."""
    return _field_udf("count")(col)


def tdigest_min(col) -> Column:
    return _field_udf("min")(col)


def tdigest_max(col) -> Column:
    return _field_udf("max")(col)


def tdigest_sum(col) -> Column:
    """∑x over raw data (v3 header bytes 52..60)."""
    return _field_udf("sum")(col)


def tdigest_mean(col) -> Column:
    """∑x / ∑w; 0.0 for a zero-count digest."""

    def mean(b):
        live = b.count > 0
        return np.where(live, b.sum / np.where(live, b.count, 1.0), 0.0)

    return _header_udf(mean)(col)


def tdigest_n_centroids(col) -> Column:
    return _header_udf(
        lambda b: b.n.astype(np.int32), IntegerType()
    )(col)


def tdigest_summary(col) -> Column:
    """One-line debug render (polars_expr.rs:420-443)."""

    @F.pandas_udf(StringType())
    def _s(blobs: pd.Series) -> pd.Series:
        return _map_blobs(blobs, lambda td: td.summary(), dtype="string")

    return _s(col)


def tdigest_wire_precision(col) -> Column:
    """'f32'/'f64' header sniff (wire.rs:224-272)."""
    return _header_udf(lambda b: b.precision, StringType())(col)


# ---------------------------------------------------------------------- #
# digest → digest transforms
# ---------------------------------------------------------------------- #

def _transform_udf(fn, version: int = 3):
    """Digest → digest UDF: decode, ``fn``, encode at wire ``version``."""
    @F.pandas_udf(BinaryType())
    def _t(blobs: pd.Series) -> pd.Series:
        return _map_blobs(blobs, lambda td: td_wire.encode(fn(td), version))

    return _t


def tdigest_scale_weights(col, factor: float) -> Column:
    """Multiply all weights/count/sum by factor (tdigest.rs:661-675)."""
    f = float(factor)
    return _transform_udf(lambda td: td.scale_weights(f))(col)


def tdigest_scale_values(col, factor: float) -> Column:
    """Multiply means/min/max/sum by factor > 0 (tdigest.rs:685-701)."""
    f = float(factor)
    return _transform_udf(lambda td: td.scale_values(f))(col)


def tdigest_cast_precision(col, precision: str) -> Column:
    """Explicit f32⇄f64 cast (tdigest.rs:383-406)."""
    p = validation.coerce_precision(precision)
    return _transform_udf(lambda td: td.cast_precision(p))(col)


def tdigest_to_version(col, version: int) -> Column:
    """Re-encode blobs at an explicit wire version (1|2|3)."""
    return _transform_udf(lambda td: td, int(version))(col)


def register_sql(spark) -> None:
    """Register the t-digest query functions for ``spark.sql`` use —
    the SQL-string surface analogue of the reference's CLI/JNI layers:

        SELECT g, tdigest_quantile(td, 0.5) FROM digests

    (Probe arguments are per-row columns/literals here; the Python API
    keeps the plan-time-validated variants.)
    """
    @F.pandas_udf(DoubleType())
    def _q(blobs: pd.Series, qs: pd.Series) -> pd.Series:
        qarr = qs.to_numpy(dtype=np.float64, na_value=np.nan)
        bad = ~((qarr >= 0.0) & (qarr <= 1.0))
        if bad.any():
            validation.validate_quantile_probe(qarr[np.argmax(bad)])
        b = td_wire.decode_batch(blobs)
        out = b.quantile(b.rows, qarr)
        out[b.empty[b.rows]] = np.nan
        return pd.Series(out)

    spark.udf.register("tdigest_quantile", _q)
    spark.udf.register("tdigest_cdf", _cdf_col)
    spark.udf.register("tdigest_median", _median)
    for name in ("count", "min", "max", "sum"):
        spark.udf.register(f"tdigest_{name}", _field_udf(name))


# digest struct schema — unlike the reference's Polars codec
# (codecs.rs:214-230) this carries the centroid `kind` flag and the
# full config, fixing the documented kind-loss defect (SURVEY §1.3)
TDIGEST_STRUCT = (
    "struct<centroids: array<struct<mean: double, weight: double, "
    "kind: tinyint>>, sum: double, count: double, min: double, "
    "max: double, max_size: bigint, scale: string, policy: string, "
    "pin_per_side: int, precision: string>"
)


def tdigest_to_struct(col) -> Column:
    """Expand a TDIG blob into an inspectable struct column (keeps kind
    + config, unlike the reference's Polars struct — codecs.rs:446-456)."""
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(TDIGEST_STRUCT)

    @F.pandas_udf(schema)
    def _s(blobs: pd.Series) -> pd.DataFrame:
        rows = []
        for b in blobs:
            td = _decode(b)
            rows.append({
                "centroids": [
                    {"mean": float(m), "weight": float(w), "kind": int(k)}
                    for m, w, k in zip(td.means64, td.weights64, td.kinds)
                ],
                "sum": td.sum, "count": td.count,
                "min": td.min, "max": td.max,
                "max_size": td.max_size, "scale": td.scale,
                "policy": td.policy, "pin_per_side": td.pin_per_side,
                "precision": td.precision,
            })
        return pd.DataFrame(rows)

    return _s(col)


def tdigest_from_struct(col) -> Column:
    """Rebuild a TDIG blob from the struct form (round-trips exactly)."""

    @F.pandas_udf(BinaryType())
    def _b(structs: pd.DataFrame) -> pd.Series:
        # struct-typed input arrives as a DataFrame of its fields
        out = []
        for _, s in structs.iterrows():
            td = TDigest.__new__(TDigest)
            cents = s["centroids"]
            cents = [] if cents is None else list(cents)
            td.means = np.array([c["mean"] for c in cents])
            td.weights = np.array([c["weight"] for c in cents])
            td.kinds = np.array([c["kind"] for c in cents], dtype=np.uint8)
            td.sum = float(s["sum"])
            td.count = float(s["count"])
            td.min = float(s["min"])
            td.max = float(s["max"])
            td.max_size = int(s["max_size"])
            td.scale = s["scale"]
            td.policy = s["policy"]
            td.pin_per_side = int(s["pin_per_side"])
            td.delta = None
            td.precision = s["precision"]
            td._store()
            out.append(td_wire.encode(td))
        return pd.Series(out)

    return _b(col)


def infer_column_precision(
    df, col: str, sample: int = 64, strict: bool = True
) -> str:
    """Sample ≤``sample`` non-null blobs and sniff their wire precision
    (reference __init__.py:207-257): uniform → that precision; mixed →
    raise (strict) or 'f64'; all-null → 'f64'."""
    rows = (
        df.select(col).where(F.col(col).isNotNull()).limit(sample).collect()
    )
    kinds = {td_wire.wire_precision(bytes(r[0])) for r in rows if r[0]}
    if not kinds:
        return "f64"
    if len(kinds) > 1:
        if strict:
            raise ValueError(
                f"Mixed TDIG wire precisions in column {col!r}: "
                f"{sorted(kinds)}"
            )
        return "f64"
    return kinds.pop()


def merge_tdigests(col) -> Column:
    """Grouped-aggregate merge of a digest column — the Polars
    ``merge_tdigests(...).over(g)`` rollup (polars_expr.rs:147-156,
    __init__.py:643-656). Use in ``df.groupBy(g).agg(merge_tdigests("td"))``
    to re-aggregate e.g. day digests into month digests without
    rescanning raw data."""

    @F.pandas_udf(BinaryType())
    def _merge(blobs: pd.Series) -> bytes:
        from gr_tdigest_spark import validation as v

        digests = [td_wire.decode(bytes(b)) for b in blobs if b is not None]
        v.check_merge_compatible(digests)
        nonempty = [d for d in digests if not d.is_effectively_empty]
        if not nonempty:
            base = digests[0] if digests else TDigest()
            return td_wire.encode(base)
        return td_wire.encode(TDigest.merge_digests(nonempty))

    return _merge(col)
