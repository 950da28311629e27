"""Per-row group-sketch attachment — the Spark analogue of Polars
``tdigest(...).over(g)`` / ``quantile(...).over(g)``
(reference __init__.py:643-656, test_contract_behavior.py:200-254).

Digest state is far too heavy for Spark ``Window`` frames, so the plans
here never attach a blob to a fact row:

- group-constant probes (``with_group_quantile``): evaluate on the tiny
  digest table, broadcast-join the SCALAR result — pure JVM join.
- per-row probes (``with_group_cdf``): the keyed-probe plan of
  ``operators.probe`` — the digest table ships once per executor as a
  broadcast variable (default), or cogroups with the facts on the
  canonical keys (``strategy='cogroup'``, for group counts too large to
  broadcast); either way each group's digest decodes once per batch and
  one batched CDF call answers its rows.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField

import gr_tdigest_spark.functions as Fn
from gr_tdigest_spark.operators.agg import tdigest_agg
from gr_tdigest_spark.operators.probe import canon_key_col, probe_by_key
from gr_tdigest_spark.sketches import wire as td_wire

__all__ = [
    "with_group_quantile",
    "with_group_cdf",
    "filter_by_group_quantile",
]


def with_group_quantile(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    q: float,
    out_col: Optional[str] = None,
    **cfg,
) -> DataFrame:
    """Attach each group's quantile-q of ``value_col`` to every row —
    ``quantile(tdigest(x), q).over(keys)``. The probe is group-constant,
    so only the SCALAR result joins back (broadcast hash join, no
    shuffle of the fact table, no Python on the fact rows).

    The join-back is NULL-safe on the keys: a NULL (or float-NaN —
    canonicalized to NULL, matching the aggregate) group key is a real
    group and its rows get that group's scalar, instead of silently
    receiving NULL from an equi-join that can never match. Output
    columns are ``df``'s, in order, plus ``out_col``."""
    out_col = out_col or f"q{q}_{value_col}"
    key_cols = list(keys)
    digests = tdigest_agg(df, key_cols, value_col, **cfg)
    scalars = digests.select(
        *key_cols, Fn.tdigest_quantile("tdigest", q).alias(out_col)
    )
    fact, dim = df.alias("__gqf"), F.broadcast(scalars).alias("__gqs")
    cond = None
    for k in key_cols:
        e = canon_key_col(df, k, "__gqf").eqNullSafe(
            canon_key_col(scalars, k, "__gqs")
        )
        cond = e if cond is None else (cond & e)
    return fact.join(dim, cond, "left").select(
        *[F.col(f"__gqf.`{c}`") for c in df.columns],
        # backticks: the default out_col embeds the q value's dot
        F.col(f"__gqs.`{out_col}`").alias(out_col),
    )


def filter_by_group_quantile(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    q: float,
    keep: str = "above",
    strict: bool = False,
    **cfg,
) -> DataFrame:
    """Keep rows whose ``value_col`` clears the group's quantile-q
    threshold — the standard pretraining-filter shape ("top 30% quality
    per language" is ``q=0.7, keep='above'``). Output schema == input
    schema.

    Built on :func:`with_group_quantile`: the threshold is ONE scalar
    per group computed on the digest table and broadcast-joined back,
    so the fact table is never shuffled and the comparison is pure JVM.
    ``keep='above'`` retains value ≥ threshold (> when ``strict``);
    ``'below'`` the mirror. Rows with a NULL or NaN value never clear
    the filter on EITHER side (Spark sorts NaN above every number, so
    without an explicit guard NaN garbage would pass ``keep='above'``),
    and rows of groups whose threshold is NULL (an all-NULL-value
    group) are dropped. NULL/NaN values trip the strict validation
    default while building the digests — pass ``on_invalid='drop'``
    (forwarded via ``cfg``) for a corpus that contains them.
    """
    if keep not in ("above", "below"):
        raise ValueError(f"keep must be 'above' or 'below', got {keep!r}")
    thr_col = "__gq_threshold"
    out = with_group_quantile(df, keys, value_col, q, thr_col, **cfg)
    v, t = F.col(value_col), F.col(thr_col)
    if keep == "above":
        cond = (v > t) if strict else (v >= t)
    else:
        cond = (v < t) if strict else (v <= t)
    cond = cond & ~F.isnan(v.cast("double"))
    return out.where(cond).drop(thr_col).select(*df.columns)


def _cdf(blobs, digest, xs):
    batch = td_wire.decode_batch(blobs)
    xs = pd.Series(xs).to_numpy(dtype=np.float64, na_value=np.nan)
    return batch.cdf(batch.rows[digest], xs)


def with_group_cdf(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    probe_col: Optional[str] = None,
    out_col: str = "cdf",
    strategy: str = "broadcast",
    **cfg,
) -> DataFrame:
    """Attach the group's CDF evaluated at each row's own value (or at
    ``probe_col``) — ``cdf(tdigest(x), probe).over(keys)``.

    ``strategy='broadcast'`` (default): digest map broadcast once per
    executor; right whenever #groups × blob fits in memory (a 150k-group
    × 17 KB table is ~2.5 GB — switch strategies before that).
    ``strategy='cogroup'``: shuffle-based, blob crosses once per group.
    Both answer a row from its canonical group (a NaN key reads the NULL
    group's digest, -0.0 the 0.0 group's) and return ``df``'s columns
    unchanged, plus ``out_col``.
    """
    probe_col = probe_col or value_col
    key_cols = list(keys)
    digests = tdigest_agg(df, key_cols, value_col, **cfg)
    return probe_by_key(
        df, digests, key_cols, "tdigest", probe_col,
        StructField(out_col, DoubleType(), True), _cdf, np.nan, strategy,
    )
