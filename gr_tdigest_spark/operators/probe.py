"""Keyed sketch probes: evaluate every fact row against its group's
sketch — the plan behind ``cdf(tdigest(x), probe).over(keys)``
(reference __init__.py:643-656) and behind ``cms_topk``'s candidate
re-estimate. Also home of the group-key identity every builder and
probe shares (``key_codes``, ``canon_key_col``).

A sketch blob never rides on a fact row (a ~17 KB digest per row through
Arrow measured 42 s for 600 k rows, against 1-2 s for the map):

- ``strategy='broadcast'``: the sketch table is collected once into a
  canonical-key → blob map and shipped as a Spark broadcast variable.
  One pandas UDF per Arrow batch factorizes the batch's keys once,
  looks up each group's blob and makes ONE ``probe`` call. Only the key
  and probe columns cross Arrow, and no exchange is added.
- ``strategy='cogroup'``: for sketch tables too large to collect
  (#groups × blob beyond driver or executor memory). Facts and sketches
  cogroup on hidden JVM-canonicalized copies of the keys (the group
  identity ``key_codes`` gives the broadcast path), each blob crosses
  the wire once per group, and the same ``probe`` runs on it. The fact
  columns go through Arrow untouched (``applyInArrow``: a NaN stays
  NaN). A keyless probe has one sketch, so it always broadcasts.

Either way a row whose group has no sketch gets ``default``.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, FloatType, StructField, StructType

__all__ = ["key_codes", "canon_key_col", "probe_by_key"]


def _canon_key(v):
    """Canonicalize one group-key scalar for dict identity.

    Spark NULLs in numeric key columns cross the Arrow/pandas boundary as
    float NaN, and NaN never compares equal to itself (Python ≥3.10 even
    hashes NaN by identity) — so NaN-bearing key tuples would keep one
    dict entry per partial instead of merging. Map every missing-ish
    scalar (None / NaN / NaT) to None. Note: this conflates SQL NULL with
    a literal float('nan') key — pandas cannot distinguish them anyway.
    (-0.0 needs no mapping: it equals and hashes like 0.0.)
    """
    if v is None:
        return None
    try:
        if v != v:  # NaN / NaT
            return None
    except (TypeError, ValueError):
        pass
    return v


def _canon_key_tuple(t) -> tuple:
    return tuple(_canon_key(v) for v in t)


def key_codes(columns: Sequence, n: int):
    """Factorize key columns (pandas Series or arrays, all of length
    ``n``) into ``(codes, groups)``: int64 group ids per row and the
    canonical key tuple of each id. NULL and NaN are one group, as are
    -0.0 and 0.0. No columns: one ``()`` group."""
    if not len(columns):
        return np.zeros(n, dtype=np.int64), [()]
    if len(columns) == 1:
        codes, uniq = pd.factorize(pd.Series(columns[0]),
                                   use_na_sentinel=False)
        groups = [(_canon_key(u),) for u in uniq]
    else:
        codes, uniq = pd.factorize(
            pd.MultiIndex.from_arrays(list(columns)), use_na_sentinel=False
        )
        groups = [_canon_key_tuple(u) for u in uniq]
    return codes.astype(np.int64, copy=False), groups


def canon_key_col(df: DataFrame, name: str, qualifier: str = ""):
    """JVM expression of key column ``name`` in ``key_codes``' identity:
    a float/double key maps NaN→NULL and -0.0→0.0, anything else passes
    through. ``qualifier`` names an aliased side of a join."""
    dt = df.schema[name].dataType
    c = F.col(f"{qualifier}.`{name}`" if qualifier else f"`{name}`")
    if isinstance(dt, (FloatType, DoubleType)):
        return (
            F.when(F.isnan(c), F.lit(None).cast(dt))
            .when(c == 0.0, F.lit(0.0).cast(dt))
            .otherwise(c)
        )
    return c


def _answer(blob_of: dict, codes: np.ndarray, groups: list,
            values: np.ndarray, probe: Callable, default) -> np.ndarray:
    """One probe call over every row whose group has a blob in
    ``blob_of``; the other rows keep ``default``."""
    out = np.full(len(values), default)
    blobs = [blob_of.get(g) for g in groups]
    known = np.asarray([b is not None for b in blobs], dtype=bool)
    rows = np.flatnonzero(known[codes])
    if rows.size:
        index = np.cumsum(known) - 1  # group id → position in `found`
        found = [b for b in blobs if b is not None]
        out[rows] = probe(found, index[codes[rows]], values[rows])
    return out


def probe_by_key(
    facts: DataFrame,
    sketches: DataFrame,
    keys: Sequence[str],
    blob_col: str,
    probe_col: str,
    out_field: StructField,
    probe: Callable,
    default,
    strategy: str = "broadcast",
) -> DataFrame:
    """``facts`` plus column ``out_field``: each row's answer from the
    ``blob_col`` sketch of its ``keys`` group in ``sketches`` (one row
    per canonical group). ``probe(blobs, sketch, values)`` takes the
    distinct blobs it needs, each row's index into them and the rows'
    ``probe_col`` values, and returns one answer per row."""
    if strategy not in ("broadcast", "cogroup"):
        raise ValueError("strategy must be 'broadcast' or 'cogroup'")
    key_cols = list(keys)
    if strategy == "cogroup" and key_cols:
        return _cogroup(facts, sketches, key_cols, blob_col, probe_col,
                        out_field, probe, default)
    return _broadcast(facts, sketches, key_cols, blob_col, probe_col,
                      out_field, probe, default)


def _broadcast(facts, sketches, key_cols, blob_col, probe_col, out_field,
               probe, default):
    blob_of = {
        _canon_key_tuple(r[:-1]): bytes(r[-1])
        for r in sketches.select(*key_cols, blob_col).collect()
    }
    bc = facts.sparkSession.sparkContext.broadcast(blob_of)

    @F.pandas_udf(out_field.dataType)
    def _probe(*cols: pd.Series) -> pd.Series:
        values = cols[-1].to_numpy()
        codes, groups = key_codes(cols[:-1], len(values))
        return pd.Series(
            _answer(bc.value, codes, groups, values, probe, default)
        )

    return facts.withColumn(out_field.name, _probe(*key_cols, probe_col))


def _cogroup(facts, sketches, key_cols, blob_col, probe_col, out_field,
             probe, default):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    hidden = [f"__probe_key{i}" for i in range(len(key_cols))]

    def canon(df):
        return [canon_key_col(df, k).alias(h)
                for k, h in zip(key_cols, hidden)]

    out_type = to_arrow_type(out_field.dataType)

    def attach(fact_tbl: "pa.Table", sketch_tbl: "pa.Table") -> "pa.Table":
        blob_of = (
            {(): bytes(sketch_tbl.column(blob_col)[0].as_py())}
            if sketch_tbl.num_rows else {}
        )
        values = fact_tbl.column(probe_col).to_pandas().to_numpy()
        out = _answer(blob_of, np.zeros(len(values), dtype=np.int64), [()],
                      values, probe, default)
        return fact_tbl.drop_columns(hidden).append_column(
            out_field.name, pa.array(out, type=out_type, from_pandas=True)
        )

    return (
        facts.select("*", *canon(facts)).groupBy(*hidden)
        .cogroup(sketches.select(*canon(sketches), blob_col)
                 .groupBy(*hidden))
        .applyInArrow(
            attach, schema=StructType(facts.schema.fields + [out_field])
        )
    )
