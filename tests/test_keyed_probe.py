"""Keyed sketch probes (``operators.probe``): ``with_group_cdf`` and
``cms_topk`` answer every row from its group's sketch, and the
``'broadcast'`` and ``'cogroup'`` strategies must agree row for row on
the key shapes where float group identity is subtle — NaN and NULL are
one canonical group, -0.0 and 0.0 are one group — while every fact
column, keys included, comes back exactly as it went in."""

import math
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pytest

from gr_tdigest_spark.operators.probe import key_codes
from gr_tdigest_spark.sketches.tdigest import TDigest

NAN = float("nan")

# key shape → (schema of the key columns, key tuple per row); the
# value columns are appended by each operator's frame builder
_KEY_SHAPES = {
    "nan": ("g double", [(1.0,), (NAN,), (2.0,), (NAN,)]),
    "null": ("g double", [(1.0,), (None,), (2.0,), (None,)]),
    "nan_null": ("g double", [(1.0,), (NAN,), (None,), (NAN,)]),
    "signed_zero": ("g double", [(-0.0,), (0.0,), (1.0,), (-0.0,)]),
    "two_keys_null": (
        "g string, h long",
        [("a", 1), (None, 1), ("a", None), (None, 1)],
    ),
}
_N_ROWS = 36


def _canon(v):
    """The canonical group identity of one key scalar."""
    if isinstance(v, float):
        return None if math.isnan(v) else v + 0.0
    return v


def _exact(v):
    """Hashable, bit-faithful stand-in for one output value: NaN equals
    NaN, and -0.0 stays distinct from 0.0."""
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else (v, math.copysign(1.0, v))
    return v


def _rows(df):
    return sorted(
        (tuple(_exact(v) for v in r) for r in df.collect()), key=repr
    )


def _key_rows(shape):
    schema, pattern = _KEY_SHAPES[shape]
    return schema, [pattern[i % len(pattern)] for i in range(_N_ROWS)]


def _cdf_case(spark, shape):
    from gr_tdigest_spark.operators.window import with_group_cdf

    schema, keys = _key_rows(shape)
    rows = [k + (float((i * 7) % 23),) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, f"{schema}, x double")
    key_cols = [f.name for f in df.schema.fields[:-1]]
    groups = defaultdict(list)
    for r in rows:
        groups[tuple(_canon(v) for v in r[:-1])].append(r[-1])
    digests = {g: TDigest.from_values(v) for g, v in groups.items()}
    expected = [
        r + (float(digests[tuple(_canon(v) for v in r[:-1])].cdf(
            [r[-1]])[0]),)
        for r in rows
    ]

    def run(strategy):
        return with_group_cdf(df, key_cols, "x", strategy=strategy)

    return run, [tuple(_exact(v) for v in r) for r in expected]


def _topk_case(spark, shape):
    from gr_tdigest_spark.operators.companions import cms_topk

    schema, keys = _key_rows(shape)
    # v4 dominates every group; ties below it break by value, as in
    # cms_topk's rank
    rows = [k + (f"v{min(i % 9, 4)}",) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, f"{schema}, v string")
    key_cols = [f.name for f in df.schema.fields[:-1]]
    counts = defaultdict(Counter)
    for r in rows:
        counts[tuple(_canon(v) for v in r[:-1])][r[-1]] += 1
    expected = []
    for g, c in counts.items():
        top = sorted(c.items(), key=lambda t: (-t[1], t[0]))[:2]
        expected.extend(g + (v, n) for v, n in top)

    def run(strategy):
        return cms_topk(df, key_cols, "v", k=2, m=8, width=1 << 14,
                        strategy=strategy)

    return run, [tuple(_exact(v) for v in r) for r in expected]


@pytest.mark.parametrize("shape", sorted(_KEY_SHAPES))
@pytest.mark.parametrize("case", [_cdf_case, _topk_case],
                         ids=["with_group_cdf", "cms_topk"])
def test_strategies_agree_on_float_keys(spark, case, shape):
    run, expected = case(spark, shape)
    broadcast = _rows(run("broadcast"))
    assert broadcast == sorted(expected, key=repr)
    assert _rows(run("cogroup")) == broadcast


def test_unknown_strategy_raises(spark):
    from gr_tdigest_spark.operators.window import with_group_cdf

    df = spark.createDataFrame([(1.0, 2.0)], "g double, x double")
    with pytest.raises(ValueError, match="strategy"):
        with_group_cdf(df, ["g"], "x", strategy="auto")


class TestKeyCodes:
    def test_canonical_groups(self):
        codes, groups = key_codes(
            [pd.Series([0.0, -0.0, NAN, None, 1.0])], 5
        )
        assert groups == [(0.0,), (None,), (1.0,)]
        np.testing.assert_array_equal(codes, [0, 0, 1, 1, 2])
        assert codes.dtype == np.int64

    def test_multi_column(self):
        codes, groups = key_codes(
            [pd.Series(["a", None, "a"]), pd.Series([1.0, NAN, 1.0])], 3
        )
        assert groups == [("a", 1.0), (None, None)]
        np.testing.assert_array_equal(codes, [0, 1, 0])

    def test_keyless(self):
        codes, groups = key_codes([], 4)
        assert groups == [()]
        np.testing.assert_array_equal(codes, np.zeros(4))
