"""Cross-surface contract coherence (reference
integration/api_coherence/: every surface must agree on the canonical
pins and error contracts).

Surfaces: (1) kernel class, (2) Spark two-phase aggregate, (3) TDIG
wire round-trip, (4) spark.sql registered UDFs, (5) struct codec.
Canonical dataset [0,1,2,3] pins: Q50=1.5, CDF(2.0)=0.625
(conftest.py:19-24)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

import gr_tdigest_spark.functions as Fn
from gr_tdigest_spark.operators import tdigest_agg
from gr_tdigest_spark.sketches import wire as td_wire
from gr_tdigest_spark.sketches.tdigest import TDigest

DATA = [0.0, 1.0, 2.0, 3.0]
PIN_Q50 = 1.5
PIN_CDF2 = 0.625


@pytest.fixture(scope="module")
def spark_digest(spark):
    pdf = spark.createDataFrame([(x,) for x in DATA], "x double")
    dg = tdigest_agg(pdf, None, "x", max_size=10)
    return dg


class TestCanonicalPinsAcrossSurfaces:
    def test_kernel(self):
        td = TDigest.from_values(DATA, max_size=10)
        assert td.quantile(0.5) == PIN_Q50
        assert td.cdf([2.0])[0] == PIN_CDF2

    def test_spark_aggregate(self, spark_digest):
        row = spark_digest.select(
            Fn.tdigest_quantile("tdigest", 0.5).alias("q"),
            Fn.tdigest_cdf("tdigest", 2.0).alias("c"),
        ).collect()[0]
        assert row["q"] == PIN_Q50
        assert row["c"] == PIN_CDF2

    def test_wire_roundtrip_all_versions(self, spark_digest):
        blob = bytes(spark_digest.collect()[0]["tdigest"])
        for v in (1, 2, 3):
            td = td_wire.decode(td_wire.encode(td_wire.decode(blob), v))
            assert td.quantile(0.5) == PIN_Q50
            assert td.cdf([2.0])[0] == PIN_CDF2

    def test_sql_surface(self, spark, spark_digest):
        Fn.register_sql(spark)
        spark_digest.createOrReplaceTempView("cs_digest")
        row = spark.sql(
            "SELECT tdigest_quantile(tdigest, 0.5) q, "
            "tdigest_cdf(tdigest, 2.0) c FROM cs_digest"
        ).collect()[0]
        assert row["q"] == PIN_Q50
        assert row["c"] == PIN_CDF2

    def test_struct_codec_surface(self, spark_digest):
        rt = spark_digest.select(
            Fn.tdigest_from_struct(
                Fn.tdigest_to_struct("tdigest")
            ).alias("tdigest")
        )
        row = rt.select(
            Fn.tdigest_quantile("tdigest", 0.5).alias("q")
        ).collect()[0]
        assert row["q"] == PIN_Q50

    def test_kernel_vector_cdf_pin(self):
        td = TDigest.from_values(DATA, max_size=10)
        np.testing.assert_array_equal(
            td.cdf([0.0, 1.5, 3.0]), [0.125, 0.5, 0.875]
        )


class TestErrorContractsAcrossSurfaces:
    """test_contract_probe_validation.py analogue."""

    def test_quantile_probe_validation_kernel_vs_function(self):
        td = TDigest.from_values(DATA)
        # core clamps finite q (quantile.rs:61); the strict frontend and
        # every public surface reject out-of-range/non-finite
        assert td.quantile(2.0) == td.max  # kernel-level clamp
        for bad in (-0.1, 1.5, math.inf, math.nan):
            with pytest.raises(ValueError):
                Fn.tdigest_quantile(F.col("c"), bad)

    def test_trimmed_bounds_strict(self):
        for lo, hi in [(0.9, 0.1), (-0.1, 0.5), (0.0, math.nan)]:
            with pytest.raises(ValueError):
                Fn.tdigest_trimmed_mean(F.col("c"), lo, hi)

    def test_empty_digest_queries(self, spark):
        dg = spark.range(1).select(
            Fn.empty_tdigest(max_size=10).alias("tdigest")
        )
        row = dg.select(
            Fn.tdigest_quantile("tdigest", 0.5).alias("q"),
            Fn.tdigest_cdf("tdigest", 1.0).alias("c"),
            Fn.tdigest_median("tdigest").alias("m"),
        ).collect()[0]
        assert row["q"] is None
        # kernel yields NaN (reference tdigest.rs:349-360); pandas NaN
        # crosses the Arrow boundary as SQL NULL — the Spark-idiomatic
        # missing value
        assert row["c"] is None or math.isnan(row["c"])
        assert row["m"] is None

    def test_null_blob_errors(self, spark):
        dg = spark.range(1).select(F.lit(None).cast("binary").alias("b"))
        with pytest.raises(Exception, match="null TDIG blob"):
            dg.select(Fn.tdigest_quantile("b", 0.5)).collect()

    @pytest.mark.parametrize("blob,message", [
        (None, "null TDIG blob"),
        (b"TDIG\x03" + bytes(20), "buffer too small"),  # truncated v3
    ], ids=["null", "short_v3"])
    def test_header_stat_errors(self, spark, blob, message):
        """Every header-only stat raises the same error: a NULL blob
        (not TypeError), a truncated v3 header (not struct.error)."""
        dg = spark.createDataFrame([(blob,)], "b binary")
        for fn in (Fn.tdigest_count, Fn.tdigest_sum, Fn.tdigest_min,
                   Fn.tdigest_max, Fn.tdigest_mean, Fn.tdigest_n_centroids,
                   Fn.tdigest_wire_precision):
            with pytest.raises(Exception, match=message) as err:
                dg.select(fn("b")).collect()
            assert "TypeError" not in str(err.value)
            assert "struct.error" not in str(err.value)

    def test_empty_bytes_blob_errors(self, spark):
        dg = spark.range(1).select(F.lit(b"").alias("b"))
        with pytest.raises(Exception, match="TDIG"):
            dg.select(Fn.tdigest_quantile("b", 0.5)).collect()

    def test_mixed_precision_merge_errors(self, spark):
        pdf = spark.createDataFrame([("A", 1.0), ("A", 2.0)], "g string, x double")
        d64 = tdigest_agg(pdf, ["g"], "x", max_size=100, precision="f64")
        d32 = tdigest_agg(pdf, ["g"], "x", max_size=100, precision="f32")
        with pytest.raises(Exception, match="precision"):
            d64.union(d32).groupBy("g").agg(
                Fn.merge_tdigests("tdigest").alias("m")
            ).collect()

    def test_infer_column_precision(self, spark):
        pdf = spark.createDataFrame([("A", 1.0)], "g string, x double")
        d32 = tdigest_agg(pdf, ["g"], "x", max_size=100, precision="f32")
        assert Fn.infer_column_precision(d32, "tdigest") == "f32"
        d64 = tdigest_agg(pdf, ["g"], "x", max_size=100)
        mixed = d32.union(d64)
        with pytest.raises(ValueError, match="Mixed"):
            Fn.infer_column_precision(mixed, "tdigest")
        assert Fn.infer_column_precision(mixed, "tdigest", strict=False) == "f64"


class TestArgumentMatrix:
    """scale × policy × precision matrix (test_contract_behavior.py
    argument matrix): every combination builds and answers coherently
    between kernel and Spark."""

    @pytest.mark.parametrize("scale", ["quad", "k1", "k2", "k3"])
    @pytest.mark.parametrize("policy", ["off", "use"])
    def test_matrix(self, spark, scale, policy):
        rng = np.random.default_rng(13)
        vals = np.round(rng.uniform(0, 100, 500), 2)
        kernel = TDigest.from_values(
            vals, max_size=50, scale=scale, policy=policy
        )
        pdf = spark.createDataFrame([(float(v),) for v in vals], "x double")
        dg = tdigest_agg(pdf, None, "x", max_size=50, scale=scale,
                         policy=policy)
        got = dg.select(
            Fn.tdigest_quantile("tdigest", 0.5).alias("q"),
            Fn.tdigest_count("tdigest").alias("n"),
        ).collect()[0]
        assert got["n"] == kernel.count
        # single-partition createDataFrame may still split; allow fp-level
        # difference from shard-order effects
        assert got["q"] == pytest.approx(kernel.quantile(0.5), rel=1e-2)


class TestCompanionSQLSurface:
    def test_all_registered_names_run_in_sql(self, spark, sf_dir):
        """Every register_companion_sql name executes in a SQL string
        and agrees with the Python surface."""
        import numpy as np
        from pyspark.sql import functions as F
        from gr_tdigest_spark.operators.companions import (
            bloom_agg, cms_agg, hll_agg, kll_agg, minhash_agg,
            register_companion_sql,
        )
        from gr_tdigest_spark.sketches.hll import HLL

        register_companion_sql(spark)
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        hll_agg(li, ["l_returnflag"], "l_orderkey", p=12) \
            .createOrReplaceTempView("t_hll")
        cms_agg(li, None, "l_returnflag").createOrReplaceTempView("t_cms")
        bloom_agg(li, None, "l_returnflag", m_bits=1 << 14) \
            .createOrReplaceTempView("t_bloom")
        kll_agg(li, None, "l_extendedprice").createOrReplaceTempView("t_kll")
        minhash_agg(li, ["l_returnflag"], "l_orderkey", k=64) \
            .createOrReplaceTempView("t_mh")

        # merge + estimate round-trip equals python-side estimate
        est = spark.sql(
            "SELECT hll_estimate(hll_merge(hll)) AS e FROM t_hll"
        ).collect()[0]["e"]
        whole = HLL(p=12)
        pdf = li.select("l_orderkey").toPandas()
        whole.add(pdf["l_orderkey"].to_numpy())
        assert est == whole.estimate()

        ship = li.select("l_returnflag").first()["l_returnflag"]
        row = spark.sql(
            f"SELECT cms_estimate(cms, '{ship}') AS c, "
            f"bloom_contains(bloom, '{ship}') AS b "
            "FROM t_cms CROSS JOIN t_bloom"
        ).collect()[0]
        exact = li.where(F.col("l_returnflag") == ship).count()
        assert row["b"] is True and row["c"] >= exact > 0

        q = spark.sql(
            "SELECT kll_quantile(kll, 0.5) AS q FROM t_kll"
        ).collect()[0]["q"]
        assert q == float(np.float64(q)) and q > 0

        jrow = spark.sql(
            "SELECT minhash_jaccard(a.minhash, b.minhash) AS j, "
            "hll_intersect(ha.hll, hb.hll) AS ix "
            "FROM t_mh a, t_mh b, t_hll ha, t_hll hb "
            "WHERE a.l_returnflag='A' AND b.l_returnflag='A' "
            "AND ha.l_returnflag='A' AND hb.l_returnflag='A'"
        ).collect()[0]
        assert jrow["j"] == 1.0  # identical signatures
        assert jrow["ix"] >= 0.0

        ip = spark.sql(
            "SELECT cms_inner_product(a.cms, b.cms) AS ip "
            "FROM t_cms a, t_cms b"
        ).collect()[0]["ip"]
        assert ip > 0

        from gr_tdigest_spark.operators.companions import bottomk_agg

        bottomk_agg(li, ["l_returnflag"], "l_orderkey", k=16) \
            .createOrReplaceTempView("t_bk")
        bk = spark.sql(
            "SELECT l_returnflag, "
            "bottomk_distinct(bottomk_merge(bottomk)) AS d, "
            "size(bottomk_sample(bottomk_merge(bottomk))) AS s "
            "FROM t_bk GROUP BY l_returnflag"
        ).collect()
        assert len(bk) == 3
        for r in bk:
            assert r["s"] == 16 and r["d"] >= 16.0


# (Python surface, SQL surface or None, answer on a NULL blob): one row
# per companion query; every name registered by register_companion_sql
# appears in its SQL form
_NULL_BLOB_QUERIES = {
    "hll_estimate": (lambda C, b: C.hll_estimate(b),
                     "hll_estimate(b)", None),
    "kll_quantile": (lambda C, b: C.kll_quantile(b, 0.5),
                     "kll_quantile(b, 0.5)", None),
    "kll_rank": (lambda C, b: C.kll_rank(b, 1.0), None, None),
    "kll_count": (lambda C, b: C.kll_count(b), None, None),
    "cms_estimate": (lambda C, b: C.cms_estimate(b, ["a"]), None, None),
    "cms_estimate_col": (lambda C, b: C.cms_estimate_col(b, F.lit("a")),
                         "cms_estimate(b, 'a')", 0),
    "bloom_contains": (lambda C, b: C.bloom_contains(b, F.lit("a")),
                       "bloom_contains(b, 'a')", False),
    "bottomk_distinct": (lambda C, b: C.bottomk_distinct(b),
                         "bottomk_distinct(b)", None),
    "bottomk_sample": (lambda C, b: C.bottomk_sample(b),
                       "bottomk_sample(b)", None),
    "minhash_jaccard": (lambda C, b: C.minhash_jaccard(b, b),
                        "minhash_jaccard(b, b)", None),
    "hll_intersect": (lambda C, b: C.hll_intersect_estimate(b, b),
                      "hll_intersect(b, b)", None),
    "cms_inner_product": (lambda C, b: C.cms_inner_product(b, b),
                          "cms_inner_product(b, b)", None),
    "minhash_hll_intersect": (
        lambda C, b: C.minhash_hll_intersect_estimate(b, b, b, b),
        None, None),
    **{
        f"{kind}_merge": (
            lambda C, b, spec=spec: C.merge_sketches(b, getattr(C, spec)()),
            f"{kind}_merge(b)", None,
        )
        for kind, spec in [
            ("hll", "HLLSpec"), ("cms", "CMSSpec"), ("bloom", "BloomSpec"),
            ("minhash", "MinHashSpec"), ("kll", "KLLSpec"),
            ("bottomk", "BottomKSpec"),
        ]
    },
}


class TestCompanionNullBlobs:
    """A NULL sketch blob answers NULL on both surfaces — except the
    documented membership / per-row count probes (bloom_contains →
    false, cms_estimate_col → 0) — never a TypeError."""

    @pytest.mark.parametrize("query", sorted(_NULL_BLOB_QUERIES))
    def test_null_blob(self, spark, query):
        from gr_tdigest_spark.operators import companions as C

        python_expr, sql_expr, answer = _NULL_BLOB_QUERIES[query]
        df = spark.createDataFrame([(None,)], "b binary")
        assert df.select(python_expr(C, F.col("b"))).collect()[0][0] == answer
        if sql_expr is not None:
            C.register_companion_sql(spark)
            df.createOrReplaceTempView("null_blobs")
            got = spark.sql(f"SELECT {sql_expr} FROM null_blobs").collect()
            assert got[0][0] == answer
