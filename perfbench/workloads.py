"""The four benchmark workloads.

Each workload owns its inputs (``setup``), the exact references its
answer checks need (``prepare_checks``), the timed operations
(``ops``), and the pieces the traced run replays without Spark
(``kernel_input``) or through an identity Arrow stage
(``identity_input``).

Every operation builds its DataFrame fresh, calls the library through
``tr.call`` (one span per public function), collects the full answer
through ``tr.action`` and checks it against the exact reference before
the next operation starts (a closed loop with one client).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Dict, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import gr_tdigest_spark.functions as Fn
from gr_tdigest_spark.operators import tdigest_agg
from gr_tdigest_spark.operators.companions import (
    HLLSpec, KLLSpec, cms_agg, cms_estimate, cms_topk, hll_agg,
    hll_estimate, kll_agg, kll_quantile,
)
from gr_tdigest_spark.operators.contamination import contamination_scores
from gr_tdigest_spark.operators.dedup import dedup_exact, dedup_lines
from gr_tdigest_spark.operators.pack import pack_sequences
from gr_tdigest_spark.operators.rollup import merge_sketch_tables
from gr_tdigest_spark.operators.window import (
    filter_by_group_quantile, with_group_cdf,
)
from gr_tdigest_spark.sketches import wire as td_wire
from gr_tdigest_spark.sketches.hll import HLL
from gr_tdigest_spark.sources import transcripts as tx

from perfbench.checks import (
    HLL_P, KLL_K, KLL_RANK_BOUND, TDIGEST_RANK_BOUND, GroupedValues,
    cdf_errors, check_bound, check_cms, check_hll, quantile_errors, require,
)


@dataclass
class OpResult:
    rows: int
    rank_err: Optional[float] = None
    count_err: Optional[float] = None


@dataclass
class Op:
    name: str
    fn: Callable  # fn(tracer) -> OpResult


@dataclass
class KernelInput:
    """A workload's own input as pandas, for the Spark-free replay.

    ``builds`` maps a sketch kind to (frame, key columns, value column);
    ``parts`` is the partition count of the Spark stage that builds the
    partials, so replay throughput lines up with that stage."""

    builds: Dict[str, tuple]
    parts: int
    by_key: bool = False
    td_max_size: int = 1000


def _probe_grid(seed: int, k: int = 7) -> List[float]:
    rng = np.random.default_rng([seed, 7])
    return [round(float(q), 4) for q in np.sort(rng.uniform(0.01, 0.99, k))]


class Workload:
    name = ""
    # untimed cycles of every operation before the clock starts; the
    # first pays Python worker start-up, code generation and memoized
    # plan probes
    WARMUP_CYCLES = 1

    def __init__(self, spark, paths: Dict[str, str], seed: int):
        self.spark = spark
        self.paths = paths
        self.seed = seed
        self.qs = _probe_grid(seed)
        self.parallelism = spark.sparkContext.defaultParallelism

    def read(self, name: str):
        return self.spark.read.parquet(self.paths[name])

    @staticmethod
    def _persist(df):
        df = df.persist()
        df.count()
        return df

    def setup(self) -> None:
        """Load or generate and persist the inputs (timed by the caller
        as ``sources.input_s``)."""

    def prepare_checks(self) -> None:
        raise NotImplementedError

    def ops(self) -> List[Op]:
        raise NotImplementedError

    def kernel_input(self) -> KernelInput:
        raise NotImplementedError

    def identity_input(self):
        raise NotImplementedError


# --------------------------------------------------------------------- #
# build_transcripts
# --------------------------------------------------------------------- #

class BuildTranscripts(Workload):
    """Few groups, many rows: per-role and global sketches over seeded
    transcript turns, projected to the sketched columns and persisted."""

    name = "build_transcripts"
    # exact turn count: the seed moves conversation sizes a lot (Zipf),
    # so the stream is cut at a fixed number of turns and every seed
    # feeds the same number of rows
    TURNS = 60_000

    def _n_convs_and_cut(self):
        # the generator's own size law (sources.transcripts), so the
        # conversation count that yields TURNS is known before generating
        sizes = tx._conv_sizes(np.random.default_rng([self.seed, 0]),
                               self.TURNS)
        cum = np.cumsum(sizes)
        n = int(np.searchsorted(cum, self.TURNS) + 1)
        keep_last = int(self.TURNS - (cum[n - 2] if n > 1 else 0))
        return n, keep_last

    def setup(self) -> None:
        n, keep_last = self._n_convs_and_cut()
        last = f"conv-{n - 1:08d}"
        t = tx.transcripts_df(self.spark, n_convs=n, seed=self.seed)
        t = t.where((F.col("conv_id") != last)
                    | (F.col("turn_idx") < keep_last))
        self.turns = self._persist(t.select(
            "conv_id", "role", "tool", F.length("text").alias("len")))

    def prepare_checks(self) -> None:
        pdf = self.turns.toPandas()
        require(len(pdf) == self.TURNS, f"turns {len(pdf)} != {self.TURNS}")
        self.pdf = pdf
        self.len_ref = GroupedValues.build(pdf["role"].astype(str),
                                           pdf["len"].to_numpy())
        self.distinct_convs = pdf.groupby("role")["conv_id"].nunique()
        tools = pdf["tool"].dropna().astype(str)
        self.tool_counts = tools.value_counts()
        self.n_tool_rows = int(len(tools))

    def _quantile_op(self, pre_aggregate: bool):
        def run(tr):
            d = tr.call("operators.agg.tdigest_agg", tdigest_agg, self.turns,
                        ["role"], "len", max_size=1000,
                        pre_aggregate=pre_aggregate)
            qcol = tr.call("functions.tdigest_quantiles",
                           Fn.tdigest_quantiles, "tdigest", self.qs)
            ans = tr.action("toPandas", lambda: d.select(
                "role", qcol.alias("q")).toPandas())
            require(len(ans) == len(self.distinct_convs), "missing roles")
            errs = quantile_errors(self.len_ref, ans["role"], ans["q"],
                                   self.qs)
            return OpResult(self.TURNS, rank_err=check_bound(
                errs, TDIGEST_RANK_BOUND, "tdigest rank error"))
        return run

    def _kll(self, tr):
        d = tr.call("operators.companions.kll_agg", kll_agg, self.turns,
                    ["role"], "len", k=KLL_K)
        cols = [tr.call("operators.companions.kll_quantile", kll_quantile,
                        "kll", q).alias(f"q{i}")
                for i, q in enumerate(self.qs)]
        ans = tr.action("toPandas", lambda: d.select("role", *cols)
                        .toPandas())
        require(len(ans) == len(self.distinct_convs), "missing roles")
        est = ans[[f"q{i}" for i in range(len(self.qs))]].to_numpy()
        errs = quantile_errors(self.len_ref, ans["role"], list(est), self.qs)
        return OpResult(self.TURNS, rank_err=check_bound(
            errs, KLL_RANK_BOUND, "kll rank error"))

    def _hll(self, tr):
        d = tr.call("operators.companions.hll_agg", hll_agg, self.turns,
                    ["role"], "conv_id", p=HLL_P)
        est = tr.call("operators.companions.hll_estimate", hll_estimate,
                      "hll")
        ans = tr.action("toPandas", lambda: d.select(
            "role", est.alias("est")).toPandas())
        exact = self.distinct_convs.reindex(ans["role"]).to_numpy()
        return OpResult(self.TURNS, count_err=check_hll(ans["est"], exact))

    def _cms(self, tr):
        d = tr.call("operators.companions.cms_agg", cms_agg, self.turns,
                    None, "tool")
        names = list(self.tool_counts.index)
        est = tr.call("operators.companions.cms_estimate", cms_estimate,
                      "cms", names)
        ans = tr.action("collect", lambda: d.select(est.alias("e"))
                        .collect())
        require(len(ans) == 1, "one global sketch")
        return OpResult(self.TURNS, count_err=check_cms(
            ans[0]["e"], self.tool_counts.to_numpy(), 8192,
            self.n_tool_rows))

    def ops(self) -> List[Op]:
        return [
            Op("tdigest_agg", self._quantile_op(False)),
            Op("tdigest_agg_pre", self._quantile_op(True)),
            Op("kll_agg", self._kll),
            Op("hll_agg", self._hll),
            Op("cms_agg", self._cms),
        ]

    def kernel_input(self) -> KernelInput:
        p = self.pdf
        return KernelInput({
            "tdigest": (p, ["role"], "len"),
            "kll": (p, ["role"], "len"),
            "hll": (p, ["role"], "conv_id"),
            "cms": (p, [], "tool"),
            "bloom": (p, [], "conv_id"),
        }, parts=self.turns.rdd.getNumPartitions())

    def identity_input(self):
        return self.turns.select("role", "len")


# --------------------------------------------------------------------- #
# build_highkey
# --------------------------------------------------------------------- #

class BuildHighkey(Workload):
    """~150 k groups from one-partition scans: per-group overhead, the
    agg gate, raw-row and blob shuffle, wire encoding."""

    name = "build_highkey"
    CHECK_GROUPS = 2000

    def setup(self) -> None:
        # the inputs are the fixture files themselves; every operation
        # reads them afresh (one scan partition each)
        self.n_li = self.read("lineitem").count()
        self.n_ev = self.read("events").count()

    def prepare_checks(self) -> None:
        li = pd.read_parquet(self.paths["lineitem"], columns=[
            "l_orderkey", "l_partkey", "l_returnflag", "l_linestatus",
            "l_extendedprice"])
        ev = pd.read_parquet(self.paths["events"],
                             columns=["event_type", "user_id"])
        self.li, self.ev = li, ev
        price = li["l_extendedprice"].to_numpy()
        self.by_order = GroupedValues.build(li["l_orderkey"], price)
        self.flag_key = li["l_returnflag"] + "|" + li["l_linestatus"]
        self.by_flag = GroupedValues.build(self.flag_key, price)
        self.parts_per_order = li.groupby("l_orderkey")["l_partkey"].nunique()
        self.by_part = GroupedValues.build(li["l_partkey"], price)
        rng = np.random.default_rng([self.seed, 8])
        self.probe = round(float(np.quantile(price, rng.uniform(0.05, 0.95))),
                           2)
        counts = ev.groupby(["event_type", "user_id"]).size()
        self.user_counts = counts
        self.ev_per_type = ev.groupby("event_type").size()

    def _sample(self, n: int) -> np.ndarray:
        """Seeded rows of the HLL answer whose blobs the check decodes
        (every row is collected; decoding all 150 k in the driver would
        dwarf the operation)."""
        rng = np.random.default_rng([self.seed, 9])
        return np.sort(rng.choice(n, size=min(n, self.CHECK_GROUPS),
                                  replace=False))

    def _td_orderkey(self, tr):
        d = tr.call("operators.agg.tdigest_agg", tdigest_agg,
                    self.read("lineitem"), ["l_orderkey"],
                    "l_extendedprice", max_size=100)
        ans = tr.action("toPandas", lambda: d.toPandas())
        require(len(ans) == len(self.parts_per_order)
                and ans["l_orderkey"].is_unique, "one digest per group")
        pick = ans.iloc[self._sample(len(ans))]
        est = [td_wire.decode(bytes(b)).quantile(np.asarray(self.qs))
               for b in pick["tdigest"]]
        errs = quantile_errors(self.by_order, pick["l_orderkey"], est,
                               self.qs)
        return OpResult(self.n_li, rank_err=check_bound(
            errs, TDIGEST_RANK_BOUND, "tdigest rank error"))

    def _td_query_partkey(self, tr):
        # the read side: every one of the 20 k digests is decoded and
        # queried inside Spark (quantiles and a CDF probe), and every
        # answer is collected and checked
        d = tr.call("operators.agg.tdigest_agg", tdigest_agg,
                    self.read("lineitem"), ["l_partkey"],
                    "l_extendedprice", max_size=100)
        qcol = tr.call("functions.tdigest_quantiles", Fn.tdigest_quantiles,
                       "tdigest", self.qs)
        ccol = tr.call("functions.tdigest_cdf", Fn.tdigest_cdf, "tdigest",
                       self.probe)
        ans = tr.action("toPandas", lambda: d.select(
            "l_partkey", qcol.alias("q"), ccol.alias("c")).toPandas())
        require(len(ans) == len(self.by_part.codes)
                and ans["l_partkey"].is_unique, "one digest per part")
        errs = np.concatenate([
            quantile_errors(self.by_part, ans["l_partkey"], ans["q"],
                            self.qs),
            cdf_errors(self.by_part, ans["l_partkey"],
                       np.full(len(ans), self.probe), ans["c"])])
        return OpResult(self.n_li, rank_err=check_bound(
            errs, TDIGEST_RANK_BOUND, "tdigest query rank error"))

    def _hll_orderkey(self, tr):
        d = tr.call("operators.companions.hll_agg", hll_agg,
                    self.read("lineitem"), ["l_orderkey"], "l_partkey",
                    p=HLL_P)
        ans = tr.action("toPandas", lambda: d.toPandas())
        require(len(ans) == len(self.parts_per_order)
                and ans["l_orderkey"].is_unique, "one sketch per group")
        pick = ans.iloc[self._sample(len(ans))]
        est = [HLL.from_bytes(bytes(b)).estimate() for b in pick["hll"]]
        exact = self.parts_per_order.reindex(pick["l_orderkey"]).to_numpy()
        return OpResult(self.n_li, count_err=check_hll(est, exact))

    def _td_flags(self, tr):
        d = tr.call("operators.agg.tdigest_agg", tdigest_agg,
                    self.read("lineitem"), ["l_returnflag", "l_linestatus"],
                    "l_extendedprice", max_size=1000)
        qcol = tr.call("functions.tdigest_quantiles", Fn.tdigest_quantiles,
                       "tdigest", self.qs)
        ans = tr.action("toPandas", lambda: d.select(
            "l_returnflag", "l_linestatus", qcol.alias("q")).toPandas())
        require(len(ans) == 6, "six flag groups")
        keys = ans["l_returnflag"] + "|" + ans["l_linestatus"]
        errs = quantile_errors(self.by_flag, keys, ans["q"], self.qs)
        return OpResult(self.n_li, rank_err=check_bound(
            errs, TDIGEST_RANK_BOUND, "tdigest rank error"))

    def _topk(self, tr):
        k, width = 5, 1 << 16
        d = tr.call("operators.companions.cms_topk", cms_topk,
                    self.read("events"), ["event_type"], "user_id", k=k,
                    m=512, width=width)
        ans = tr.action("toPandas", lambda: d.toPandas())
        require(len(ans) == k * len(self.ev_per_type), "top-k rows")
        exact = self.user_counts.reindex(
            list(zip(ans["event_type"], ans["user_id"]))).to_numpy()
        n_type = self.ev_per_type.reindex(ans["event_type"]).to_numpy()
        count_err = check_cms(ans["est_count"], exact, width, n_type)
        # the returned users are the true top-k up to ties and the
        # count-min over-count: the i-th largest true count among them is
        # at least the true i-th largest minus e/width * N (the users are
        # uniform, so ties are many)
        for et, grp in ans.groupby("event_type"):
            truth = np.sort(self.user_counts.loc[et].to_numpy())[::-1][:k]
            got = np.sort(self.user_counts.loc[et].reindex(
                grp["user_id"]).to_numpy())[::-1]
            slack = np.e / width * self.ev_per_type[et]
            require(bool((got >= truth - slack).all()), f"top-{k} of {et}")
        return OpResult(self.n_ev, count_err=count_err)

    def ops(self) -> List[Op]:
        return [
            Op("tdigest_agg_orderkey", self._td_orderkey),
            Op("tdigest_query_partkey", self._td_query_partkey),
            Op("hll_agg_orderkey", self._hll_orderkey),
            Op("tdigest_agg_flags", self._td_flags),
            Op("cms_topk_events", self._topk),
        ]

    def kernel_input(self) -> KernelInput:
        li, ev = self.li, self.ev
        li = li.assign(flag=self.flag_key)
        # one-row-group scans are rebalanced to ~1 MB per task, clamped
        # to [4, 2 x slots] (sketch_agg's rebalance gate); at 600 k rows
        # that is the clamp's upper end
        return KernelInput({
            "tdigest": (li, ["l_orderkey"], "l_extendedprice"),
            "kll": (li, ["flag"], "l_extendedprice"),
            "hll": (li, ["l_orderkey"], "l_partkey"),
            "cms": (ev, ["event_type"], "user_id"),
            "bloom": (li, [], "l_orderkey"),
        }, parts=2 * self.parallelism, by_key=True, td_max_size=100)

    def identity_input(self):
        return self.read("lineitem").select(
            "l_orderkey", "l_extendedprice").repartition(
                2 * self.parallelism, "l_orderkey")


# --------------------------------------------------------------------- #
# query_sketches
# --------------------------------------------------------------------- #

class QuerySketches(Workload):
    """The read side: query, roll up and join stored sketches."""

    name = "query_sketches"
    BUCKETS = 50

    def setup(self) -> None:
        li = self.read("lineitem")
        keys = ["l_partkey"]
        td = tdigest_agg(li, keys, "l_extendedprice", max_size=100)
        kll = kll_agg(li, keys, "l_extendedprice", k=KLL_K)
        hll = hll_agg(li, keys, "l_orderkey", p=HLL_P)
        table = td.join(kll, keys).join(hll, keys).withColumn(
            "bucket", F.col("l_partkey") % self.BUCKETS)
        self.table = self._persist(table)

    def prepare_checks(self) -> None:
        li = pd.read_parquet(self.paths["lineitem"], columns=[
            "l_partkey", "l_orderkey", "l_returnflag", "l_linestatus",
            "l_extendedprice"])
        self.li = li
        price = li["l_extendedprice"].to_numpy()
        self.n_li = len(li)
        self.by_part = GroupedValues.build(li["l_partkey"], price)
        bucket = li["l_partkey"] % self.BUCKETS
        self.by_bucket = GroupedValues.build(bucket, price)
        self.bucket_orders = li.assign(b=bucket).groupby("b")[
            "l_orderkey"].nunique()
        self.by_flag = GroupedValues.build(li["l_returnflag"], price)
        self.by_flag6 = GroupedValues.build(
            li["l_returnflag"] + "|" + li["l_linestatus"], price)
        self.flag_sizes = li.groupby("l_returnflag").size()
        self.n_groups = li["l_partkey"].nunique()
        rng = np.random.default_rng([self.seed, 8])
        self.probe = round(float(np.quantile(price, rng.uniform(0.05, 0.95))),
                           2)
        self.filter_q = round(float(rng.uniform(0.2, 0.8)), 4)

    def _stored(self):
        return self.table.select("l_partkey", "bucket", "tdigest", "kll",
                                 "hll")

    def _quantiles(self, tr):
        qcol = tr.call("functions.tdigest_quantiles", Fn.tdigest_quantiles,
                       "tdigest", self.qs)
        ans = tr.action("toPandas", lambda: self._stored().select(
            "l_partkey", qcol.alias("q")).toPandas())
        require(len(ans) == self.n_groups, "every digest answered")
        errs = quantile_errors(self.by_part, ans["l_partkey"], ans["q"],
                               self.qs)
        return OpResult(self.n_groups, rank_err=check_bound(
            errs, TDIGEST_RANK_BOUND, "tdigest rank error"))

    def _cdf(self, tr):
        ccol = tr.call("functions.tdigest_cdf", Fn.tdigest_cdf, "tdigest",
                       self.probe)
        ans = tr.action("toPandas", lambda: self._stored().select(
            "l_partkey", ccol.alias("c")).toPandas())
        require(len(ans) == self.n_groups, "every digest answered")
        errs = cdf_errors(self.by_part, ans["l_partkey"],
                          np.full(len(ans), self.probe), ans["c"])
        return OpResult(self.n_groups, rank_err=check_bound(
            errs, TDIGEST_RANK_BOUND, "tdigest cdf error"))

    def _median(self, tr):
        mcol = tr.call("functions.tdigest_median", Fn.tdigest_median,
                       "tdigest")
        ans = tr.action("toPandas", lambda: self._stored().select(
            "l_partkey", mcol.alias("m")).toPandas())
        require(len(ans) == self.n_groups, "every digest answered")
        errs = quantile_errors(self.by_part, ans["l_partkey"],
                               [[m] for m in ans["m"]], [0.5])
        return OpResult(self.n_groups, rank_err=check_bound(
            errs, TDIGEST_RANK_BOUND, "tdigest median error"))

    def _rollup_tdigest(self, tr):
        merged = tr.call("functions.merge_tdigests", Fn.merge_tdigests,
                         "tdigest")
        qcol = tr.call("functions.tdigest_quantiles", Fn.tdigest_quantiles,
                       "tdigest", self.qs)
        ans = tr.action("toPandas", lambda: self._stored().groupBy("bucket")
                        .agg(merged.alias("tdigest"))
                        .select("bucket", qcol.alias("q")).toPandas())
        require(len(ans) == self.BUCKETS, "every bucket answered")
        errs = quantile_errors(self.by_bucket, ans["bucket"], ans["q"],
                               self.qs)
        return OpResult(self.n_groups, rank_err=check_bound(
            errs, TDIGEST_RANK_BOUND, "rolled-up tdigest rank error"))

    def _rollup_kll_hll(self, tr):
        s = self._stored()
        kll = tr.call("operators.rollup.merge_sketch_tables",
                      merge_sketch_tables, [s.select("bucket", "kll")],
                      ["bucket"], "kll", KLLSpec(KLL_K))
        hll = tr.call("operators.rollup.merge_sketch_tables",
                      merge_sketch_tables, [s.select("bucket", "hll")],
                      ["bucket"], "hll", HLLSpec(HLL_P))
        cols = [tr.call("operators.companions.kll_quantile", kll_quantile,
                        "kll", q).alias(f"q{i}")
                for i, q in enumerate(self.qs)]
        est = tr.call("operators.companions.hll_estimate", hll_estimate,
                      "hll")
        ans = tr.action("toPandas", lambda: kll.join(hll, "bucket").select(
            "bucket", est.alias("est"), *cols).toPandas())
        require(len(ans) == self.BUCKETS, "every bucket answered")
        q = ans[[f"q{i}" for i in range(len(self.qs))]].to_numpy()
        rank = check_bound(quantile_errors(self.by_bucket, ans["bucket"],
                                           list(q), self.qs),
                           KLL_RANK_BOUND, "rolled-up kll rank error")
        exact = self.bucket_orders.reindex(ans["bucket"]).to_numpy()
        count = check_hll(ans["est"], exact)
        return OpResult(2 * self.n_groups, rank_err=rank, count_err=count)

    def _group_cdf(self, tr):
        # six groups: per fact row the broadcast path decodes one digest
        # per group and Arrow batch (with the 20 k part keys the same
        # call takes ~20 s at local[4] on a 4-vCPU VM)
        li = self.read("lineitem").select(
            F.concat_ws("|", "l_returnflag", "l_linestatus").alias("flag"),
            "l_extendedprice")
        out = tr.call("operators.window.with_group_cdf", with_group_cdf, li,
                      ["flag"], "l_extendedprice")
        ans = tr.action("toPandas", lambda: out.toPandas())
        require(len(ans) == self.n_li, "every fact row answered")
        errs = cdf_errors(self.by_flag6, ans["flag"],
                          ans["l_extendedprice"], ans["cdf"])
        return OpResult(self.n_li, rank_err=check_bound(
            errs, TDIGEST_RANK_BOUND, "group cdf error"))

    def _group_filter(self, tr):
        li = self.read("lineitem").select("l_returnflag", "l_extendedprice")
        out = tr.call("operators.window.filter_by_group_quantile",
                      filter_by_group_quantile, li, ["l_returnflag"],
                      "l_extendedprice", self.filter_q, keep="above")
        ans = tr.action("toPandas", lambda: out.groupBy("l_returnflag").agg(
            F.count("*").alias("kept"),
            F.min("l_extendedprice").alias("thr")).toPandas())
        require(len(ans) == len(self.flag_sizes), "every group kept rows")
        n = self.flag_sizes.reindex(ans["l_returnflag"]).to_numpy()
        # rows kept = rows >= threshold; the threshold is the group's
        # q-quantile, so the kept share is 1 - rank(threshold)
        errs = np.abs((n - ans["kept"].to_numpy()) / n - self.filter_q)
        lo, _ = self.by_flag.rank_interval(
            self.by_flag.group_index(ans["l_returnflag"]),
            ans["thr"].to_numpy())
        require(bool((np.abs(1 - ans["kept"].to_numpy() / n - lo)
                      < 1e-9).all()), "kept rows == rows >= threshold")
        return OpResult(self.n_li, rank_err=check_bound(
            errs, TDIGEST_RANK_BOUND, "group filter rank error"))

    def ops(self) -> List[Op]:
        return [
            Op("tdigest_quantiles", self._quantiles),
            Op("tdigest_cdf", self._cdf),
            Op("tdigest_median", self._median),
            Op("merge_tdigests", self._rollup_tdigest),
            Op("merge_sketch_tables", self._rollup_kll_hll),
            Op("with_group_cdf", self._group_cdf),
            Op("filter_by_group_quantile", self._group_filter),
        ]

    def kernel_input(self) -> KernelInput:
        li = self.li
        return KernelInput({
            "tdigest": (li, ["l_partkey"], "l_extendedprice"),
            "kll": (li, ["l_partkey"], "l_extendedprice"),
            "hll": (li, ["l_partkey"], "l_orderkey"),
            "cms": (li, ["l_returnflag"], "l_partkey"),
            "bloom": (li, [], "l_orderkey"),
        }, parts=self.table.rdd.getNumPartitions(), by_key=True,
            td_max_size=100)

    def identity_input(self):
        return self._stored().select("l_partkey", "tdigest")


# --------------------------------------------------------------------- #
# text_pipeline
# --------------------------------------------------------------------- #

_WS = re.compile(r"[ \t\n\r\f]+")
_PACK_TOKENS = 8192
_PACK_BUCKETS = 64


def _grams(text: str, n: int) -> set:
    toks = [t for t in _WS.split(text.lower()) if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


class TextPipeline(Workload):
    """Corpus operators: exact and line dedup, benchmark contamination
    (Bloom path) and sequence packing."""

    name = "text_pipeline"
    NGRAM = 8
    # measured: after one warm-up cycle the next cycle still runs 20-80%
    # slower per operation while the JIT settles; after two it does not
    WARMUP_CYCLES = 2

    def setup(self) -> None:
        # the fixture corpus is one row group; spread it once so the
        # shuffle-free bloom probe is not a single task (as a real,
        # file-split corpus would be)
        self.docs = self._persist(
            self.read("documents").repartition(self.parallelism))
        self.n_li = self.read("lineitem").count()

    def prepare_checks(self) -> None:
        docs = pd.read_parquet(self.paths["documents"])
        self.docs_pdf = docs
        # dedup_exact: smallest id per whitespace-normalised, lower-cased
        # text
        norm = docs["text"].map(lambda t: re.sub(r"\s+", " ", t)
                                .strip(" ").lower())
        self.exact_kept = set(docs.groupby(norm)["doc_id"].min())
        # dedup_lines keep_first: the first (doc_id, line index)
        # occurrence of a line survives; blank (space-only) lines are
        # dropped; a document with no line left gets NULL text
        seen, rebuilt = set(), []
        for doc_id, text in docs.sort_values("doc_id")[
                ["doc_id", "text"]].itertuples(index=False):
            keep, removed = [], 0
            for line in text.split("\n"):
                if not line.strip(" "):
                    continue
                if line in seen:
                    removed += 1
                else:
                    seen.add(line)
                    keep.append(line)
            rebuilt.append((doc_id, "\n".join(keep) if keep else None,
                            len(keep), removed))
        self.lines_ref = pd.DataFrame(rebuilt, columns=[
            "doc_id", "text", "n_lines_kept", "n_lines_removed"])
        # contamination: exact distinct-gram hits against the benchmark
        # slice (every 17th document, like the corpus-overlap queries)
        bench = docs[docs["doc_id"] % 17 == 0]
        bench_grams = set().union(*(_grams(t, self.NGRAM)
                                    for t in bench["text"]))
        doc_grams = [_grams(t, self.NGRAM) for t in docs["text"]]
        self.n_grams = sum(len(g) for g in doc_grams)
        self.exact_hits = sum(len(g & bench_grams) for g in doc_grams)
        self.bench_grams = np.array(sorted(bench_grams), dtype=object)
        li = pd.read_parquet(self.paths["lineitem"],
                             columns=["l_orderkey", "l_extendedprice"])
        tok = (li["l_extendedprice"] % 1000 + 50).astype(np.int64)
        self.li = li.assign(tok=tok)
        self.total_tokens = int(tok.sum())
        self.max_tok = int(tok.max())

    def _dedup_exact(self, tr):
        out = tr.call("operators.dedup.dedup_exact", dedup_exact, self.docs,
                      "doc_id", "text")
        ans = tr.action("toPandas", lambda: out.select("doc_id").toPandas())
        require(set(ans["doc_id"]) == self.exact_kept
                and len(ans) == len(self.exact_kept), "dedup_exact survivors")
        return OpResult(len(self.docs_pdf))

    def _dedup_lines(self, tr):
        out = tr.call("operators.dedup.dedup_lines", dedup_lines, self.docs,
                      "doc_id")
        # the whole rebuilt corpus: a consumer of the counts alone would
        # let Catalyst prune the per-document text rebuild
        cols = list(self.lines_ref.columns)
        ans = tr.action("toPandas", lambda: out.select(*cols).toPandas())
        ans = ans.sort_values("doc_id", ignore_index=True)
        require(len(ans) == len(self.lines_ref)
                and (ans["doc_id"] == self.lines_ref["doc_id"]).all(),
                "dedup_lines documents")
        for c in cols[1:]:
            got, ref = ans[c], self.lines_ref[c]
            require(bool(((got == ref) | (got.isna() & ref.isna())).all()),
                    f"dedup_lines {c}")
        return OpResult(len(self.docs_pdf))

    def _contamination(self, tr):
        bench = self.docs.where(F.col("doc_id") % 17 == 0)
        out = tr.call("operators.contamination.contamination_scores",
                      contamination_scores, self.docs, "doc_id", bench,
                      n=self.NGRAM, method="bloom")
        ans = tr.action("collect", lambda: out.agg(
            F.sum("n_hit").alias("hit"), F.sum("n_grams").alias("g"),
            F.count("*").alias("n")).collect())[0]
        require(ans["n"] == len(self.docs_pdf), "every doc scored")
        require(ans["g"] == self.n_grams, "gram count")
        # a Bloom probe may over-count hits (false positives at
        # bloom_fpr = 1e-6 per gram), never under-count
        hit = int(ans["hit"])
        require(self.exact_hits <= hit <= self.exact_hits
                + max(3, 10 * 1e-6 * self.n_grams), "bloom hit count")
        return OpResult(len(self.docs_pdf))

    def _pack(self, tr):
        li = self.read("lineitem").select(
            "l_orderkey",
            (F.col("l_extendedprice") % 1000 + 50).cast("long")
            .alias("tok"))
        out = tr.call("operators.pack.pack_sequences", pack_sequences, li,
                      "l_orderkey", "tok", _PACK_TOKENS,
                      n_buckets=_PACK_BUCKETS)
        ans = tr.action("toPandas", lambda: out.groupBy(
            "__pack_bucket", "__pack_slot").agg(
                F.sum("tok").alias("t"), F.count("*").alias("n"))
            .toPandas())
        require(int(ans["t"].sum()) == self.total_tokens, "tokens packed")
        require(int(ans["n"].sum()) == self.n_li, "rows packed")
        per_bucket = ans.groupby("__pack_bucket")["__pack_slot"].agg(
            ["min", "max", "count"])
        require(bool(((per_bucket["min"] == 0) & (per_bucket["max"] + 1
                      == per_bucket["count"])).all()), "contiguous slots")
        # a slot holds the docs starting inside it: < max_tokens +
        # max_tok tokens
        require(int(ans["t"].max()) < _PACK_TOKENS + self.max_tok,
                "pack over budget")
        return OpResult(self.n_li)

    def ops(self) -> List[Op]:
        return [
            Op("dedup_exact", self._dedup_exact),
            Op("dedup_lines", self._dedup_lines),
            Op("contamination_scores", self._contamination),
            Op("pack_sequences", self._pack),
        ]

    def kernel_input(self) -> KernelInput:
        grams = pd.DataFrame({"gram": self.bench_grams})
        docs = self.docs_pdf.assign(n=self.docs_pdf["text"].str.len())
        return KernelInput({
            "tdigest": (self.li, [], "tok"),
            "kll": (docs, [], "n"),
            "hll": (self.li, [], "l_orderkey"),
            "cms": (self.li, [], "tok"),
            "bloom": (grams, [], "gram"),
        }, parts=self.docs.rdd.getNumPartitions())

    def identity_input(self):
        return self.docs.select("doc_id", "text")


WORKLOADS = {w.name: w for w in (BuildTranscripts, BuildHighkey,
                                 QuerySketches, TextPipeline)}
