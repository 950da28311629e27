"""Spark-free replay of the sketch kernels on a workload's own input.

The input was collected to pandas once, outside timing. It is split into
the partition count of the Spark stage that builds the partials: by key
(every group in one partition) when that stage is the single-phase
by-key plan, in contiguous slices otherwise. Each slice goes through the
same ``SketchSpec.build_groups`` call the partial builders make, so the
``sketches.*`` throughput lines up with ``spark.executor_run_s`` of the
partial-build stage, minus the Arrow boundary and the JVM.
"""

from __future__ import annotations

import time
from typing import Dict

import numpy as np
import pandas as pd

from gr_tdigest_spark.operators.agg import TDigestSpec
from gr_tdigest_spark.operators.companions import (
    BloomSpec, CMSSpec, HLLSpec, KLLSpec,
)
from gr_tdigest_spark.sketches import wire as td_wire

from perfbench.checks import HLL_P, KLL_K

SPECS = {
    "tdigest": lambda kin: TDigestSpec(max_size=kin.td_max_size),
    "kll": lambda kin: KLLSpec(KLL_K),
    "hll": lambda kin: HLLSpec(HLL_P),
    "cms": lambda kin: CMSSpec(),
    "bloom": lambda kin: BloomSpec(),
}
# wire and query kernels are timed on at most this many digests
SAMPLE = 2000


def _slices(pdf: pd.DataFrame, keys, parts: int, by_key: bool):
    if by_key and keys:
        code = pd.util.hash_pandas_object(pdf[keys], index=False).to_numpy()
        part = code % np.uint64(parts)
        return [pdf[part == i] for i in range(parts)]
    bounds = np.linspace(0, len(pdf), parts + 1).astype(int)
    return [pdf.iloc[lo:hi] for lo, hi in zip(bounds[:-1], bounds[1:])]


def _merge(spec, states) -> Dict:
    merged: Dict = {}
    for part in states:
        for k, st in part.items():
            prev = merged.get(k)
            merged[k] = st if prev is None else spec.merge_states(prev, st)
    return merged


def replay(kin, qs) -> Dict[str, float]:
    """Per-layer kernel metrics for one workload's input."""
    out: Dict[str, float] = {}
    for kind, (pdf, keys, col) in kin.builds.items():
        spec = SPECS[kind](kin)
        if kind != "tdigest":
            pdf = pdf[pdf[col].notna()]
        slices = _slices(pdf, keys, kin.parts, kin.by_key)
        t0 = time.perf_counter()
        states = [spec.build_groups(s, keys, col, None) for s in slices]
        out[f"sketches.{kind}.add_rows_per_s"] = (
            len(pdf) / (time.perf_counter() - t0))
        if kind != "tdigest":
            continue
        t0 = time.perf_counter()
        merged = _merge(spec, states)
        out["sketches.tdigest.merge_s"] = time.perf_counter() - t0
        digests = list(merged.values())[:SAMPLE]
        t0 = time.perf_counter()
        blobs = [td_wire.encode(d) for d in digests]
        enc_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        decoded = [td_wire.decode(b) for b in blobs]
        dec_s = time.perf_counter() - t0
        mb = sum(len(b) for b in blobs) / 1e6
        out["sketches.wire.encode_mb_per_s"] = mb / enc_s
        out["sketches.wire.decode_mb_per_s"] = mb / dec_s
        out["sketches.wire.bytes_per_group"] = mb * 1e6 / len(blobs)
        qarr = np.asarray(qs, dtype=np.float64)
        t0 = time.perf_counter()
        probes = [d.quantile(qarr) for d in decoded]
        out["sketches.tdigest.quantile_us"] = (
            (time.perf_counter() - t0) / len(decoded) * 1e6)
        t0 = time.perf_counter()
        for d, p in zip(decoded, probes):
            d.cdf(p)
        out["sketches.tdigest.cdf_us"] = (
            (time.perf_counter() - t0) / len(decoded) * 1e6)
    return out
