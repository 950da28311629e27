"""Two-phase mergeable sketch aggregation over Spark DataFrames.

The reference's whole design is a commutative monoid — ``build`` is the
partial aggregate, ``merge`` the combiner (reference tdigest.rs:551-601).
Spark's pandas GROUPED_AGG UDFs have no partial-merge step, so the
classic ``partial → shuffle → final merge`` plan is built explicitly:

    df.select(keys + [col])
      .mapInPandas(build_partials)       # map-side combine: one sketch
                                         #   per (task-partition, key)
      .repartition(*keys)                # shuffles ~KB sketches, not rows
      .mapInPandas(merge_partials)       # hash-merge per partition —
                                         #   ONE python call per batch,
                                         #   not one per group

Design points for the 100 TB / 1000-executor shape:

- Shuffle payload is O(#partitions × #keys × sketch_size) — independent
  of row count. Only partial sketches cross the wire.
- High-cardinality groups (the per-conversation case) are built
  **vectorized**: one lexsort + reduceat pass per flush handles every
  group in the batch; groups small enough to stay uncompressed skip the
  compression pipeline entirely (provably identical output — see
  ``_NO_MERGE_FACTOR``).
- The final merge is partition-wise (mapInPandas over hash-partitioned
  partials), so per-group scheduling overhead is gone; an optional
  ``salt_buckets`` level adds a treeAggregate-style intermediate merge
  for extreme skew (north_rule: skew handled explicitly).
- Filters/column pruning stay in Catalyst: only keys+value are selected
  before the first Python stage, so parquet scans read just those
  columns.
"""

from __future__ import annotations

from typing import Callable, Dict, Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, FloatType, StructField, StructType,
)

from gr_tdigest_spark import validation
from gr_tdigest_spark.operators.probe import (
    _canon_key, _canon_key_tuple, canon_key_col, key_codes,
)
from gr_tdigest_spark.sketches import wire as td_wire
from gr_tdigest_spark.sketches.tdigest import TDigest

__all__ = ["tdigest_agg", "sketch_agg", "SketchSpec", "TDigestSpec"]

# Rows buffered per partition before a vectorized flush.
_FLUSH_ROWS = 1 << 20


def _keyed_blob_frame(
    keys, blobs, key_cols: List[str], out_col: str
) -> pd.DataFrame:
    """Columnar frame construction — per-row dicts cost ~10µs/row at
    100k+ keys."""
    data = {}
    for ci, name in enumerate(key_cols):
        data[name] = [k[ci] for k in keys]
    data[out_col] = list(blobs)
    return pd.DataFrame(data, columns=key_cols + [out_col])


# A group whose total weight N satisfies N < factor·max_size provably
# produces ZERO k-limit merges (stage 3), because the minimum adjacent
# Δk = min_q k'(q)·(w/N) exceeds 1: k2/k3 have min k'(q) = d/ln2·… →
# N < 1.44·d; quad → N < 0.5·d; k1 → N < 0.318·d. For such groups the
# pipeline output is exactly the stage-1 normalize result (piles), so we
# construct it directly. 0.99 margin guards the Δk ≤ 1+1e-12 boundary.
_NO_MERGE_FACTOR = {"k2": 1.44, "k3": 1.44, "quad": 0.5, "k1": 0.31}


class SketchSpec:
    """Pluggable monoid: build, merge, and serialize one sketch kind.

    Subclasses provide kernel states with ``merge``-like semantics; the
    shared two-phase Spark plan in ``sketch_agg`` is identical for all.
    """

    name = "sketch"

    # --- kernel state protocol ---
    def build_state(self, values: np.ndarray, weights: Optional[np.ndarray]):
        """Build one sketch state from one group's values."""
        raise NotImplementedError

    def merge_states(self, a, b):
        raise NotImplementedError

    def merge_many(self, states: Sequence):
        out = states[0]
        for s in states[1:]:
            out = self.merge_states(out, s)
        return out

    def state_to_blob(self, state) -> bytes:
        return state.to_bytes()

    def blob_to_state(self, blob: bytes):
        raise NotImplementedError

    def clean_values(
        self, values: np.ndarray, weights: Optional[np.ndarray]
    ) -> Tuple[np.ndarray, Optional[np.ndarray]]:
        """Validate/filter one batch of raw values before building."""
        return values, weights

    def build_groups(
        self,
        pdf: pd.DataFrame,
        key_cols: List[str],
        value_col: str,
        weight_col: Optional[str],
    ) -> Dict[tuple, object]:
        """Build {key_tuple: state} for every group in the frame.

        Default: pandas groupby + per-group build. Specs can override
        with a fully vectorized multi-group path (see TDigestSpec).
        """
        out: Dict[tuple, object] = {}
        vals = pdf[value_col].to_numpy()
        ws = pdf[weight_col].to_numpy() if weight_col else None
        if not key_cols:
            v, w = self.clean_values(vals, ws)
            if v.size:
                out[()] = self.build_state(v, w)
            return out
        gb = pdf.groupby(key_cols, dropna=False, sort=False)
        for key, sel in gb.indices.items():
            key = _canon_key_tuple(key if isinstance(key, tuple) else (key,))
            v, w = self.clean_values(
                vals[sel], None if ws is None else ws[sel]
            )
            if v.size:
                st = self.build_state(v, w)
                prev = out.get(key)
                out[key] = st if prev is None else self.merge_states(prev, st)
        return out


class TDigestSpec(SketchSpec):
    """T-digest monoid (build: tdigest.rs:427-547; merge: 551-601) with a
    vectorized multi-group builder."""

    name = "tdigest"
    supports_arrow = True  # opt into the mapInArrow partial path

    def __init__(
        self,
        max_size: int = 1000,
        scale: str = "k2",
        policy: str = "use",
        pin_per_side: int = 0,
        precision: str = "f64",
        on_invalid: str = "error",
    ):
        self.max_size = validation.validate_max_size(max_size)
        self.scale = validation.coerce_scale(scale)
        self.policy = validation.coerce_policy(policy)
        self.pin_per_side = validation.validate_pin_per_side(
            pin_per_side, self.max_size, self.policy
        )
        self.precision = validation.coerce_precision(precision)
        if on_invalid not in ("error", "drop"):
            raise ValueError("on_invalid must be 'error' or 'drop'")
        self.on_invalid = on_invalid

    def _empty(self) -> TDigest:
        return TDigest.empty(
            self.max_size, self.scale, self.policy, self.pin_per_side,
            None, self.precision,
        )

    def clean_values(self, values, weights):
        v = np.asarray(values, dtype=np.float64)
        finite = np.isfinite(v)
        if weights is not None:
            w = np.asarray(weights, dtype=np.float64)
            w_ok = np.isfinite(w) & (w > 0.0)
        else:
            w, w_ok = None, None
        if self.on_invalid == "error":
            if not finite.all():
                raise ValueError(
                    "sample value (NaN or ±inf) is not allowed; filter rows "
                    "or pass on_invalid='drop'"
                )
            if w_ok is not None and not w_ok.all():
                raise ValueError("sample weight must be finite and > 0")
            return v, w
        keep = finite if w_ok is None else (finite & w_ok)
        return v[keep], (None if w is None else w[keep])

    def build_state(self, values, weights):
        base = self._empty()
        if weights is None:
            return base.merge_unsorted(values)
        return base.merge_weighted(values, weights)

    def merge_states(self, a: TDigest, b: TDigest) -> TDigest:
        return TDigest.merge_digests([a, b])

    def merge_many(self, states: Sequence[TDigest]) -> TDigest:
        validation.check_merge_compatible(states)
        nonempty = [d for d in states if not d.is_effectively_empty]
        if not nonempty:
            return states[0] if states else self._empty()
        return TDigest.merge_digests(nonempty)

    def state_to_blob(self, state: TDigest) -> bytes:
        return td_wire.encode(state)

    def blob_to_state(self, blob: bytes) -> TDigest:
        return td_wire.decode(blob)

    def _pile_digest(
        self, means: np.ndarray, weights: np.ndarray,
        total_w: float, total_mw: float,
    ) -> TDigest:
        """Construct the (provably) uncompressed digest directly from the
        group's coalesced piles — skips pipeline stages 2-6."""
        td = self._empty()
        td.means = means
        td.weights = np.where(weights <= 1.0, 1.0, weights)
        td.kinds = np.zeros(means.size, dtype=np.uint8)
        td.count = total_w
        td.sum = total_mw
        td.min = float(means[0])
        td.max = float(means[-1])
        td._store()
        return td

    def build_groups(self, pdf, key_cols, value_col, weight_col):
        """Vectorized multi-group build from a pandas frame (see
        ``build_from_codes`` for the core)."""
        vals = np.asarray(pdf[value_col].to_numpy(), dtype=np.float64)
        ws = (
            np.asarray(pdf[weight_col].to_numpy(), dtype=np.float64)
            if weight_col else None
        )
        codes, key_tuples = key_codes(
            [pdf[k] for k in key_cols], vals.size
        )
        return self.build_from_codes(codes, key_tuples, vals, ws)

    def _prepare_runs(
        self,
        codes: np.ndarray,
        n_groups: int,
        vals: np.ndarray,
        ws: Optional[np.ndarray],
    ):
        """Shared preprocessing for the vectorized builders: validate/
        clean (``on_invalid='drop'`` filters codes along with values),
        one lexsort over (key code, value), one reduceat pass for pile
        coalescing, and per group its run range, total weight, ∑w·mean
        and whether it is a no-merge group. Returns None when no rows
        survive, else ``(run_means, run_weights, bounds, counts, sums,
        fast)`` — group g owns runs ``bounds[g]:bounds[g + 1]``."""
        if self.on_invalid == "drop":
            keep = np.isfinite(np.asarray(vals, dtype=np.float64))
            if ws is not None:
                w64 = np.asarray(ws, dtype=np.float64)
                keep &= np.isfinite(w64) & (w64 > 0.0)
            vals = np.asarray(vals, dtype=np.float64)[keep]
            codes = codes[keep]
            ws = None if ws is None else np.asarray(ws, dtype=np.float64)[keep]
        else:
            vals, ws = self.clean_values(vals, ws)
        if vals.size == 0:
            return None
        if self.precision == "f32":
            vals = np.asarray(vals.astype(np.float32), dtype=np.float64)
        # canonicalize -0.0 → +0.0 before the sort: signed zeros compare
        # equal, so the surviving run representative (and hence the pile
        # blob bytes) would otherwise depend on row order within the
        # partition — same contract as kernel _normalize
        vals = vals + 0.0

        order = np.lexsort((vals, codes))
        sc = codes[order]
        sv = vals[order]
        w_all = ws[order] if ws is not None else np.ones(sv.size)
        # coalesce equal (group, value) runs globally
        new_run = np.empty(sv.size, dtype=bool)
        new_run[0] = True
        np.not_equal(sv[1:], sv[:-1], out=new_run[1:])
        new_run[1:] |= sc[1:] != sc[:-1]
        run_starts = np.flatnonzero(new_run)
        run_means = sv[run_starts]
        run_weights = np.add.reduceat(w_all, run_starts)
        bounds = np.searchsorted(sc[run_starts], np.arange(n_groups + 1))

        # group totals: ONE whole-array reduceat over the non-empty
        # groups' run segments (contiguous — an empty group owns no
        # runs). Both builders read these, so their count / data_sum
        # headers agree bit for bit (reduceat sums pairwise, so the
        # bits depend on exactly which elements a segment holds).
        n_distinct = np.diff(bounds)
        valid = n_distinct > 0
        starts = bounds[:-1][valid]
        counts = np.zeros(n_groups)
        sums = np.zeros(n_groups)
        counts[valid] = np.add.reduceat(run_weights, starts)
        sums[valid] = np.add.reduceat(run_means * run_weights, starts)
        fast = (
            valid
            & (counts < _NO_MERGE_FACTOR.get(self.scale, 0.0) * 0.99
               * self.max_size)
            & (n_distinct <= self.max_size)
        )
        if ws is not None:  # unit weights are always ≥ 1
            min_w = np.ones(n_groups)
            min_w[valid] = np.minimum.reduceat(run_weights, starts)
            fast &= min_w >= 1.0
        return run_means, run_weights, bounds, counts, sums, fast

    def _compressed(self, run_means, run_weights) -> TDigest:
        """A group over the no-merge bound: the kernel pipeline on its
        piles (already sorted + coalesced: ≤ distinct-count items)."""
        td = self._empty()
        td._compress(run_means, run_weights)
        return td

    def build_from_codes(
        self,
        codes: np.ndarray,
        key_tuples: list,
        vals: np.ndarray,
        ws: Optional[np.ndarray],
    ) -> Dict[tuple, TDigest]:
        """Core vectorized multi-group build: direct digest construction
        for no-merge groups, kernel compress for the rest."""
        out: Dict[tuple, TDigest] = {}
        prep = self._prepare_runs(codes, len(key_tuples), vals, ws)
        if prep is None:
            return out
        run_means, run_weights, bounds, counts, sums, fast = prep
        for gi, key in enumerate(key_tuples):
            r0, r1 = bounds[gi], bounds[gi + 1]
            if r1 <= r0:
                continue
            if fast[gi]:
                td = self._pile_digest(
                    run_means[r0:r1].copy(), run_weights[r0:r1].copy(),
                    float(counts[gi]), float(sums[gi]),
                )
            else:
                td = self._compressed(run_means[r0:r1], run_weights[r0:r1])
            prev = out.get(key)
            # canonicalized keys can collide (None vs NaN in an object
            # key column) — merge, never overwrite
            out[key] = td if prev is None else self.merge_states(prev, td)
        return out

    def build_blobs_from_codes(
        self,
        codes: np.ndarray,
        key_tuples: list,
        vals: np.ndarray,
        ws: Optional[np.ndarray],
    ):
        """Columnar partial output: encode TDIG v3 blobs straight from
        the coalesced run arrays — no per-key TDigest object, no states
        dict. No-merge groups (the common case at high key cardinality:
        many small groups) go through the vectorized multi-group encoder
        (wire.encode_pile_groups); groups that need compression fall
        back to the kernel. Returns (keys, blobs) for non-empty groups,
        byte-identical to encoding ``build_from_codes``' states."""
        prep = self._prepare_runs(codes, len(key_tuples), vals, ws)
        if prep is None:
            return [], []
        run_means, run_weights, bounds, counts, sums, fast = prep
        # slow groups get a pile blob too (ignored below) — they are
        # rare by construction, the wasted header/crc is negligible
        blobs = td_wire.encode_pile_groups(
            run_means, run_weights, bounds, counts, sums,
            max_size=self.max_size, scale=self.scale, policy=self.policy,
            pin_per_side=self.pin_per_side, precision=self.precision,
        )
        if bool(np.all(fast)):
            return list(key_tuples), blobs
        out_keys, out_blobs = [], []
        for gi, key in enumerate(key_tuples):
            r0, r1 = bounds[gi], bounds[gi + 1]
            if fast[gi]:
                out_keys.append(key)
                out_blobs.append(blobs[gi])
            elif r1 > r0:
                td = self._compressed(run_means[r0:r1], run_weights[r0:r1])
                out_keys.append(key)
                out_blobs.append(td_wire.encode(td, 3))
        return out_keys, out_blobs


# --------------------------------------------------------------------- #
# Arrow-native partial builder (t-digest fast path)
# --------------------------------------------------------------------- #

def _encode_batch_keys(batch, key_cols: List[str]):
    """Group the rows of an Arrow batch by its key columns WITHOUT
    materializing Python objects per row: each column is dictionary-
    encoded in Arrow (nulls get their own slot), ``key_codes`` groups
    the index columns, and only each group's key tuple is looked up in
    the vocabularies. Returns (local_codes int64, local_key_tuples)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    per_col_idx = []
    per_col_vocab = []
    for name in key_cols:
        col = batch.column(batch.schema.get_field_index(name))
        enc = col if isinstance(col.type, pa.DictionaryType) else (
            col.dictionary_encode()
        )
        vocab = enc.dictionary.to_pylist()
        idx = enc.indices
        if idx.null_count:
            idx = pc.fill_null(idx, len(vocab))
            vocab = vocab + [None]
        per_col_idx.append(idx.to_numpy(zero_copy_only=False).astype(np.int64))
        per_col_vocab.append(vocab)
    codes, groups = key_codes(per_col_idx, batch.num_rows)
    return codes, [
        tuple(_canon_key(v[i]) for v, i in zip(per_col_vocab, g))
        for g in groups
    ]


def _partial_builder_arrow(
    spec: "TDigestSpec",
    key_cols: List[str],
    value_col: str,
    weight_col: Optional[str],
    out_col: str,
    out_schema: StructType,
    flush_rows: int = _FLUSH_ROWS,
):
    """mapInArrow partial builder: key columns stay dictionary-encoded
    end to end (no per-row Python strings), values go straight from
    Arrow buffers to numpy."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(out_schema)

    def build(batches):
        gid_of: Dict[tuple, int] = {}
        keys_by_gid: List[tuple] = []
        states: Dict[tuple, TDigest] = {}
        buf_codes: List[np.ndarray] = []
        buf_vals: List[np.ndarray] = []
        buf_ws: List[np.ndarray] = []
        buffered = 0
        spilled = False  # True once any intermediate flush built states

        def flush():
            nonlocal buffered, spilled
            if not buf_codes:
                return
            spilled = True
            codes = np.concatenate(buf_codes)
            vals = np.concatenate(buf_vals)
            ws = np.concatenate(buf_ws) if buf_ws else None
            built = spec.build_from_codes(codes, keys_by_gid, vals, ws)
            for key, st in built.items():
                prev = states.get(key)
                states[key] = st if prev is None else spec.merge_states(
                    prev, st
                )
            buf_codes.clear()
            buf_vals.clear()
            buf_ws.clear()
            buffered = 0

        for batch in batches:
            vals = batch.column(
                batch.schema.get_field_index(value_col)
            ).to_numpy(zero_copy_only=False)
            if key_cols:
                local_codes, local_keys = _encode_batch_keys(batch, key_cols)
                lookup = np.empty(len(local_keys), dtype=np.int64)
                for li, key in enumerate(local_keys):
                    gid = gid_of.get(key)
                    if gid is None:
                        gid = gid_of[key] = len(keys_by_gid)
                        keys_by_gid.append(key)
                    lookup[li] = gid
                buf_codes.append(lookup[local_codes])
            else:
                if not keys_by_gid:
                    gid_of[()] = 0
                    keys_by_gid.append(())
                buf_codes.append(np.zeros(len(vals), dtype=np.int64))
            buf_vals.append(np.asarray(vals, dtype=np.float64))
            if weight_col:
                buf_ws.append(
                    np.asarray(
                        batch.column(
                            batch.schema.get_field_index(weight_col)
                        ).to_numpy(zero_copy_only=False),
                        dtype=np.float64,
                    )
                )
            buffered += len(vals)
            if buffered >= flush_rows:
                flush()
        if not spilled and buf_codes:
            # single-flush partition (the common case: flush_rows is 1M
            # and partitions are sized ~rows/2·cores): encode blobs
            # straight from the coalesced run arrays — no per-key
            # TDigest objects, no states dict, no re-encode
            keys_out, blobs = spec.build_blobs_from_codes(
                np.concatenate(buf_codes), keys_by_gid,
                np.concatenate(buf_vals),
                np.concatenate(buf_ws) if buf_ws else None,
            )
            if not keys_out:
                return
            pdf = _keyed_blob_frame(keys_out, blobs, key_cols, out_col)
            yield pa.RecordBatch.from_pandas(
                pdf, schema=arrow_schema, preserve_index=False
            )
            return
        flush()
        if not states:
            return
        pdf = _keyed_blob_frame(
            list(states.keys()),
            [spec.state_to_blob(st) for st in states.values()],
            key_cols, out_col,
        )
        yield pa.RecordBatch.from_pandas(
            pdf, schema=arrow_schema, preserve_index=False
        )

    return build


# --------------------------------------------------------------------- #
# generic two-phase plan
# --------------------------------------------------------------------- #

# Inputs projected at or under this many MB per task slot (Catalyst's
# estimate) are small enough that one raw-row repartition is cheaper
# than a partial stage serialized through too few scan partitions.
# Scale-adaptive: a 100 TB table keeps the shuffle-free two-phase plan,
# a one-row-group fixture file gets the fully-parallel one.
_REBALANCE_MB_PER_SLOT = 64
# keyless (global) aggregates below this size keep the no-extra-shuffle
# plan: one partial task is cheaper than an added exchange + AQE stage
# (measured: a 600 k-row global build is ~0.35 s serial; the added hop
# is ~0.4 s)
_GLOBAL_REBALANCE_FLOOR = 16 << 20


def _choose_agg_plan(n_parts: Optional[int], est: Optional[int],
                     slots: int, by_key_ok: bool,
                     keyed: bool) -> Tuple[str, int]:
    """Plan for a Python pass over ``n_parts`` scan partitions (None:
    streaming, already exchanged or salted) of ``est`` projected bytes
    (None: no estimate) on ``slots`` task slots. Pure: no Spark calls.

    Returns ``(kind, parts)``:

    - ``'by_key'``: hash-repartition the raw rows by the keys into
      ``parts``; every group is local to one partition, so the partials
      are final (no blob shuffle, no merge stage). Gated on a small
      input because it moves raw rows; its worst case (a few fat
      keys) is bounded by one task per key.
    - ``'spread'``: repartition into ``parts`` by a deterministic hash
      spread, then the classic two-phase plan.
    - ``'as_is'``: ``coalesce(parts)`` — no extra exchange.

    ``by_key_ok``: there are keys and no float key column doubles as
    the value or weight (see ``_by_key_ok``); ``keyed``: there are
    keys at all."""
    as_is = ("as_is", 2 * slots)
    if n_parts is None or n_parts >= slots:
        return as_is
    cap = _REBALANCE_MB_PER_SLOT * (1 << 20) * slots
    small = est is not None and est <= cap
    if by_key_ok and small:
        return "by_key", _rebalance_parts(est, slots)
    if not keyed and est is not None and est <= _GLOBAL_REBALANCE_FLOOR:
        return as_is
    # big (or unestimable) inputs only in FAR too few partitions: the
    # raw-row shuffle must buy ≥ 4× parallelism. A marginally coarse
    # scan (e.g. 30 partitions on 32 slots) is left alone — seconds of
    # shuffle for a few % of parallelism
    if small or n_parts * 4 <= slots:
        return "spread", _rebalance_parts(est, slots) if small else 2 * slots
    return as_is


def _by_key_ok(schema: StructType, key_cols: List[str], value_col: str,
               weight_col: Optional[str]) -> bool:
    """True when the single-phase by-key plan may run: there are keys,
    and no float/double key column doubles as the value (or weight) —
    its -0.0/NaN key canonicalization would leak into the aggregated
    VALUES, so such (contrived) aggregates keep the two-phase plan."""
    return bool(key_cols) and not any(
        c in (value_col, weight_col)
        and isinstance(schema[c].dataType, (FloatType, DoubleType))
        for c in key_cols
    )


def _rebalance_parts(est: int, target: int) -> int:
    """Partition count for a rebalanced small input: ~1 MB of projected
    input per Python task, clamped to [4, 2·slots]. Each Python task
    carries ~9 ms of fixed launch cost (measured: a 64-task identity
    mapInArrow stage pays ~0.5 s more wall than an 8-task one on the
    same rows), so tiny inputs want FEW tasks; the byte-proportional
    count keeps the policy scale-adaptive instead of pinning a local
    core count."""
    per_task = 1 << 20
    return int(max(4, min(2 * target, (est + per_task - 1) // per_task)))


def _plan_size_bytes(df: DataFrame) -> Optional[int]:
    """Catalyst's size estimate for the (column-pruned) input — file
    bytes × projection fraction for scans, cached size for persisted
    inputs. Driver-side only; no job runs."""
    try:
        return int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ))
    except Exception:
        return None


# (session id, semanticHash) -> (n_parts, est_bytes). The probes cost
# ~80 ms of driver time (plan → RDD conversion + stats); a rerun of the
# same logical query (every bench repetition, every retry loop) hits
# this instead. Bounded FIFO; stores plan-derived facts only, so a
# stale entry can at worst pick the other (still-correct) plan — and
# file-listing staleness equals Spark's own InMemoryFileIndex caching.
_PROBE_CACHE: Dict[tuple, tuple] = {}
_PROBE_CACHE_MAX = 256


def _probe_input(src: DataFrame) -> tuple:
    """(scan partition count or None, Catalyst size estimate or None)
    for ``_choose_agg_plan``, memoized per (session, semantic hash)."""
    try:
        key = (id(src.sparkSession), src.semanticHash())
    except Exception:
        key = None
    if key is not None and key in _PROBE_CACHE:
        return _PROBE_CACHE[key]
    n_parts = _scan_partition_count(src)
    est = _plan_size_bytes(src) if n_parts is not None else None
    if key is not None:
        if len(_PROBE_CACHE) >= _PROBE_CACHE_MAX:
            _PROBE_CACHE.pop(next(iter(_PROBE_CACHE)))
        _PROBE_CACHE[key] = (n_parts, est)
    return n_parts, est


def _scan_partition_count(df: DataFrame) -> Optional[int]:
    """Partition count of an exchange-free batch input, else None.

    Under AQE, ``.rdd`` on a plan containing any Exchange EXECUTES the
    intermediate query stages eagerly (the final plan needs their
    runtime stats) — measured ~2 s of double work on a 600 k-row
    distinct. So inputs that already crossed a shuffle are never
    probed; they arrive at shuffle-partition-grade parallelism anyway
    and need no rebalance."""
    if getattr(df, "isStreaming", False):
        return None
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        return None
    if "Exchange" in plan:
        return None
    try:
        return df.rdd.getNumPartitions()
    except Exception:
        return None


def _spread_expr(src: DataFrame, key_cols: List[str], value_col: str,
                 weight_col: Optional[str]):
    """Deterministic hash spread for the two-phase rebalance: unlike a
    keyless round-robin repartition it pays NO sort-before-repartition
    on the (possibly single) map task (measured: ~3–4 s of serial sort
    on a 6 M-row one-partition input), and it is retry-safe (guide
    §2.5: derive synthetic partition keys from xxhash64, never
    rand()). Identical (keys, value) rows collocate, which only helps
    map-side pile coalescing."""
    cols = [F.col(c) for c in key_cols] + [F.col(value_col)]
    if weight_col:
        cols.append(F.col(weight_col))
    return F.xxhash64(*cols)


def _canon_float_keys(df: DataFrame, key_cols: List[str]) -> DataFrame:
    """JVM-side canonicalization of float/double KEY columns (NaN→NULL,
    -0.0→+0.0) so a hash repartition by the raw keys agrees with the
    partial builders' canonicalized group identity (``key_codes``):
    without it a NaN key and a NULL key would land in different
    partitions and the single-phase plan would emit two rows for the
    one canonical group the two-phase merger produces."""
    for c in key_cols:
        if isinstance(df.schema[c].dataType, (FloatType, DoubleType)):
            df = df.withColumn(c, canon_key_col(df, c))
    return df


def _partial_builder(
    spec: SketchSpec,
    key_cols: List[str],
    value_col: str,
    weight_col: Optional[str],
    out_col: str,
    flush_rows: int = _FLUSH_ROWS,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: Dict[tuple, object] = {}
        buffer: List[pd.DataFrame] = []
        buffered = 0

        def flush():
            nonlocal buffer, buffered
            if not buffer:
                return
            pdf = buffer[0] if len(buffer) == 1 else pd.concat(
                buffer, ignore_index=True
            )
            built = spec.build_groups(pdf, key_cols, value_col, weight_col)
            for key, st in built.items():
                prev = states.get(key)
                states[key] = st if prev is None else spec.merge_states(
                    prev, st
                )
            buffer = []
            buffered = 0

        for pdf in batches:
            buffer.append(pdf)
            buffered += len(pdf)
            if buffered >= flush_rows:
                flush()
        flush()
        if not states:
            return
        yield _keyed_blob_frame(
            list(states.keys()),
            [spec.state_to_blob(st) for st in states.values()],
            key_cols, out_col,
        )

    return build


def _partition_merger(
    spec: SketchSpec, key_cols: List[str], out_col: str
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Partition-wise hash merge: one python call per Arrow batch.
    Requires partials hash-partitioned by the keys."""

    def merge(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # a key with a single partial passes through untouched (merge of
        # one digest is the identity — no decode/re-encode); that is the
        # common case when input data is clustered by the key, so detect
        # it VECTORIZED (pandas duplicated; NaN==NaN and None==None in
        # duplicated, and Arrow conversion keeps each column's missing
        # marker uniform — None for object, NaN for float — so this
        # agrees with the canonicalized dict keys) and spend Python only
        # on the genuinely multi-partial keys
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(
            pdfs, ignore_index=True
        )
        if key_cols:
            dup = pdf.duplicated(subset=key_cols, keep=False)
            singles = pdf.loc[~dup, key_cols + [out_col]]
            if len(singles):
                yield singles
            pdf = pdf.loc[dup]
        if not len(pdf):
            return
        blobs_by_key: Dict[tuple, list] = {}
        keys_np = [pdf[k].to_numpy() for k in key_cols]
        blobs = pdf[out_col].to_numpy()
        for i in range(len(pdf)):
            key = _canon_key_tuple(k[i] for k in keys_np)
            blobs_by_key.setdefault(key, []).append(bytes(blobs[i]))
        out_blobs = []
        for bl in blobs_by_key.values():
            if len(bl) == 1:
                out_blobs.append(bl[0])
            else:
                states = [spec.blob_to_state(b) for b in bl]
                out_blobs.append(spec.state_to_blob(spec.merge_many(states)))
        yield _keyed_blob_frame(
            list(blobs_by_key.keys()), out_blobs, key_cols, out_col
        )

    return merge


def sketch_agg(
    df: DataFrame,
    keys: Optional[Sequence[str]],
    value_col: str,
    spec: SketchSpec,
    weight_col: Optional[str] = None,
    out_col: Optional[str] = None,
    salt_buckets: Optional[int] = None,
) -> DataFrame:
    """Generic two-phase sketch aggregate.

    Returns one row per key group with a binary sketch column ``out_col``
    (default ``spec.name``). ``salt_buckets`` adds a treeAggregate-style
    intermediate merge hop for extreme-skew key spaces.
    """
    key_cols = list(keys) if keys else []
    out_col = out_col or spec.name
    # dedupe: a key column may double as the value column
    proj = list(dict.fromkeys(
        key_cols + [value_col] + ([weight_col] if weight_col else [])
    ))
    src = df.select(*proj)  # column pruning reaches the scan

    # Specs that SKIP null values (all hash-family companions) get the
    # null filter pushed into the JVM. Semantically identical to their
    # Python-side filtering, but load-bearing for correctness: Arrow
    # hands a nullable int64 column to pandas as float64 ONLY in batches
    # that contain a null, so the same value would hash as int64 in one
    # partition and float64 in another — partition-layout-dependent
    # sketches. With the JVM filter every batch arrives in the column's
    # native dtype. (t-digest keeps nulls flowing to Python: its
    # on_invalid='error' contract must RAISE on them, and its values
    # are cast to float64 anyway.)
    if getattr(spec, "skips_null_values", False):
        src = src.where(F.col(value_col).isNotNull())

    # Partial-build cost is dominated by a fixed per-(flush, group) term
    # (pile coalescing + k-limit cap search), so many small partitions
    # anti-scale: an input already at slot-grade parallelism runs its
    # partial stage coalesced to ~2 partitions per slot. coalesce()
    # cannot SPLIT a too-coarse input, though — a single-row-group
    # parquet file (or any driver-synthesized DataFrame with fewer
    # partitions than slots) would serialize the partial stage through
    # one Python task — so such inputs are repartitioned right after
    # the read (guide §2.5 input skew), by the keys (single phase) or
    # by a hash spread (two phase); see _choose_agg_plan. Salted
    # aggregates are the caller's explicit extreme-skew plan and keep
    # their shape (salt hop + de-salt hop, pinned).
    has_salt = bool(salt_buckets and salt_buckets > 1)
    n_parts, est = (None, None) if has_salt else _probe_input(src)
    kind, parts = _choose_agg_plan(
        n_parts, est, df.sparkSession.sparkContext.defaultParallelism,
        _by_key_ok(src.schema, key_cols, value_col, weight_col),
        bool(key_cols),
    )
    if kind == "by_key":
        src = _canon_float_keys(src, key_cols).repartition(parts, *key_cols)
    elif kind == "spread":
        src = src.repartition(
            parts, _spread_expr(src, key_cols, value_col, weight_col)
        )
    else:
        src = src.coalesce(parts)

    out_fields = [src.schema[k] for k in key_cols] + [
        StructField(out_col, BinaryType(), True)
    ]
    out_schema = StructType(out_fields)

    if getattr(spec, "supports_arrow", False):
        partials = src.mapInArrow(
            _partial_builder_arrow(
                spec, key_cols, value_col, weight_col, out_col, out_schema
            ),
            schema=out_schema,
        )
    else:
        partials = src.mapInPandas(
            _partial_builder(spec, key_cols, value_col, weight_col, out_col),
            schema=out_schema,
        )

    if kind == "by_key":
        # the by-key repartition made every group local to one partition:
        # each key has exactly one partial (multi-flush partitions merge
        # locally in the builder's states dict), so the partials ARE the
        # result — no blob shuffle, no merge stage.
        return partials

    if not key_cols:
        merged = partials.repartition(1).mapInPandas(
            _partition_merger(spec, [], out_col), schema=out_schema
        )
        return merged

    if has_salt:
        salted = partials.withColumn(
            "__salt", F.pmod(F.crc32(F.col(out_col)), F.lit(salt_buckets))
        )
        mid_schema = StructType(
            list(out_schema.fields[:-1])
            + [StructField("__salt", salted.schema["__salt"].dataType, True)]
            + [out_schema.fields[-1]]
        )
        salted = salted.select(*key_cols, "__salt", out_col)
        partials = (
            salted.repartition(*key_cols, "__salt")
            .mapInPandas(
                _partition_merger(spec, key_cols + ["__salt"], out_col),
                schema=mid_schema,
            )
            .drop("__salt")
        )

    return partials.repartition(*key_cols).mapInPandas(
        _partition_merger(spec, key_cols, out_col), schema=out_schema
    )


def tdigest_agg(
    df: DataFrame,
    keys: Optional[Sequence[str]],
    value_col: str,
    weight_col: Optional[str] = None,
    max_size: int = 1000,
    scale: str = "k2",
    policy: str = "use",
    pin_per_side: int = 0,
    precision: str = "f64",
    on_invalid: str = "error",
    out_col: str = "tdigest",
    salt_buckets: Optional[int] = None,
    pre_aggregate: bool = False,
) -> DataFrame:
    """Grouped t-digest build — the Spark analogue of
    ``df.group_by(g).agg(tdigest(x))`` (reference README.md:36-45,
    polars_expr.rs:247-250).

    ``precision='auto'`` infers the digest precision from the value
    column's Spark type (FloatType → f32, else f64), mirroring the
    reference's Polars input-dtype rule (polars_expr.rs:522-544).

    ``pre_aggregate=True`` first collapses rows to exact (keys, value)
    piles JVM-side — ``groupBy(keys, value).count()`` (or
    ``sum(weight)``), a whole-stage-codegen hash aggregate with
    map-side combine — and builds the digest from the WEIGHTED piles.
    Only distinct values per group ever cross the Arrow boundary to
    Python, so on discrete metrics (text lengths, latency ms, token
    counts) the Python-side row volume drops by orders of magnitude;
    under digest capacity the result is bit-identical to the row path
    (the kernel coalesces to the same piles). The wrong choice for
    near-unique continuous values, where it adds a full-width shuffle
    for nothing — hence opt-in."""
    precision = validation.resolve_auto_precision(
        precision, df.schema[value_col].dataType
    )
    spec = TDigestSpec(
        max_size=max_size, scale=scale, policy=policy,
        pin_per_side=pin_per_side, precision=precision, on_invalid=on_invalid,
    )
    if pre_aggregate:
        grp = list(keys) if keys else []
        w_expr = (
            F.sum(F.col(weight_col)) if weight_col is not None
            else F.count("*").cast("double")
        )
        df = df.groupBy(*grp, F.col(value_col)).agg(
            w_expr.alias("__pile_w")
        )
        weight_col = "__pile_w"
    return sketch_agg(
        df, keys, value_col, spec,
        weight_col=weight_col, out_col=out_col, salt_buckets=salt_buckets,
    )
