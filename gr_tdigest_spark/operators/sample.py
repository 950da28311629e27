"""Deterministic distributed sampling for training-data pipelines.

Three shapes, all reproducible (the "random" priority is a hash of the
row's id columns — rerunning the job, changing partitioning, or adding
unrelated rows never changes which ids are sampled, unlike
``F.rand``/``df.sample`` whose draws are partition-dependent):

- :func:`uniform_sample` — global top-k by hashed priority.  Plans as
  ``TakeOrderedAndProject``: each partition keeps its local k, only
  k·n_partitions rows reach the driver-side merge — no full sort, no
  shuffle of the data.  The 100 TB shape for "give me 100k random
  rows".
- :func:`stratified_sample` with ``method='sketch'`` (default) — k ids
  per group via the mergeable bottom-k sketch (map-side combinable,
  ≤ k entries of state per group regardless of group size), then a
  semi-join back for the full rows.  A hot group costs the same as a
  cold one — the skew-immune per-group sampler.
- :func:`stratified_sample` with ``method='window'`` — classic
  ``row_number() OVER (PARTITION BY keys ORDER BY priority)``.
  Simpler plan, but the whole of every group flows through one task;
  use it when groups are known-small.

Both stratified methods sample exactly ``min(k, distinct ids)``
DISTINCT ids per group and return every row carrying a sampled id
(min(k, n) rows when ids are row-unique); the two methods draw
DIFFERENT (equally uniform) samples because their priority hashes
differ (xxhash64 vs splitmix64).
"""

from __future__ import annotations

from typing import List, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, FloatType, IntegerType, LongType, StringType,
)

__all__ = [
    "sample_priority", "uniform_sample", "stratified_sample",
    "weighted_sample", "assign_split",
]


def _cols(cols: Union[str, Sequence[str]]) -> List[str]:
    return [cols] if isinstance(cols, str) else list(cols)


def sample_priority(id_cols: Union[str, Sequence[str]],
                    seed: int = 0) -> Column:
    """The deterministic sampling priority: ``xxhash64(id..., seed)``.
    JVM-side, whole-stage-codegen friendly — no Python in the path."""
    return F.xxhash64(*_cols(id_cols), F.lit(int(seed)))


# above this k, the 'rows' path's TakeOrderedAndProject merge point —
# k·n_partitions FULL-WIDTH rows converging on one task — stops being
# the right shape (k=10⁵ × 10⁴ partitions of wide rows ≈ 10⁹ rows at
# one merge); the 'ids' path samples over a skinny id projection with
# a hash-threshold prefilter and semi-joins the facts back instead
_GLOBAL_TAKE_K = 10_000


def uniform_sample(df: DataFrame, k: int,
                   id_cols: Union[str, Sequence[str]],
                   seed: int = 0, method: str = "auto",
                   broadcast_ids: bool = True) -> DataFrame:
    """Uniform k-row sample, deterministic in (id_cols, seed).

    Two plans sharing one draw (both take the k hash-smallest ids, so
    they sample the SAME ID SET whenever ids are row-unique and
    non-NULL — the normal contract):

    - ``method='rows'``: ``orderBy(priority).limit(k)`` — Catalyst's
      ``TakeOrderedAndProject`` (per-partition top-k + merge of
      k-sized heads); exactly min(k, n_rows) rows.  Ties (only
      possible for duplicate ids) break on the ids themselves, so the
      sampled ID SET is always deterministic; if duplicate ids carry
      different payload columns, which duplicate row represents a tied
      id may vary with partitioning (the sort key is fully tied).
      Right up to k ≈ 10⁴: the merge point holds k·n_partitions
      FULL-WIDTH rows.
    - ``method='ids'`` (the large-k scale path): distinct ids are
      projected SKINNY, a hash-threshold prefilter keeps ~2k expected
      candidates (priorities are uniform hashes, so the k-th smallest
      sits near the k/n quantile of the hash domain; the window
      quadruples on the rare undershoot), the exact top-k runs over the
      survivors only, and the facts semi-join back — no full-width
      row ever reaches a single merge point.  Returns all rows
      carrying the min(k, distinct non-NULL ids) sampled ids; NULL
      and NaN-float ids are never sampled (they could not survive the
      join-back).  ``broadcast_ids`` as in :func:`stratified_sample`.
    - ``method='auto'`` (default): 'rows' for k ≤ 10_000, else 'ids'.
    """
    if k <= 0:
        raise ValueError("uniform_sample k must be > 0")
    if method not in ("auto", "rows", "ids"):
        raise ValueError(
            f"uniform_sample method must be auto/rows/ids, got {method!r}"
        )
    ids = _cols(id_cols)
    pr = sample_priority(ids, seed)
    if method == "rows" or (method == "auto" and k <= _GLOBAL_TAKE_K):
        return df.orderBy(pr.asc(), *ids).limit(k)
    from gr_tdigest_spark.operators.skew import _one_slot_persist

    fact = _drop_unjoinable_ids(df, ids)
    # the skinny distinct (full scan + id shuffle) is the dominant
    # cost and has three consumers — the size count, the candidate
    # count (plus each widening retry), and the final top-k.  One-slot
    # cache (ids projection only, ~id-width bytes per distinct id),
    # evicted by the next ids-path call.
    skinny = _one_slot_persist(fact.select(*ids).distinct(),
                               "uniform_sample_ids")
    n = skinny.count()
    if n <= k:
        return fact
    ids_df = _hash_threshold_topk(skinny, pr, ids, k, n)
    if broadcast_ids:
        ids_df = F.broadcast(ids_df)
    return fact.join(ids_df, on=ids, how="leftsemi")


def _hash_threshold_topk(skinny: DataFrame, pr: Column, ids: List[str],
                         k: int, n: int) -> DataFrame:
    """The k hash-smallest ids without a wide merge: priorities are
    uniform int64 hashes, so prefiltering at the ~2k/n quantile of the
    hash domain keeps ~2k expected survivors (undershoot probability
    ≤ exp(-k/4) by Chernoff; the window quadruples until enough
    survive), and the exact TakeOrdered runs over the survivors only.
    The cutoff literal is approximate — exactness comes from the final
    top-k, which sees every id below the (verified-sufficient)
    cutoff."""
    frac = min(1.0, 2.0 * k / n)
    while True:
        if frac >= 1.0:
            cand = skinny
        else:
            cutoff = min(
                -(1 << 63) + int(frac * float(1 << 64)), (1 << 63) - 1
            )
            cand = skinny.where(pr < F.lit(cutoff))
        if frac >= 1.0 or cand.count() >= k:
            return cand.orderBy(pr.asc(), *ids).limit(k)
        frac *= 4.0


# distinct per-operator hash domains: composing weighted_sample and
# assign_split at the SAME user seed must not correlate (both consume a
# hash-derived u; with a shared domain, the weighted sample's u-quantile
# selection would pile every sampled row into the last split)
_WEIGHTED_SALT = 0x57ED
_SPLIT_SALT = 0x5B11


def _unit_uniform(id_cols: Union[str, Sequence[str]], seed: int) -> Column:
    """Deterministic u ∈ (0, 1): the low 53 bits of the id hash, offset
    by 0.5 ulp so u is never exactly 0 or 1 — all JVM expressions."""
    h = sample_priority(id_cols, seed)
    # pmod: non-negative even at Long.MIN_VALUE (where abs() overflows)
    mantissa = F.pmod(h, F.lit(1 << 53))
    return (mantissa.cast("double") + F.lit(0.5)) / F.lit(float(1 << 53))


def _sample_join_col(df: DataFrame, ids: List[str]):
    """Map the id column(s) onto ONE primitive sampling/join column for
    the sketch-method samplers.  Returns ``(sample_dtype, join_col,
    fact)``: a single int/float/string id passes through; other types
    go through an injective string cast; multiple id columns through an
    injective JSON rendering (JSON escapes field boundaries, unlike
    concat_ws)."""
    if len(ids) == 1:
        dt = df.schema[ids[0]].dataType
        if isinstance(dt, (IntegerType, LongType)):
            return "long", ids[0], df
        if isinstance(dt, (FloatType, DoubleType)):
            return "double", ids[0], df
        if isinstance(dt, StringType):
            return "string", ids[0], df
        return "string", "__sample_id", df.withColumn(
            "__sample_id", F.col(ids[0]).cast("string")
        )
    return "string", "__sample_id", df.withColumn(
        "__sample_id", F.to_json(F.struct(*ids))
    )


def _explode_sampled_ids(sk: DataFrame, key_list: List[str],
                         sample_col: Column, k: int, join_col: str,
                         fact: DataFrame, sample_dtype: str) -> DataFrame:
    """Shared sketch-method tail: per-group sampled-id array → one row
    per id, cast back to the fact column's exact type for the join."""
    if k == 1:  # sketch k floor is 2; keep exactly one id
        sample_col = F.slice(sample_col, 1, 1)
    ids_df = sk.select(*key_list, F.explode(sample_col).alias(join_col))
    if sample_dtype != "string":
        ids_df = ids_df.withColumn(
            join_col, F.col(join_col).cast(fact.schema[join_col].dataType)
        )
    return ids_df


def _semi_join_sampled(fact: DataFrame, key_list: List[str],
                       ids_df: DataFrame, join_col: str,
                       broadcast_ids: bool,
                       canonicalize_nan_keys: bool = False) -> DataFrame:
    """Shared keyed join-back: every fact row carrying a sampled id,
    via a (broadcastable) LEFT SEMI join.

    NULL-SAFE on the key columns: rows whose key value is NULL form a
    real group in the sketch aggregate (and in the window method's
    partitionBy), so the join-back must not drop them — a plain
    equi-join would silently lose every NULL-key group.

    ``canonicalize_nan_keys`` is set by the SKETCH paths only: their
    aggregate canonicalizes float NaN keys to NULL in the partial
    state, so the fact side must be canonicalized the same way for
    NaN-key rows to rejoin the conflated NULL group.  The window
    method's ids table keeps NaN as its own group, and Spark's native
    NaN-equality (NaN = NaN is true in joins) matches it without any
    rewrite — canonicalizing there would instead cross-match NaN-group
    samples onto NULL-key fact rows.  ``join_col`` itself stays a
    plain equality: unjoinable ids are filtered up front."""
    s = ids_df.alias("__samp")
    if broadcast_ids:
        s = F.broadcast(s)
    f = fact.alias("__fact")

    def q(side: str, c: str) -> Column:
        return F.col(f"{side}.`{c}`")

    cond = q("__fact", join_col) == q("__samp", join_col)
    for c in key_list:
        fc = q("__fact", c)
        if canonicalize_nan_keys and isinstance(
            fact.schema[c].dataType, (FloatType, DoubleType)
        ):
            fc = F.when(F.isnan(fc), F.lit(None)).otherwise(fc)
        cond = cond & fc.eqNullSafe(q("__samp", c))
    out = f.join(s, cond, "leftsemi")
    return out.drop("__sample_id") if join_col == "__sample_id" else out


def _drop_unjoinable_ids(df: DataFrame, ids: List[str]) -> DataFrame:
    """NULL ids (and NaN float ids) can never survive the sampled-id
    semi-join, so they must not win sample slots on any path."""
    for c in ids:
        df = df.where(F.col(c).isNotNull())
        if isinstance(df.schema[c].dataType, (FloatType, DoubleType)):
            df = df.where(~F.isnan(F.col(c)))
    return df


def weighted_sample(df: DataFrame, k: int,
                    id_cols: Union[str, Sequence[str]],
                    weight_col: str, seed: int = 0,
                    keys: Union[None, str, Sequence[str]] = None,
                    method: str = "sketch",
                    broadcast_ids: bool = True) -> DataFrame:
    """Weighted k-row sample without replacement (Efraimidis–Spirakis
    A-ES, Inf. Proc. Lett. 97(5), 2006): each row gets the key
    ``u^(1/w)`` with a deterministic hash-derived u ∈ (0,1); the k
    LARGEST keys are a weighted sample without replacement — inclusion
    probability increases with ``weight_col``.  The training-data use:
    sample documents proportionally to a quality score.

    Deterministic in (id_cols, weight, seed); rows with weight ≤ 0,
    NaN, or NULL are never sampled.  The hash domain is salted per
    operator, so composing with :func:`assign_split` at the same seed
    stays unbiased.  All key arithmetic is JVM expressions (log-space:
    ``ln(u)/w`` is monotone in ``u^(1/w)`` and avoids underflow for
    large weights).

    Global (keys=None): up to k = 10_000 this plans as
    ``TakeOrderedAndProject`` like :func:`uniform_sample`'s rows path
    (exactly min(k, eligible rows) rows); above it, the race keys are
    projected SKINNY (ids + key only), the top-k runs over that
    projection, and the facts semi-join back — the merge point never
    holds full-width rows (all rows carrying the sampled ids return;
    NULL/NaN ids are never sampled).  ``method`` is ignored for the
    global path.
    With ``keys``, two methods sharing the stratified_sample contract
    (min(k, distinct eligible ids) distinct ids per group, every
    eligible row carrying a sampled id comes back; NULL ids — and NaN
    float ids — are never sampled on either keyed method; NULL KEY
    values form a normal group and are sampled on both methods — the
    join-back is null-safe):

    - ``method='sketch'`` (default, the scale path): per-group bottom-k
      of the exponential race key ``E = -ln(u)/w`` via a bounded
      mergeable state (``WeightedBottomKSpec`` — a WeightedBottomK
      ordered on E's uint64 bit view with value tie-break), then a
      semi-join back for the full rows.  Partial state is ≤ k entries
      per group on every executor (map-side combine), so a hot group
      costs the same shuffle bytes as a cold one — no per-group window,
      no skew hazard.  ``broadcast_ids`` as in
      :func:`stratified_sample`.  k is bounded by the sketch capacity
      (65536); use method='window' beyond it.
    - ``method='window'``: classic ``row_number() OVER (PARTITION BY
      keys ORDER BY es_key DESC)`` — every row of a group flows
      through one task; fine when groups are known-small, and the only
      keyed path for k > 65536.  (Unlike the sketch path this ranks
      ROWS, so duplicate ids can each take a slot.)

    The two methods draw DIFFERENT (equally weighted-uniform) samples:
    the race key is the same, but the sketch path samples distinct ids
    while the window path ranks rows.  Race-key TIES (e.g. several
    ``w=+inf`` ids, all racing at E=0) resolve identically on both
    paths for single primitive int/float/string ids: ascending id
    order, deterministically.  (Composed or string-cast ids tie-break
    on their rendered string on the sketch path but on the raw columns
    on the window path — equally deterministic, possibly different
    picks.)  If duplicate ids
    carry different weights, the sketch path may keep several race
    entries for one id — give each id one weight (the normal case)
    for exact-k semantics.
    """
    if k <= 0:
        raise ValueError("weighted_sample k must be > 0")
    if method not in ("sketch", "window"):
        raise ValueError(
            f"weighted_sample method must be sketch/window, got {method!r}"
        )
    ids = _cols(id_cols)
    if keys is not None and method == "sketch":
        from gr_tdigest_spark.sketches.bottomk import _MAX_K

        if max(k, 2) > _MAX_K:
            raise ValueError(
                f"weighted_sample k={k} exceeds the sketch capacity "
                f"{_MAX_K}; pass method='window' for larger k"
            )
    u = _unit_uniform(ids, seed + _WEIGHTED_SALT)
    w = F.col(weight_col).cast("double")
    # maximize u^(1/w)  ⇔  maximize ln(u)/w  (ln(u) < 0, w > 0)
    es_key = F.log(u) / w
    # NaN weights must be excluded explicitly: Spark orders NaN greater
    # than any number, so `w > 0.0` passes NaN and a NaN es_key would
    # sort FIRST under desc — silently dominating the sample
    eligible = df.filter(w.isNotNull() & ~F.isnan(w) & (w > 0.0))
    if keys is None:
        if k <= _GLOBAL_TAKE_K:
            return eligible.orderBy(es_key.desc(), *ids).limit(k)
        # large-k scale path (mirrors uniform_sample method='ids'):
        # top-k over the skinny (ids, race-key) projection, facts
        # semi-joined back — full-width rows never hit the merge point
        fact = _drop_unjoinable_ids(eligible, ids)
        skinny = fact.select(*ids, es_key.alias("__es")).distinct()
        ids_df = (
            skinny.orderBy(F.col("__es").desc(), *ids)
            .limit(k).select(*ids)
        )
        if broadcast_ids:
            ids_df = F.broadcast(ids_df)
        return fact.join(ids_df, on=ids, how="leftsemi")
    key_list = _cols(keys)
    # shared keyed contract: unjoinable (NULL/NaN) ids never win slots
    eligible = _drop_unjoinable_ids(eligible, ids)
    if method == "window":
        from pyspark.sql.window import Window

        win = Window.partitionBy(*key_list).orderBy(
            es_key.desc(), *[F.col(c).asc() for c in ids]
        )
        return (
            eligible.withColumn("__es_rn", F.row_number().over(win))
            .filter(F.col("__es_rn") <= k)
            .drop("__es_rn")
        )
    return _weighted_sketch_sample(
        eligible, k, ids, es_key, key_list, seed, broadcast_ids
    )


def _weighted_sketch_sample(eligible: DataFrame, k: int, ids: List[str],
                            es_key: Column, key_list: List[str],
                            seed: int, broadcast_ids: bool) -> DataFrame:
    """The bounded-state keys path of :func:`weighted_sample`: keep the
    k smallest exponential-race keys ``E = -es_key = -ln(u)/w`` per
    group in a mergeable ≤ k-entry sketch, then semi-join the sampled
    ids back.  E is non-negative (u ∈ (0,1) exclusive, w > 0; w=+inf
    gives E=+0.0), so its IEEE-754 uint64 bit view is order-preserving
    and slots straight into the WeightedBottomK priority order, whose
    value tie-break keeps E-collisions deterministic."""
    from gr_tdigest_spark.operators.agg import sketch_agg
    from gr_tdigest_spark.operators.companions import (
        WeightedBottomKSpec, _sample_udf,
    )
    from gr_tdigest_spark.sketches.bottomk import WeightedBottomK

    sample_dtype, join_col, fact = _sample_join_col(eligible, ids)
    race = fact.withColumn("__es_e", -es_key)
    sk = sketch_agg(
        race.select(*key_list, join_col, "__es_e"),
        key_list, join_col,
        WeightedBottomKSpec(k=max(k, 2), seed=seed),
        weight_col="__es_e",
    )
    sample_col = _sample_udf(sample_dtype, WeightedBottomK)("wbottomk")
    id_rows = _explode_sampled_ids(sk, key_list, sample_col, k,
                                   join_col, fact, sample_dtype)
    return _semi_join_sampled(fact, key_list, id_rows, join_col,
                              broadcast_ids, canonicalize_nan_keys=True)


def assign_split(df: DataFrame,
                 id_cols: Union[str, Sequence[str]],
                 fractions: dict, seed: int = 0,
                 out_col: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment: a hash bucket of the id
    maps each row to a named split with the given fractions.

    The property that matters for training data: assignment is a pure
    function of (id, seed) — stable across reruns, repartitioning, AND
    dataset growth (new rows never move old rows between splits, unlike
    ``randomSplit``).  Duplicate ids always land in the same split, so
    near-duplicate leakage control composes by splitting on a cluster
    or fingerprint id instead of the row id.

    ``fractions`` maps name → weight (normalized; must be positive and
    non-empty), e.g. ``{"train": 0.9, "val": 0.05, "test": 0.05}``.
    Pure JVM expressions — whole-stage-codegen, no shuffle.
    """
    if not fractions:
        raise ValueError("assign_split needs at least one fraction")
    total = float(sum(fractions.values()))
    if total <= 0 or any(v <= 0 for v in fractions.values()):
        raise ValueError("assign_split fractions must be positive")
    u = _unit_uniform(id_cols, seed + _SPLIT_SALT)
    expr = None
    acc = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        acc += float(frac) / total
        cond = u < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def stratified_sample(df: DataFrame, keys: Union[str, Sequence[str]],
                      k: int, id_col: str, seed: int = 0,
                      method: str = "sketch",
                      broadcast_ids: bool = True) -> DataFrame:
    """All rows whose id is among k uniformly-sampled DISTINCT ids per
    group, deterministic in (id_col, seed).  Both methods share this
    contract: exactly min(k, distinct ids) distinct ids survive per
    group, and every row carrying a sampled id comes back — so when
    ``id_col`` uniquely identifies rows (the normal case), the result
    is exactly min(k, n) rows per group.  NULL key values form a
    normal group on both methods (the join-back is null-safe).  The
    two methods draw different (equally uniform) samples — their
    priority hashes differ.

    method='sketch' (scale path): bottom-k sketch per group → explode
    the ≤ k sampled ids → semi-join the facts.  Partial state is
    bounded by k per group on every executor (map-side combine), so a
    group with 10^9 rows shuffles the same few hundred bytes as a
    group with 10 — no skew hazard.  ``broadcast_ids`` hints the
    (n_groups·k)-row id table into a broadcast hash join; disable when
    n_groups·k is too large to broadcast.

    method='window': row_number over the DISTINCT (keys, id) pairs ≤ k,
    then the same semi-join — every distinct pair of a group shuffles
    to one task; fine when groups are known-small.

    Ids of types beyond int/float/string (dates, timestamps, decimals)
    are sampled through a string cast — deterministic and collision-
    free since ``CAST(x AS STRING)`` is injective for those types.
    """
    if k <= 0:
        raise ValueError("stratified_sample k must be > 0")
    key_list = _cols(keys)
    if method not in ("sketch", "window"):
        raise ValueError(
            f"stratified_sample method must be sketch/window, got {method!r}"
        )
    if method == "sketch":
        from gr_tdigest_spark.sketches.bottomk import _MAX_K

        if max(k, 2) > _MAX_K:
            raise ValueError(
                f"stratified_sample k={k} exceeds the sketch capacity "
                f"{_MAX_K}; pass method='window' for larger k"
            )

    # the sketch wire (and hashing determinism) wants a primitive:
    # non-primitive ids sample over an injective string rendering
    sample_dtype, join_col, fact = _sample_join_col(df, [id_col])
    # NULL ids can never survive the semi-join below, and NaN float
    # ids are skipped by the sketch ingest — neither may win sample
    # slots on EITHER method (shared contract)
    fact = _drop_unjoinable_ids(fact, [join_col])

    if method == "window":
        from pyspark.sql.window import Window

        pr = sample_priority(join_col, seed)
        w = Window.partitionBy(*key_list).orderBy(
            pr.asc(), F.col(join_col).asc()
        )
        ids = (
            fact.select(*key_list, join_col)
            .distinct()
            .withColumn("__sample_rn", F.row_number().over(w))
            .filter(F.col("__sample_rn") <= k)
            .drop("__sample_rn")
        )
    else:
        from gr_tdigest_spark.operators.companions import (
            bottomk_agg, bottomk_sample,
        )

        sk = bottomk_agg(
            fact.select(*key_list, join_col), key_list, join_col,
            k=max(k, 2), seed=seed,
        )
        sample_col = bottomk_sample("bottomk", sample_dtype)
        ids = _explode_sampled_ids(sk, key_list, sample_col, k,
                                   join_col, fact, sample_dtype)
    return _semi_join_sampled(fact, key_list, ids, join_col,
                              broadcast_ids,
                              canonicalize_nan_keys=(method == "sketch"))
