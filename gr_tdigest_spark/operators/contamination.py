"""Benchmark decontamination for training corpora.

The standard pre-training hygiene step (GPT-3 App. C, PaLM §8, Llama 2
App. A.6): a training document is *contaminated* when a large fraction
of its word n-grams also occur in an evaluation/benchmark set; such
documents leak test data into training and must be flagged or dropped.

The measure here is the conventional one::

    contamination(doc) = |distinct n-grams(doc) ∩ n-grams(benchmark)|
                         -------------------------------------------
                         |distinct n-grams(doc)|

with word n-grams over a normalized rendering (lowercased, whitespace
collapsed — the same token boundary on every engine).

Scale shape (the 100 TB contract — benchmark ≪ corpus, always):

- n-gram construction is a pure JVM expression chain
  (``split``/``transform``/``slice``/``concat_ws``) — whole-stage
  codegen, zero Python in the corpus scan.
- ``method='join'``: the benchmark collapses to its distinct-gram
  table (skinny — one string column), which BROADCASTS; the corpus
  explodes its grams and hit-counts through a broadcast LEFT SEMI
  join + map-side-combinable count.  No corpus-sized shuffle: only
  (id, count) pairs move.
- ``method='bloom'``: the benchmark grams feed a mergeable Bloom
  filter (one tree-aggregated blob, 20-50× smaller than the gram
  table); the corpus probes it row-locally through one Arrow-batched
  pandas UDF over JVM-hashed gram arrays — **no shuffle and no join
  at all** on the corpus side.  Bloom false positives can only
  INFLATE a score (no false negatives → no missed contamination);
  size via ``bloom_fpr`` so the inflation is below the decision
  threshold's resolution.

The reference engine has no decontamination operator; this extends the
training-data family (SURVEY §2.8 charter) with the same determinism
contract as operators/sample.py: scores are a pure function of the
text and the benchmark — partition-layout independent, rerun-stable.
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Union

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

__all__ = ["word_ngrams", "with_word_ngrams", "contamination_scores",
           "decontaminate", "corpus_overlap",
           "build_contamination_filter", "ContaminationFilter",
           "token_contamination", "word_token_count"]

# explicit ASCII whitespace class: Java regex \s and RE2/DuckDB \s
# disagree on \x0B (q_text_stats precedent) — the token boundary must
# be identical on every engine an oracle might run on.  The pattern is
# embedded in a Spark SQL STRING LITERAL, which itself processes
# backslash escapes, so the backslashes are doubled here ('\\t' in the
# literal -> '\t' reaching the regex engine); a single '\f' would
# collapse to the LETTER f and silently strip f-runs next to spaces
_WS_SQL = r"[ \\t\\n\\r\\f]+"


def _norm_tokens_sql(text_sql: str) -> str:
    # split directly on whitespace RUNS instead of collapse-then-split:
    # token-identical (tokens are the maximal non-whitespace runs either
    # way — lower() never creates or removes ASCII whitespace, and the
    # empty-string filter eats the leading/trailing artifacts of both
    # forms) but one regex pass and one full-string copy cheaper per
    # row, which is the dominant cost of every gram pipeline stage
    return (
        f"filter(split(lower({text_sql}), '{_WS_SQL}'), x -> x != '')"
    )


def word_ngrams(text_col: str, n: int,
                distinct: bool = True) -> Column:
    """Word n-grams of a text column as ``array<string>`` — pure JVM
    expressions (codegen-friendly, engine-portable semantics).

    Normalization: lowercase, split on ASCII whitespace runs, drop
    empty tokens; each gram is ``n`` consecutive tokens joined by a
    single space.  Texts with fewer than ``n`` tokens (and NULL texts)
    yield the EMPTY array — they carry no n-gram evidence.

    ``distinct=True`` (default) dedupes grams within the row: the
    contamination measure is over the doc's distinct gram set, and
    duplicate grams would double-count hits.
    """
    if n <= 0:
        raise ValueError("word_ngrams n must be > 0")
    if not isinstance(text_col, str):
        raise ValueError("word_ngrams needs a column NAME (the "
                         "expression is built in SQL form)")
    name = text_col
    # CAPTURE-FREE inline form: the tokenize subtree is repeated at
    # each use site, which Catalyst does not dedupe across HOFs (~5×
    # slower per row than the single-evaluation plan) — corpus-scale
    # callers should use :func:`with_word_ngrams`, which tokenizes
    # into a real intermediate column instead.  Do NOT "optimize" this
    # back into a let-binding `transform(array(toks), t -> ... slice(t,
    # ...) ...)`: a nested lambda CAPTURING the outer lambda variable,
    # used as a pandas-UDF argument above a repartition/Exchange,
    # trips a Spark planner bug — the Python UDF is left unextracted
    # inside an interpreted projection and every task dies with
    # [INTERNAL_ERROR] "Cannot evaluate expression: pythonUDF".
    return _gram_expr(_norm_tokens_sql(f"`{name}`"), n, distinct)


def _gram_expr(toks_sql: str, n: int, distinct: bool) -> Column:
    """Sliding n-grams over a token-array SQL expression (a column
    reference or an inline tokenizer) — no nested-lambda capture."""
    grams = (
        f"CASE WHEN size({toks_sql}) >= {int(n)} THEN "
        f"transform(sequence(0, size({toks_sql}) - {int(n)}), "
        f"i -> concat_ws(' ', slice({toks_sql}, i + 1, {int(n)}))) "
        f"ELSE array() END"
    )
    if distinct:
        grams = f"array_distinct({grams})"
    return F.expr(grams)


def with_word_ngrams(df: DataFrame, text_col: str, n: int,
                     out_col: str, distinct: bool = True,
                     tokens_col: Optional[str] = None) -> DataFrame:
    """The corpus-scale n-gram builder: identical output to
    :func:`word_ngrams`, but the tokenizer runs ONCE per row — the
    token array lands in a real intermediate column, and
    CollapseProject keeps non-cheap aliases referenced more than once
    as their own projection instead of re-inlining them (verified: one
    whitespace-split in the optimized plan vs one per use site
    inline; pinned by test_single_tokenize_in_plan).  Also the
    planner-safe shape: no lambda nesting, so pandas UDFs over the
    gram column extract correctly above any Exchange.

    ``tokens_col`` keeps the intermediate token array under that name
    (NULL text → NULL tokens) so callers needing token counts don't
    re-run the tokenizer; omitted, it is dropped."""
    if n <= 0:
        raise ValueError("with_word_ngrams n must be > 0")
    tok_col = tokens_col or f"__wn_toks_{out_col}"
    staged = df.withColumn(
        tok_col, F.expr(_norm_tokens_sql(f"`{text_col}`"))
    )
    out = staged.withColumn(
        out_col, _gram_expr(f"`{tok_col}`", n, distinct)
    )
    return out if tokens_col else out.drop(tok_col)


def _gram_hashes(grams: Column, seed: int) -> Column:
    """xxhash64 of each gram, JVM-side — only ``array<long>`` ever
    crosses the Arrow boundary on the bloom path, never gram text."""
    return F.transform(grams, lambda g: F.xxhash64(g, F.lit(int(seed))))


def _bench_gram_rows(benchmark: DataFrame, text_col: str,
                     n: int) -> DataFrame:
    """The benchmark's distinct-gram table (one skinny string column
    ``__gram``) — the broadcast side of the exact JOIN scoring path.
    Benchmarks are small by contract.  (The Bloom build paths no
    longer route through here: they inline hash-level pipelines — the
    collect build avoids the explode/distinct entirely, the
    distributed build dedupes on the 8-byte hash.)

    Measured (sf0.1, 295-doc benchmark): rebalancing the benchmark
    before the gram chain LOSES ~0.4 s — the added exchange + AQE
    stage outweighs parallelizing the single-task tokenize, so the
    scan's own layout is kept (a real benchmark is file-split
    anyway)."""
    return (
        with_word_ngrams(benchmark, text_col, n, "__wn_g")
        .select(F.explode("__wn_g").alias("__gram"))
        .distinct()
    )


class ContaminationFilter:
    """A prebuilt benchmark Bloom filter with its gram config pinned —
    pass to :func:`contamination_scores` as ``benchmark`` to amortize
    the benchmark build across corpora / bench iterations / streaming
    micro-batch plans.  Build with :func:`build_contamination_filter`;
    carrying (n, seed) inside the object makes a config-mismatched
    probe impossible by construction.

    Checkpointable: ``to_bytes``/``from_bytes`` give a self-describing
    wire blob (``GSCF`` + version + gram config + the Bloom blob), so
    a daily pipeline builds the eval-set filter once and stores it
    next to its other sketch state (sources/checkpoint.py).  Also
    picklable (Spark closures / joblib)."""

    __slots__ = ("blob", "n", "seed", "n_bench_grams")
    _MAGIC = b"GSCF"

    def __init__(self, blob: bytes, n: int, seed: int,
                 n_bench_grams: int):
        self.blob = blob
        self.n = n
        self.seed = seed
        self.n_bench_grams = n_bench_grams

    def to_bytes(self) -> bytes:
        import struct

        return (
            self._MAGIC
            + struct.pack("<Biqq", 1, int(self.n), int(self.seed),
                          int(self.n_bench_grams))
            + bytes(self.blob)
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "ContaminationFilter":
        import struct

        data = bytes(data)
        if len(data) < 4 + 1 + struct.calcsize("<iqq"):
            raise ValueError(
                f"ContaminationFilter.from_bytes: truncated GSCF blob "
                f"({len(data)} bytes)"
            )
        if data[:4] != cls._MAGIC:
            raise ValueError(
                "ContaminationFilter.from_bytes: bad magic "
                f"{data[:4]!r} (want {cls._MAGIC!r})"
            )
        ver = data[4]
        if ver != 1:
            raise ValueError(
                f"ContaminationFilter.from_bytes: unknown version {ver}"
            )
        n, seed, n_bench = struct.unpack_from("<iqq", data, 5)
        blob = data[5 + struct.calcsize("<iqq"):]
        # validate the payload decodes as a Bloom blob up front
        from gr_tdigest_spark.sketches.bloom import BloomFilter

        BloomFilter.from_bytes(blob)
        return cls(blob, n, seed, n_bench)

    def __getstate__(self):
        return (self.blob, self.n, self.seed, self.n_bench_grams)

    def __setstate__(self, state):
        self.blob, self.n, self.seed, self.n_bench_grams = state


# collect-build toggle: "true" (default) pulls each benchmark
# document's distinct gram-hash array (8 B per hash) to the driver,
# which dedupes them with np.unique and sets the Bloom bits locally —
# ONE Spark job instead of three (count + two-phase aggregate + first).
# Driver memory scales with the per-document distinct gram occurrences
# summed over the documents, not with the global distinct set: the same
# order as the benchmark text and as the join method's broadcast gram
# table (benchmarks are the small side by contract); set "false"
# for a pathologically large benchmark to build through the distributed
# bloom_agg instead. Both paths produce byte-identical blobs (bitwise
# OR of the same positions, same n_added bookkeeping).
_COLLECT_BUILD_CONF = "spark.gr_tdigest.contamination.collectBuild"


def build_contamination_filter(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 8,
    seed: int = 0,
    bloom_fpr: float = 1e-6,
) -> ContaminationFilter:
    """One-time build of the benchmark's gram Bloom filter (the same
    filter the inline bloom path builds per call).  The returned object
    is a plain driver-side value — reusable across any number of
    corpora, picklable into checkpoints."""
    from gr_tdigest_spark.sketches.bloom import optimal_bloom

    if not (0.0 < bloom_fpr < 1.0):
        raise ValueError("bloom_fpr must be in (0, 1)")
    collect_build = str(benchmark.sparkSession.conf.get(
        _COLLECT_BUILD_CONF, "true"
    )).lower() == "true"
    if collect_build:
        # ONE job, NO explode and NO distinct exchange: the per-doc
        # gram-hash ARRAYS (already per-doc distinct) come to the
        # driver as array<long> cells and np.unique flattens them into
        # the global distinct set.  Row-exploding the grams is the
        # dominant cost of the exchange-based build (measured: explode
        # alone triples the stage), and the driver footprint is 8 B
        # per per-doc-distinct gram occurrence — the same order as the
        # benchmark TEXT itself, i.e. small by the same contract that
        # lets the join path broadcast the full gram table.  The blob
        # is byte-identical to the distributed build (bitwise OR is
        # order-free, n_added = distinct hash count either way).
        cells = (
            with_word_ngrams(benchmark, text_col, n, "__wn_g")
            .select(_gram_hashes(F.col("__wn_g"), seed).alias("__gh"))
            .toPandas()["__gh"]
        )
        flat = [
            np.asarray(a, dtype=np.int64) for a in cells
            if a is not None and len(a)
        ]
        arr = np.unique(np.concatenate(flat)) if flat else \
            np.empty(0, np.int64)
        n_bench = int(arr.size)
        flt = optimal_bloom(max(n_bench, 1), fpr=bloom_fpr,
                            seed=11 + seed)
        flt.add(arr)
        return ContaminationFilter(flt.to_bytes(), int(n), int(seed),
                                   n_bench)

    # distributed build: distinct on the 8-byte HASH, not the gram
    # string — the same hash set reaches the Bloom either way (hashing
    # is deterministic, and a 2^-64 cross-gram collision conflates
    # exactly what the filter conflates), and the map-side partial
    # distinct + exchange run over int64s instead of gram strings
    bench_hashes = (
        with_word_ngrams(benchmark, text_col, n, "__wn_g")
        .select(F.explode("__wn_g").alias("__gram"))
        .select(F.xxhash64("__gram", F.lit(int(seed))).alias("__gh"))
        .distinct()
    )

    from gr_tdigest_spark.operators.companions import bloom_agg

    n_bench = bench_hashes.count()
    shape = optimal_bloom(max(n_bench, 1), fpr=bloom_fpr,
                          seed=11 + seed)
    row = bloom_agg(
        bench_hashes, keys=None, col="__gh",
        m_bits=shape.m_bits, k=shape.k, seed=shape.seed,
    ).select("bloom").first()
    blob = bytes(row[0]) if row is not None and row[0] is not None \
        else shape.to_bytes()
    return ContaminationFilter(blob, int(n), int(seed), int(n_bench))


def contamination_scores(
    df: DataFrame,
    id_cols: Union[str, Sequence[str]],
    benchmark: Union[DataFrame, ContaminationFilter],
    text_col: str = "text",
    bench_text_col: Optional[str] = None,
    n: int = 8,
    method: Optional[str] = None,
    seed: int = 0,
    bloom_fpr: float = 1e-6,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Per-document benchmark-overlap scores.

    Returns ``df``'s rows with three appended columns:

    - ``n_grams`` — distinct word n-grams in the doc (0 for NULL/short
      texts);
    - ``n_hit`` — how many of them occur in the benchmark;
    - ``contamination`` — ``n_hit / n_grams`` ∈ [0, 1], NULL when the
      doc has no grams (no evidence either way — :func:`decontaminate`
      keeps such docs).

    ``method='join'`` (default): broadcast LEFT SEMI join of exploded
    doc grams against the benchmark's distinct-gram table — exact, all
    JVM.  ``method='bloom'``: probe a tree-aggregated Bloom filter of
    the benchmark grams row-locally (no shuffle, no join; ``n_hit``
    may be inflated by the filter's FPR, never deflated).  Size it
    with ``bloom_fpr`` (expected inflation per doc ≈ fpr · n_grams).
    ``broadcast_benchmark=False`` drops the broadcast hint on the join
    path for a benchmark too large to broadcast (shuffle join on the
    gram — still skinny).

    Contract (shared with operators/sample.py): ``id_cols`` identify
    rows uniquely and non-NULL — the join path reassembles scores by
    id.  The bloom path computes scores row-locally and carries no id
    requirement (duplicate/NULL ids pass through).

    ``benchmark`` may be a prebuilt :class:`ContaminationFilter`
    (bloom method only — its pinned ``n``/``seed`` override the
    arguments): the per-call benchmark gram scan + Bloom aggregation
    disappears, which is the shape for scoring many corpora — or
    every micro-batch of a stream — against one eval set.
    """
    if method is None:
        # a prebuilt filter can only be probed; a DataFrame benchmark
        # defaults to the exact join path (the historical default)
        method = "bloom" if isinstance(benchmark, ContaminationFilter) \
            else "join"
    if method not in ("join", "bloom"):
        raise ValueError(
            f"contamination_scores method must be join/bloom, got {method!r}"
        )
    if not (0.0 < bloom_fpr < 1.0):
        raise ValueError("bloom_fpr must be in (0, 1)")
    ids = [id_cols] if isinstance(id_cols, str) else list(id_cols)
    if isinstance(benchmark, ContaminationFilter):
        if method != "bloom":
            raise ValueError(
                "a prebuilt ContaminationFilter requires method='bloom' "
                "(the join path needs the benchmark gram TABLE)"
            )
        return _bloom_probe(df, text_col, benchmark.blob,
                            benchmark.n, benchmark.seed)
    btc = bench_text_col or text_col

    if method == "bloom":
        # one definition of the benchmark-filter build (shared with the
        # prebuilt path — including its empty-benchmark fallback)
        flt = build_contamination_filter(benchmark, btc, n, seed,
                                         bloom_fpr)
        return _bloom_probe(df, text_col, flt.blob, n, seed)
    bench = _bench_gram_rows(benchmark, btc, n)

    doc = with_word_ngrams(df, text_col, n, "__grams") \
        .withColumn("n_grams", F.size("__grams").cast("long"))
    exploded = doc.select(*ids, F.explode("__grams").alias("__gram"))
    b = F.broadcast(bench) if broadcast_benchmark else bench
    hits = (
        exploded.join(b, on="__gram", how="leftsemi")
        .groupBy(*ids).agg(F.count("*").alias("__n_hit"))
    )
    out = doc.join(hits, on=ids, how="left").withColumn(
        "n_hit", F.coalesce(F.col("__n_hit"), F.lit(0)).cast("long")
    ).drop("__grams", "__n_hit")
    return _with_fraction(out)


def _with_fraction(out: DataFrame) -> DataFrame:
    return out.withColumn(
        "contamination",
        F.when(
            F.col("n_grams") > 0,
            F.col("n_hit").cast("double") / F.col("n_grams"),
        ),
    )


def _bloom_probe(df: DataFrame, text_col: str, blob: bytes,
                 n: int, seed: int) -> DataFrame:
    """The shuffle-free scale path: row-local probe of a (pre)built
    benchmark Bloom blob.  The Bloom holds the grams' xxhash64 values
    (hashed JVM-side on BOTH sides with one seed), so only
    ``array<long>`` crosses Arrow — document text never round-trips
    through Python."""
    from gr_tdigest_spark.sketches.bloom import BloomFilter

    bc = df.sparkSession.sparkContext.broadcast(blob)

    @F.pandas_udf(LongType())
    def _hit_count(grams: pd.Series) -> pd.Series:
        sk = BloomFilter.from_bytes(bc.value)
        lens = grams.map(lambda a: 0 if a is None else len(a)).to_numpy()
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in grams if a is not None
             and len(a)] or [np.empty(0, np.int64)]
        )
        member = sk.contains(flat).astype(np.int64) if flat.size else \
            np.empty(0, np.int64)
        # segment sums: one reduceat over the batch, no per-row loop
        out = np.zeros(len(grams), dtype=np.int64)
        nz = lens > 0
        if nz.any():
            starts = np.zeros(int(nz.sum()), dtype=np.int64)
            starts[1:] = np.cumsum(lens[nz])[:-1]
            out[nz] = np.add.reduceat(member, starts) if member.size \
                else 0
        return pd.Series(out)

    doc = with_word_ngrams(df, text_col, n, "__wn_g").withColumn(
        "__gh", _gram_hashes(F.col("__wn_g"), seed)
    ).drop("__wn_g").withColumn("n_grams", F.size("__gh").cast("long"))
    out = doc.withColumn("n_hit", _hit_count("__gh")).drop("__gh")
    return _with_fraction(out)


def decontaminate(
    df: DataFrame,
    id_cols: Union[str, Sequence[str]],
    benchmark: Union[DataFrame, ContaminationFilter],
    threshold: float = 0.5,
    keep_scores: bool = False,
    **kwargs,
) -> DataFrame:
    """Drop documents whose benchmark contamination is ≥ ``threshold``.

    Docs with no n-grams (NULL/short texts) carry no evidence and are
    KEPT — decontamination is a targeted removal, not a length filter
    (compose with a quality filter for that).  ``keep_scores=True``
    retains the three score columns on the survivors; all other
    keyword arguments pass through to :func:`contamination_scores`
    (``n``, ``method``, ``seed``, ``bloom_fpr``, ...).

    On ``method='bloom'``, false positives can only inflate scores —
    i.e. the Bloom path may drop a few extra docs near the threshold
    (rate bounded by ``bloom_fpr``), never leak a contaminated one.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("decontaminate threshold must be in (0, 1]")
    scored = contamination_scores(df, id_cols, benchmark, **kwargs)
    kept = scored.where(
        F.col("contamination").isNull()
        | (F.col("contamination") < F.lit(float(threshold)))
    )
    if keep_scores:
        return kept
    return kept.drop("n_grams", "n_hit", "contamination")


def _unit_hash_rows(df: DataFrame, text_col: str, unit: str, n: int,
                    seed: int) -> DataFrame:
    """One int64 hash row per content unit of each document — all JVM
    (xxhash64), so only 8-byte hashes ever reach the sketch aggregate."""
    if unit == "ngram":
        return (
            with_word_ngrams(df, text_col, n, "__wn_g")
            .select(F.explode(
                _gram_hashes(F.col("__wn_g"), seed)
            ).alias("__uh"))
        )
    if unit == "line":
        ln = F.explode(F.split(F.col(text_col), "\n")).alias("__ln")
        return (
            df.select(ln)
            .where(F.trim("__ln") != "")
            .select(F.xxhash64("__ln", F.lit(int(seed))).alias("__uh"))
        )
    if unit == "doc":
        return (
            df.where(F.col(text_col).isNotNull())
            .select(F.xxhash64(text_col, F.lit(int(seed))).alias("__uh"))
        )
    raise ValueError(
        f"corpus_overlap unit must be ngram/line/doc, got {unit!r}"
    )


def corpus_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    unit: str = "ngram",
    n: int = 5,
    k: int = 4096,
    seed: int = 0,
) -> DataFrame:
    """Estimated set overlap between two corpora (crawl dumps, dataset
    versions, train vs. eval) from one bounded sketch per side.

    ``unit`` picks the comparison granularity: ``'ngram'`` (distinct
    word ``n``-grams — near-dup-aware content overlap), ``'line'``
    (shared boilerplate / copied passages), ``'doc'`` (exact document
    texts — "how many docs of dump B are already in dump A").

    Scale shape: each corpus is scanned ONCE; units hash to int64
    JVM-side, a bottom-k (KMV) sketch aggregates with map-side combine
    (≤ k entries of state on every executor), and exactly TWO blobs
    reach the driver, where the classical KMV composition
    (:func:`gr_tdigest_spark.sketches.bottomk.overlap_estimate`)
    yields Jaccard, union/intersection sizes, and containments.  All
    estimates are EXACT when the union has < ``k`` distinct units;
    above it the distinct estimates carry ~1/√(k−2) relative error
    and Jaccard ~1/(2√k) absolute.

    Returns a single-row DataFrame:
    ``(distinct_a, distinct_b, union_size, intersection_size, jaccard,
    containment_a_in_b, containment_b_in_a)`` — containment_a_in_b is
    the fraction of A's units also present in B (novelty of B relative
    to A = 1 − containment_b_in_a).
    """
    from gr_tdigest_spark.operators.companions import bottomk_agg
    from gr_tdigest_spark.sketches.bottomk import (
        BottomK, overlap_estimate,
    )

    def _sketch(d: DataFrame) -> BottomK:
        # an EMPTY corpus yields no aggregate row at all (global UDAF
        # over zero rows) — treat both no-row and NULL-blob as empty
        row = bottomk_agg(
            _unit_hash_rows(d, text_col, unit, n, seed),
            keys=None, col="__uh", k=k, seed=seed + 31,
        ).select("bottomk").first()
        blob = row[0] if row is not None else None
        return BottomK.from_bytes(bytes(blob)) if blob is not None \
            else BottomK(k=max(k, 2), seed=seed + 31)

    est = overlap_estimate(_sketch(df_a), _sketch(df_b))
    spark = df_a.sparkSession
    return spark.createDataFrame(
        [(
            float(est["distinct_a"]), float(est["distinct_b"]),
            float(est["union"]), float(est["intersection"]),
            float(est["jaccard"]), float(est["containment_a_in_b"]),
            float(est["containment_b_in_a"]),
        )],
        "distinct_a double, distinct_b double, union_size double, "
        "intersection_size double, jaccard double, "
        "containment_a_in_b double, containment_b_in_a double",
    )


def word_token_count(text_col: str) -> Column:
    """Normalized word-token count of a text column (the same token
    boundary as :func:`word_ngrams`); 0 for NULL text."""
    if not isinstance(text_col, str):
        raise ValueError("word_token_count needs a column NAME")
    name = text_col
    toks = _norm_tokens_sql(f"`{name}`")
    return F.expr(f"size(coalesce({toks}, array()))")


def token_contamination(
    df: DataFrame,
    benchmark: Union[DataFrame, ContaminationFilter],
    text_col: str = "text",
    bench_text_col: Optional[str] = None,
    n: int = 8,
    seed: int = 0,
    bloom_fpr: float = 1e-6,
) -> DataFrame:
    """Token-SPAN contamination (the Llama-2 App. A.6 measure): the
    fraction of a document's tokens covered by at least one benchmark-
    matching n-gram span.  Where :func:`contamination_scores` counts
    matching grams, this measures how much of the document's token
    mass sits inside matched spans — a doc quoting one benchmark
    passage verbatim scores the passage's length, not a diluted gram
    ratio.

    Appends ``n_tokens``, ``n_contaminated_tokens`` (tokens covered by
    the union of matched spans — overlapping spans counted once) and
    ``token_contamination`` (their ratio; NULL when the doc has no
    tokens).  Docs with fewer than ``n`` tokens carry no spans →
    0 covered tokens.

    Scale shape: POSITIONAL grams hash JVM-side, one Bloom probe per
    Arrow batch, span-union coverage via a difference-array cumsum per
    row — no shuffle, no join, stream-safe (same contract as the bloom
    scores path).  False positives can only inflate coverage, never
    miss it.  ``benchmark`` may be a prebuilt
    :class:`ContaminationFilter` (its pinned n/seed override the
    arguments).
    """
    from gr_tdigest_spark.sketches.bloom import BloomFilter

    if isinstance(benchmark, ContaminationFilter):
        blob, n, seed = benchmark.blob, benchmark.n, benchmark.seed
    else:
        flt = build_contamination_filter(
            benchmark, bench_text_col or text_col, n, seed, bloom_fpr
        )
        blob = flt.blob
    bc = df.sparkSession.sparkContext.broadcast(blob)
    n_ = int(n)

    @F.pandas_udf(LongType())
    def _covered(grams: pd.Series) -> pd.Series:
        sk = BloomFilter.from_bytes(bc.value)
        arrs = [
            np.asarray(a, dtype=np.int64) if a is not None
            else np.empty(0, np.int64) for a in grams
        ]
        lens = np.array([a.size for a in arrs], dtype=np.int64)
        flat = np.concatenate(arrs) if lens.sum() else \
            np.empty(0, np.int64)
        mem = sk.contains(flat) if flat.size else np.empty(0, bool)
        out = np.zeros(len(arrs), dtype=np.int64)
        off = 0
        for r, L in enumerate(lens):
            if L == 0:
                continue
            hits = np.nonzero(mem[off:off + L])[0]
            off += L
            if hits.size:
                # union of [h, h+n) spans: difference array + cumsum
                T = int(L) + n_ - 1
                d = np.zeros(T + 1, dtype=np.int32)
                np.add.at(d, hits, 1)
                np.add.at(d, hits + n_, -1)
                out[r] = int((np.cumsum(d[:-1]) > 0).sum())
        return pd.Series(out)

    doc = with_word_ngrams(
        df, text_col, n_, "__wn_g", distinct=False,
        tokens_col="__wn_t",
    ).withColumn(
        "__gh", _gram_hashes(F.col("__wn_g"), seed)
    ).drop("__wn_g").withColumn(
        # token count from the staged token array — tokenizing again
        # via word_token_count would re-run the regexp pipeline per row
        "n_tokens",
        F.when(F.col("__wn_t").isNotNull(), F.size("__wn_t"))
        .otherwise(F.lit(0)).cast("long"),
    ).drop("__wn_t")
    out = doc.withColumn(
        "n_contaminated_tokens",
        F.when(F.size("__gh") > 0, _covered("__gh"))
        .otherwise(F.lit(0)).cast("long"),
    ).drop("__gh")
    return out.withColumn(
        "token_contamination",
        F.when(
            F.col("n_tokens") > 0,
            F.col("n_contaminated_tokens").cast("double")
            / F.col("n_tokens"),
        ),
    )
