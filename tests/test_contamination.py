"""Benchmark decontamination: exact replica oracle, bloom/join
agreement, plan shapes, determinism."""

import re

import pytest

from pyspark.sql import functions as F

from gr_tdigest_spark.operators.contamination import (
    contamination_scores, decontaminate, word_ngrams,
)


def ref_ngrams(text, n):
    """Driver-side replica of word_ngrams' contract (independent
    implementation: plain Python string ops, no Spark)."""
    if text is None:
        return set()
    toks = [t for t in re.sub(r"[ \t\n\r\f]+", " ", text.lower())
            .split(" ") if t]
    if len(toks) < n:
        return set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def ref_scores(rows, bench_texts, n):
    bench = set()
    for t in bench_texts:
        bench |= ref_ngrams(t, n)
    out = {}
    for i, t in rows:
        g = ref_ngrams(t, n)
        out[i] = (len(g), len(g & bench))
    return out


BENCH = [
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
]
DOCS = [
    # exact copy of a benchmark doc -> contamination 1.0
    (0, "the quick brown fox jumps over the lazy dog"),
    # embeds a benchmark passage inside fresh text -> partial
    (1, "breaking news today the quick brown fox jumps over the "
        "lazy dog said witnesses downtown"),
    # clean
    (2, "completely unrelated sentences about distributed query "
        "engines and shuffle partitions at scale"),
    # shorter than n tokens -> no grams, NULL contamination
    (3, "too short"),
    # NULL text
    (4, None),
    # whitespace/case normalization must line up with the replica
    (5, "The  QUICK\tbrown fox JUMPS over\nthe lazy dog extra tail"),
    # duplicate grams inside one doc must not double-count
    (6, "pack my box pack my box pack my box with nothing else"),
]
N = 3


@pytest.fixture(scope="module")
def fixture(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    bench = spark.createDataFrame([(t,) for t in BENCH], ["text"])
    return df, bench


class TestJoinPath:
    def test_matches_replica_exactly(self, fixture):
        df, bench = fixture
        got = {
            r["doc_id"]: (r["n_grams"], r["n_hit"], r["contamination"])
            for r in contamination_scores(
                df, "doc_id", bench, n=N
            ).collect()
        }
        exp = ref_scores(DOCS, BENCH, N)
        assert set(got) == set(exp)
        for i, (ng, nh) in exp.items():
            assert got[i][0] == ng, f"doc {i} n_grams"
            assert got[i][1] == nh, f"doc {i} n_hit"
            if ng == 0:
                assert got[i][2] is None
            else:
                assert got[i][2] == pytest.approx(nh / ng)

    def test_known_endpoints(self, fixture):
        df, bench = fixture
        got = {r["doc_id"]: r["contamination"]
               for r in contamination_scores(df, "doc_id", bench,
                                             n=N).collect()}
        assert got[0] == pytest.approx(1.0)   # exact benchmark copy
        assert 0.0 < got[1] < 1.0             # embedded passage
        assert got[2] == 0.0                  # clean
        assert got[3] is None and got[4] is None

    def test_row_passthrough(self, fixture):
        df, bench = fixture
        out = contamination_scores(df.withColumn("extra", F.lit("x")),
                                   "doc_id", bench, n=N)
        assert out.count() == len(DOCS)
        assert {"doc_id", "text", "extra", "n_grams", "n_hit",
                "contamination"} == set(out.columns)

    def test_broadcast_join_in_plan(self, fixture):
        df, bench = fixture
        out = contamination_scores(df, "doc_id", bench, n=N)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
        assert "Window" not in plan

    def test_determinism_under_repartition(self, fixture):
        df, bench = fixture
        a = sorted(contamination_scores(df, "doc_id", bench, n=N)
                   .select("doc_id", "n_hit").collect())
        b = sorted(contamination_scores(df.repartition(7), "doc_id",
                                        bench.repartition(3), n=N)
                   .select("doc_id", "n_hit").collect())
        assert a == b


class TestBloomPath:
    def test_agrees_with_join_at_low_fpr(self, fixture):
        df, bench = fixture
        j = sorted(contamination_scores(df, "doc_id", bench, n=N)
                   .select("doc_id", "n_grams", "n_hit").collect())
        b = sorted(contamination_scores(df, "doc_id", bench, n=N,
                                        method="bloom", bloom_fpr=1e-9)
                   .select("doc_id", "n_grams", "n_hit").collect())
        assert j == b

    def test_never_undercounts(self, fixture):
        # no false negatives: even a tiny, collision-prone filter may
        # only INFLATE n_hit
        df, bench = fixture
        j = {r["doc_id"]: r["n_hit"]
             for r in contamination_scores(df, "doc_id", bench,
                                           n=N).collect()}
        b = {r["doc_id"]: r["n_hit"]
             for r in contamination_scores(df, "doc_id", bench, n=N,
                                           method="bloom",
                                           bloom_fpr=0.5).collect()}
        assert all(b[i] >= j[i] for i in j)

    def test_no_shuffle_on_corpus_side(self, fixture):
        # the scale contract: scoring is row-local — no Exchange, no
        # join in the executed plan
        df, bench = fixture
        out = contamination_scores(df, "doc_id", bench, n=N,
                                   method="bloom")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Join" not in plan

    def test_null_and_duplicate_ids_pass_through(self, fixture, spark):
        # bloom path is row-local: no id contract
        _, bench = fixture
        df = spark.createDataFrame(
            [(None, BENCH[0]), (1, BENCH[0]), (1, "other words here")],
            ["doc_id", "text"],
        )
        out = contamination_scores(df, "doc_id", bench, n=N,
                                   method="bloom").collect()
        assert len(out) == 3


class TestDecontaminate:
    def test_threshold_semantics(self, fixture):
        df, bench = fixture
        kept = decontaminate(df, "doc_id", bench, threshold=0.5, n=N)
        ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        # doc 0 (1.0) dropped; docs with no grams kept
        assert 0 not in ids
        assert {2, 3, 4} <= ids
        # threshold is inclusive-drop: a doc AT the threshold goes
        scored = {r["doc_id"]: r["contamination"]
                  for r in contamination_scores(df, "doc_id", bench,
                                                n=N).collect()}
        for i, c in scored.items():
            if c is not None and c >= 0.5:
                assert i not in ids
            else:
                assert i in ids

    def test_keep_scores(self, fixture):
        df, bench = fixture
        out = decontaminate(df, "doc_id", bench, threshold=0.99, n=N,
                            keep_scores=True)
        assert "contamination" in out.columns
        out2 = decontaminate(df, "doc_id", bench, threshold=0.99, n=N)
        assert "contamination" not in out2.columns
        assert set(out2.columns) == set(df.columns)

    def test_validation(self, fixture):
        df, bench = fixture
        with pytest.raises(ValueError, match="threshold"):
            decontaminate(df, "doc_id", bench, threshold=0.0)
        with pytest.raises(ValueError, match="method"):
            contamination_scores(df, "doc_id", bench, method="nope")
        with pytest.raises(ValueError, match="bloom_fpr"):
            contamination_scores(df, "doc_id", bench, bloom_fpr=2.0)
        with pytest.raises(ValueError, match="n must be"):
            word_ngrams("text", 0)


class TestWordNgrams:
    def test_replica_parity_on_fixture_corpus(self, spark, sf_dir):
        # the real documents table: every doc's gram set must equal
        # the independent driver-side replica
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
            .select("doc_id", "text").limit(50)
        got = {r["doc_id"]: set(r["g"]) for r in docs.select(
            "doc_id", word_ngrams("text", 5).alias("g")).collect()}
        for r in docs.collect():
            assert got[r["doc_id"]] == ref_ngrams(r["text"], 5), \
                f"doc {r['doc_id']}"

    def test_nondistinct_keeps_duplicates(self, spark):
        df = spark.createDataFrame([("a b a b a b",)], ["text"])
        dup = df.select(word_ngrams("text", 2, distinct=False)
                        .alias("g")).first()["g"]
        dis = df.select(word_ngrams("text", 2).alias("g")).first()["g"]
        assert len(dup) == 5 and len(dis) == 2


class TestPrebuiltFilter:
    def test_collect_build_byte_equals_distributed(self, fixture, spark):
        """The driver-side collect build (one job) must emit the SAME
        wire blob as the distributed bloom_agg build: identical bit
        positions (bitwise OR is order-free) and identical n_added
        bookkeeping, so probe results cannot depend on the build path."""
        _, bench = fixture
        from gr_tdigest_spark.operators.contamination import (
            _COLLECT_BUILD_CONF, build_contamination_filter,
        )

        local = build_contamination_filter(bench, n=N, bloom_fpr=1e-6)
        spark.conf.set(_COLLECT_BUILD_CONF, "false")
        try:
            dist = build_contamination_filter(bench, n=N, bloom_fpr=1e-6)
        finally:
            spark.conf.unset(_COLLECT_BUILD_CONF)
        assert local.to_bytes() == dist.to_bytes()
        assert local.n_bench_grams == dist.n_bench_grams > 0

    def test_prebuilt_equals_inline_bloom(self, fixture):
        df, bench = fixture
        from gr_tdigest_spark.operators.contamination import (
            build_contamination_filter,
        )

        flt = build_contamination_filter(bench, n=N, bloom_fpr=1e-9)
        pre = sorted(contamination_scores(df, "doc_id", flt,
                                          method="bloom")
                     .select("doc_id", "n_grams", "n_hit").collect())
        inl = sorted(contamination_scores(df, "doc_id", bench, n=N,
                                          method="bloom",
                                          bloom_fpr=1e-9)
                     .select("doc_id", "n_grams", "n_hit").collect())
        assert pre == inl
        assert flt.n == N and flt.n_bench_grams > 0

    def test_filter_pins_its_own_config(self, fixture):
        # the filter's (n, seed) win over the call's arguments: a probe
        # with conflicting args still scores with the BUILT config
        df, bench = fixture
        from gr_tdigest_spark.operators.contamination import (
            build_contamination_filter,
        )

        flt = build_contamination_filter(bench, n=N, seed=3)
        with_args = contamination_scores(
            df, "doc_id", flt, method="bloom", n=99, seed=42
        ).select("doc_id", "n_hit")
        ref = contamination_scores(
            df, "doc_id", bench, method="bloom", n=N, seed=3,
            bloom_fpr=1e-6,
        ).select("doc_id", "n_hit")
        assert sorted(with_args.collect()) == sorted(ref.collect())

    def test_join_method_rejects_filter(self, fixture):
        df, bench = fixture
        from gr_tdigest_spark.operators.contamination import (
            build_contamination_filter,
        )

        flt = build_contamination_filter(bench, n=N)
        with pytest.raises(ValueError, match="method='bloom'"):
            contamination_scores(df, "doc_id", flt, method="join")

    def test_empty_benchmark_filter(self, spark, fixture):
        df, _ = fixture
        from gr_tdigest_spark.operators.contamination import (
            build_contamination_filter,
        )

        empty = spark.createDataFrame([], "text string")
        flt = build_contamination_filter(empty, n=N)
        out = contamination_scores(df, "doc_id", flt, method="bloom")
        assert all(r["n_hit"] == 0 for r in out.collect())


def ref_token_coverage(text, bench_texts, n):
    """Independent replica: tokens covered by the union of benchmark-
    matching n-gram spans."""
    if text is None:
        return 0, 0
    toks = [t for t in re.sub(r"[ \t\n\r\f]+", " ", text.lower())
            .split(" ") if t]
    T = len(toks)
    bench = set()
    for t in bench_texts:
        bench |= ref_ngrams(t, n)
    covered = set()
    for i in range(T - n + 1):
        if " ".join(toks[i:i + n]) in bench:
            covered |= set(range(i, i + n))
    return T, len(covered)


class TestTokenContamination:
    def test_matches_replica(self, fixture):
        from gr_tdigest_spark.operators.contamination import (
            token_contamination,
        )

        df, bench = fixture
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_contaminated_tokens"])
            for r in token_contamination(
                df, bench, n=N, bloom_fpr=1e-9
            ).collect()
        }
        for i, t in DOCS:
            exp = ref_token_coverage(t, BENCH, N)
            assert got[i] == exp, f"doc {i}: {got[i]} != {exp}"

    def test_span_vs_gram_measure(self, spark, fixture):
        # one verbatim benchmark sentence inside a long doc: the token
        # measure reports the passage's length, the gram measure a
        # diluted ratio — both correct, deliberately different
        from gr_tdigest_spark.operators.contamination import (
            token_contamination,
        )

        _, bench = fixture
        filler = " ".join(f"w{i}" for i in range(91))
        df = spark.createDataFrame(
            [(1, filler + " " + BENCH[0])], ["doc_id", "text"]
        )
        r = token_contamination(df, bench, n=3, bloom_fpr=1e-9).first()
        # 9 benchmark tokens covered out of 100
        assert r["n_tokens"] == 100
        assert r["n_contaminated_tokens"] == 9
        assert r["token_contamination"] == pytest.approx(0.09)

    def test_overlapping_spans_count_once(self, spark, fixture):
        from gr_tdigest_spark.operators.contamination import (
            token_contamination,
        )

        _, bench = fixture
        # the full benchmark sentence: every sliding 3-gram hits, spans
        # overlap heavily, coverage is exactly the 9 tokens
        df = spark.createDataFrame([(1, BENCH[0])], ["doc_id", "text"])
        r = token_contamination(df, bench, n=3, bloom_fpr=1e-9).first()
        assert r["n_contaminated_tokens"] == r["n_tokens"] == 9
        assert r["token_contamination"] == pytest.approx(1.0)

    def test_short_and_null_docs(self, spark, fixture):
        from gr_tdigest_spark.operators.contamination import (
            token_contamination,
        )

        _, bench = fixture
        df = spark.createDataFrame(
            [(1, "two words"), (2, None), (3, "")], ["doc_id", "text"]
        )
        got = {r["doc_id"]: (r["n_tokens"], r["n_contaminated_tokens"],
                             r["token_contamination"])
               for r in token_contamination(df, bench, n=3).collect()}
        assert got[1] == (2, 0, 0.0)
        assert got[2] == (0, 0, None)
        assert got[3] == (0, 0, None)

    def test_prebuilt_filter_and_plan(self, fixture):
        from gr_tdigest_spark.operators.contamination import (
            build_contamination_filter, token_contamination,
        )

        df, bench = fixture
        flt = build_contamination_filter(bench, n=N, bloom_fpr=1e-9)
        a = sorted(token_contamination(df, flt)
                   .select("doc_id", "n_contaminated_tokens").collect())
        b = sorted(token_contamination(df, bench, n=N, bloom_fpr=1e-9)
                   .select("doc_id", "n_contaminated_tokens").collect())
        assert a == b
        plan = token_contamination(df, flt)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan


class TestPlannerSafety:
    def test_bloom_scores_survive_repartition(self, fixture, spark):
        """Regression: a pandas UDF whose argument contains a nested
        lambda capturing an outer lambda variable, above an Exchange,
        dies with [INTERNAL_ERROR] Cannot evaluate PythonUDF (the UDF
        is left unextracted in an interpreted projection).  The gram
        builder must therefore stay capture-free — this pins the
        failing shape end-to-end: repartition → bloom scores →
        aggregate."""
        df, bench = fixture
        out = contamination_scores(
            df.repartition(4), "doc_id", bench, n=N, method="bloom"
        ).agg(F.sum("n_hit"), F.count("*")).collect()
        assert out[0][1] == len(DOCS)
        # and the token-span path too
        from gr_tdigest_spark.operators.contamination import (
            token_contamination,
        )
        out2 = token_contamination(
            df.repartition(4), bench, n=N
        ).agg(F.sum("n_contaminated_tokens")).collect()
        assert out2[0][0] is not None

    def test_single_tokenize_in_plan(self, fixture):
        """with_word_ngrams evaluates the tokenizer once: exactly one
        whitespace-split in the optimized plan (the inline word_ngrams
        form repeats it at every use site)."""
        from gr_tdigest_spark.operators.contamination import (
            with_word_ngrams, word_ngrams,
        )

        df, _ = fixture
        fast = with_word_ngrams(df, "text", N, "g")
        plan = fast._jdf.queryExecution().optimizedPlan().toString()
        assert len(re.findall(r"split\(\s*lower\(", plan)) == 1
        inline = df.select(word_ngrams("text", N).alias("g"))
        iplan = inline._jdf.queryExecution().optimizedPlan().toString()
        assert len(re.findall(r"split\(\s*lower\(", iplan)) > 1

    def test_helper_equals_inline(self, fixture):
        from gr_tdigest_spark.operators.contamination import (
            with_word_ngrams,
        )

        df, _ = fixture
        a = {r["doc_id"]: r["g"] for r in with_word_ngrams(
            df, "text", N, "g").select("doc_id", "g").collect()}
        b = {r["doc_id"]: r["g"] for r in df.select(
            "doc_id", word_ngrams("text", N).alias("g")).collect()}
        assert a == b
        # non-distinct variant too
        c = {r["doc_id"]: r["g"] for r in with_word_ngrams(
            df, "text", N, "g", distinct=False)
            .select("doc_id", "g").collect()}
        d = {r["doc_id"]: r["g"] for r in df.select(
            "doc_id", word_ngrams("text", N, distinct=False).alias("g"))
            .collect()}
        assert c == d


class TestReviewFixes:
    def test_inline_bloom_empty_benchmark(self, fixture, spark):
        # empty benchmark (or all-short docs): bloom path must return
        # zero hits, not crash on the missing aggregate row
        df, _ = fixture
        empty = spark.createDataFrame([], "text string")
        out = contamination_scores(df, "doc_id", empty, n=N,
                                   method="bloom").collect()
        assert all(r["n_hit"] == 0 for r in out)
        short = spark.createDataFrame([("one two",)], ["text"])
        out2 = contamination_scores(df, "doc_id", short, n=N,
                                    method="bloom").collect()
        assert all(r["n_hit"] == 0 for r in out2)

    def test_token_contamination_single_tokenize(self, fixture):
        from gr_tdigest_spark.operators.contamination import (
            token_contamination,
        )

        df, bench = fixture
        plan = token_contamination(df, bench, n=N)._jdf \
            .queryExecution().optimizedPlan().toString()
        # corpus side tokenizes once; the benchmark build is collected
        # eagerly and never appears in this plan
        assert len(re.findall(r"split\(\s*lower\(", plan)) == 1

    def test_column_argument_rejected_loudly(self, fixture):
        df, _ = fixture
        from gr_tdigest_spark.operators.contamination import (
            word_token_count,
        )

        with pytest.raises(ValueError, match="column NAME"):
            word_ngrams(F.col("text"), 3)
        with pytest.raises(ValueError, match="column NAME"):
            word_token_count(F.col("text"))


class TestFilterWire:
    def test_roundtrip_and_pickle(self, fixture):
        import pickle

        from gr_tdigest_spark.operators.contamination import (
            ContaminationFilter, build_contamination_filter,
        )

        df, bench = fixture
        flt = build_contamination_filter(bench, n=N, seed=7)
        rt = ContaminationFilter.from_bytes(flt.to_bytes())
        assert (rt.n, rt.seed, rt.n_bench_grams) == (
            flt.n, flt.seed, flt.n_bench_grams)
        assert rt.blob == flt.blob
        pk = pickle.loads(pickle.dumps(flt))
        assert pk.blob == flt.blob and pk.n == flt.n
        # the restored filter scores identically
        a = sorted(contamination_scores(df, "doc_id", rt,
                                        method="bloom")
                   .select("doc_id", "n_hit").collect())
        b = sorted(contamination_scores(df, "doc_id", flt,
                                        method="bloom")
                   .select("doc_id", "n_hit").collect())
        assert a == b

    def test_corruption_detected(self, fixture):
        from gr_tdigest_spark.operators.contamination import (
            ContaminationFilter, build_contamination_filter,
        )

        _, bench = fixture
        w = build_contamination_filter(bench, n=N).to_bytes()
        with pytest.raises(ValueError, match="magic"):
            ContaminationFilter.from_bytes(b"XXXX" + w[4:])
        with pytest.raises(ValueError, match="version"):
            ContaminationFilter.from_bytes(w[:4] + b"\x09" + w[5:])
        with pytest.raises(Exception):
            ContaminationFilter.from_bytes(w[:30])  # truncated payload
