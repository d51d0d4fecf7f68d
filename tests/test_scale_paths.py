"""Scale-path operators: properties that can't be oracle-hash-checked
(approximate sketches, LSH recall) get bounded-error/recall tests instead."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_cherry_shuffle_service_spark.plans.registry import all_specs
from spark_cherry_shuffle_service_spark.sources.catalog import table
from tests.conftest import SF_CORRECT

SPECS = all_specs()


def test_approx_distinct_within_tolerance(spark):
    approx = {
        r["source"]: r["approx_unique_docs"]
        for r in SPECS["text_approx_distinct"].builder(spark, SF_CORRECT).collect()
    }
    exact = {
        r["source"]: r["n"]
        for r in table(spark, SF_CORRECT, "documents")
        .groupBy("source")
        .agg(F.countDistinct(F.md5(F.trim(F.col("text")))).alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for src, a in approx.items():
        assert abs(a - exact[src]) / exact[src] < 0.1, (src, a, exact[src])


def test_minhash_lsh_recall_vs_exact_jaccard(spark):
    """Every pair the LSH path reports must be a true near-dup, and it must
    find the overwhelming majority of true pairs at its threshold (LSH is
    probabilistic; band parameters target ~1.0 recall at j≥0.7)."""
    from spark_cherry_shuffle_service_spark.functions.text import shingles3

    lsh_pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in SPECS["dedup_minhash_lsh"].builder(spark, SF_CORRECT).collect()
    }
    docs = (
        table(spark, SF_CORRECT, "documents")
        .select("doc_id", shingles3(F.col("text")).alias("sh"))
    )
    a = docs.select(F.col("doc_id").alias("da"), F.col("sh").alias("sa"))
    b = docs.select(F.col("doc_id").alias("db"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    j = inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
    true_pairs = {
        (r["da"], r["db"]): r["j"]
        for r in a.join(b, F.col("da") < F.col("db"))
        .select("da", "db", j.alias("j"))
        .filter(F.col("j") >= 0.7)
        .collect()
    }
    # precision: all reported pairs are genuinely >= the verify threshold
    assert all(v >= 0.3 for v in lsh_pairs.values())
    # recall at high similarity
    found = sum(1 for p in true_pairs if p in lsh_pairs)
    assert found >= 0.9 * len(true_pairs), (found, len(true_pairs))


def test_lsh_buckets_group_similar_vectors(spark):
    """Sign-LSH sanity: bucket histogram covers all vectors exactly once,
    and bucket ids fit the plane-count bit budget."""
    rows = SPECS["similarity_lsh_buckets"].builder(spark, SF_CORRECT).collect()
    total = sum(r["n_vectors"] for r in rows)
    n = table(spark, SF_CORRECT, "embeddings").count()
    assert total == n
    assert all(0 <= r["bucket"] < 2**8 for r in rows)


def test_pandas_udf_cosine_matches_jvm_expression(spark):
    """UDF escape hatch (SURVEY.md §2.11): an Arrow-vectorized pandas_udf
    dot product must agree with the JVM-side fold used by the similarity
    operators — validates the documented 'drop to pandas_udf only when
    built-ins cannot express it' path."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from spark_cherry_shuffle_service_spark.functions.vectors import dot

# 'from __future__ import annotations' stringifies hints, which
    # pandas_udf can't infer — declare the scalar UDF without annotations.
    def _dot(a, b):
        import numpy as np

        return pd.Series(
            [float(np.dot(np.asarray(x, dtype="float64"), np.asarray(y, dtype="float64")))
             for x, y in zip(a, b)]
        )

    dot_udf = pandas_udf(_dot, "double")

    emb = table(spark, SF_CORRECT, "embeddings").limit(50)
    both = emb.select(
        dot(F.col("embedding"), F.col("embedding")).alias("jvm"),
        dot_udf(F.col("embedding"), F.col("embedding")).alias("py"),
    ).collect()
    for r in both:
        assert abs(r["jvm"] - r["py"]) <= 1e-9 * max(1.0, abs(r["jvm"]))


def test_lsh_pair_results_subset_of_exact_pairs(spark):
    """The banded sign-LSH near-dup path is the scale-shape replacement for
    the all-pairs product; the all-pairs form survives HERE as the fixture
    cross-check: every reported pair must be a true >= tau pair (exact
    precision), and recall on the fixture's uniform-random vectors (the
    LSH worst case) must clear a sanity floor."""
    from spark_cherry_shuffle_service_spark.functions.vectors import dot, norm

    lsh = {
        (r["vec_a"], r["vec_b"]): r["cosine_micro"]
        for r in SPECS["similarity_pairs"].builder(spark, SF_CORRECT).collect()
    }
    emb = table(spark, SF_CORRECT, "embeddings").select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    a = emb.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"), F.col("nrm").alias("na"))
    b = emb.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"), F.col("nrm").alias("nb"))
    cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    exact = {
        (r["va"], r["vb"]): r["c"]
        for r in a.join(b, F.col("va") < F.col("vb"))
        .select("va", "vb", cos.alias("c"))
        .filter(F.col("c") >= 0.4)
        .collect()
    }
    assert set(lsh) <= set(exact), "LSH reported a non-qualifying pair"
    assert len(lsh) >= 0.3 * len(exact), (len(lsh), len(exact))


def test_prefix_filter_candidates_are_recall_complete(spark):
    """PPJoin prefix filtering is provably complete for the Jaccard
    threshold — the prefix-join result must EQUAL the all-pairs answer."""
    from spark_cherry_shuffle_service_spark.functions.text import shingles3

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in SPECS["dedup_ngram_jaccard"].builder(spark, SF_CORRECT).collect()
    }
    docs = table(spark, SF_CORRECT, "documents").select(
        "doc_id", "source", shingles3(F.col("text")).alias("sh")
    )
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    j = inter.cast("double") / (F.size("a.sh") + F.size("b.sh") - inter)
    exact = {
        (r["doc_a"], r["doc_b"]): r["j"]
        for r in a.join(
            b,
            (F.col("a.source") == F.col("b.source")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"), j.alias("j"))
        .filter(F.col("j") >= 0.3)
        .collect()
    }
    assert set(got) == set(exact), (
        set(exact) - set(got), set(got) - set(exact))


def test_approx_percentile_within_tolerance_of_exact(spark):
    """SCALE.md's production percentile path for UNBOUNDED domains
    (l_extendedprice — where the count-by-value histogram doesn't apply):
    percentile_approx (mergeable one-pass sketch) must land within 1% of
    the exact ordered-set aggregate at default-plus accuracy. The exact
    form stays the oracle-checked query (agg_percentiles); this pins the
    approximation error the swap would introduce at 100 TB."""
    exact = {
        r["l_returnflag"]: (r["price_p25"], r["price_p75"])
        for r in SPECS["agg_percentiles"].builder(spark, SF_CORRECT).collect()
    }
    approx = {
        r["l_returnflag"]: (r["a25"], r["a75"])
        for r in table(spark, SF_CORRECT, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.25, 10000).alias("a25"),
            F.percentile_approx("l_extendedprice", 0.75, 10000).alias("a75"),
        )
        .collect()
    }
    assert set(exact) == set(approx)
    for flag, (e25, e75) in exact.items():
        a25, a75 = approx[flag]
        assert abs(a25 - e25) / e25 < 0.01, (flag, a25, e25)
        assert abs(a75 - e75) / e75 < 0.01, (flag, a75, e75)


def test_ivfpq_rerank_actually_reorders(spark):
    """The exact rerank must be exercised on the fixtures: for at least
    one query, the exact-cosine order of the ADC candidate set differs
    from the ADC order (quantization error is the whole reason the rerank
    stage exists). If this ever degenerates to a no-op the op proves
    nothing."""
    from spark_cherry_shuffle_service_spark.plans.registry import all_specs

    specs = all_specs()
    adc = {
        (r.query_id, r.rnk): r.neighbor_id
        for r in specs["similarity_ivfpq"].builder(spark, SF_CORRECT).collect()
    }
    rer = {
        (r.query_id, r.rnk): r.neighbor_id
        for r in specs["similarity_ivfpq_rerank"].builder(spark, SF_CORRECT).collect()
    }
    assert rer  # non-empty
    diffs = sum(1 for k, v in rer.items() if adc.get(k) != v)
    assert diffs > 0, "rerank returned the ADC order verbatim — stage not exercised"


def test_minhash_signature_hof_matches_explode_groupby(spark):
    """The r12 signature build (nested-HOF minhash_signature, no shuffle)
    must be bit-identical to the explode → 16-column groupBy-min form it
    replaced: same md5 calls, min over the same set, lexicographic string
    ordering in both the array_min and the min aggregate."""
    from spark_cherry_shuffle_service_spark.functions.text import (
        minhash_signature,
        shingles3,
    )
    from spark_cherry_shuffle_service_spark.operators.dedup import _MH_N

    docs = (
        table(spark, SF_CORRECT, "documents")
        .select("doc_id", shingles3(F.col("text")).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    hof = docs.select("doc_id", minhash_signature(F.col("sh"), _MH_N).alias("sig"))
    ex = docs.select("doc_id", F.explode("sh").alias("shingle"))
    hashed = ex.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{s}|"), F.col("shingle"))).alias(f"h{s}")
            for s in range(_MH_N)
        ],
    )
    legacy = (
        hashed.groupBy("doc_id")
        .agg(*[F.min(f"h{s}").alias(f"h{s}") for s in range(_MH_N)])
        .select(
            "doc_id", F.array(*[F.col(f"h{s}") for s in range(_MH_N)]).alias("sig")
        )
    )
    n_docs = docs.count()
    joined = hof.alias("a").join(legacy.alias("b"), "doc_id")
    assert joined.count() == n_docs  # same doc set (size(sh) guard holds)
    assert joined.filter(F.expr("a.sig <> b.sig")).count() == 0
