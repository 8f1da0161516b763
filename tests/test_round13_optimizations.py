"""Pins for the round-13 optimization invariants.

Each test pins an optimization-critical behavior so a later refactor
cannot silently undo it: the one-leaf literal-array builder must remain
bit-identical to the CreateArray form it replaced, and the element
widths must match what ``F.lit`` would have picked (output schemas are
driver-hashed)."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from bigdatacw1_spark.operators.relational import int_lit_array, lit_array


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_lit_array_double_bit_identical_to_create_array(spark):
    # shortest-repr round-trip must survive Spark's string->double cast:
    # values chosen to stress the parser (subnormal-ish, repeating
    # binary fractions, negative, large magnitude, many digits).
    vals = [
        0.1, -2.5, 1e-17, 5.551115123125783e-17, 123456.789012345,
        2.2250738585072014e-308, 1.7976931348623157e308, -0.0,
        0.30000000000000004, 1.0 / 3.0,
    ]
    df = spark.range(1)
    old = df.select(F.array(*[F.lit(float(v)) for v in vals]).alias("a")).head()["a"]
    new = df.select(lit_array(vals, "double").alias("a")).head()["a"]
    assert [_bits(x) for x in old] == [_bits(y) for y in new]


def test_lit_array_folds_to_single_literal(spark):
    # Catalyst must constant-fold split+cast before execution: the
    # optimized plan carries a literal, not a split() call per row.
    df = spark.range(3).select(
        F.element_at(lit_array(list(range(100)), "bigint"), 5).alias("v")
    )
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "split(" not in optimized.lower()  # ("splits=" is Range's own field)
    assert df.collect() == [(4,)] * 3  # values unchanged by the folding


def test_int_lit_array_width_matches_f_lit(spark):
    df = spark.range(1)
    narrow = df.select(int_lit_array([1, 2, 3]).alias("a"))
    wide = df.select(int_lit_array([1, 1 << 40]).alias("a"))
    assert narrow.schema["a"].dataType.elementType.typeName() == "integer"
    assert wide.schema["a"].dataType.elementType.typeName() == "long"
    assert wide.head()["a"] == [1, 1 << 40]


def test_lit_array_empty_and_nonfinite():
    assert lit_array([], "double") is not None  # empty list is representable
    with pytest.raises(ValueError):
        lit_array([float("nan")], "double")
    with pytest.raises(ValueError):
        lit_array([math.inf], "double")
    with pytest.raises(ValueError):
        lit_array([1], "string")


def test_cm_estimate_unchanged_by_literal_form(spark):
    # end-to-end: the Count-Min probe over the one-leaf literal table
    # returns the same estimates the 16k-child CreateArray form did.
    from bigdatacw1_spark.operators.dedup import build_count_min, cm_estimate

    df = spark.createDataFrame([(i % 7,) for i in range(100)], "k long")
    table = build_count_min(df, "k", width=64, depth=4)
    est = df.select(F.col("k"), cm_estimate("k", table).alias("e")).distinct()
    got = {r["k"]: r["e"] for r in est.collect()}
    # every estimate >= exact count (CMS never underestimates), and with
    # only 7 keys in 64 counters there are no collisions: estimates exact.
    expect = {k: (100 // 7 + (1 if k < 100 % 7 else 0)) for k in range(7)}
    assert got == expect


def _tiny_embeddings(spark, n=40, dim=8):
    import hashlib, struct as _s
    rows = []
    for i in range(n):
        vec = []
        for d in range(dim):
            h = hashlib.sha256(f"v:{i % 10}:{d}".encode()).digest()
            (u,) = _s.unpack("<Q", h[:8])
            vec.append((u / 2**64) * 2.0 - 1.0 + (i // 10) * 1e-3)
        rows.append((i, [float(x) for x in vec], i % 3))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_neardup_score_matches_inline_cosine(spark):
    # the precomputed-norm score must be bit-identical to the inlined
    # cosine() formulation it replaced.
    from bigdatacw1_spark.functions.vector import as_double, cosine
    from bigdatacw1_spark.operators.relational import stable_round
    from bigdatacw1_spark.operators.similarity import embedding_near_duplicates

    emb = _tiny_embeddings(spark)
    got = {
        (r["a"], r["b"]): r["score"]
        for r in embedding_near_duplicates(emb, threshold=0.1).collect()
    }
    a = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"),
                   F.col("label").alias("la"))
    b = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"),
                   F.col("label").alias("lb"))
    ref_score = stable_round(cosine(as_double(F.col("va")), as_double(F.col("vb"))), 6)
    ref = {
        (r["a"], r["b"]): r["score"]
        for r in a.join(b, (F.col("la") == F.col("lb")) & (F.col("a") < F.col("b")))
        .select("a", "b", ref_score.alias("score"))
        .where(F.col("score") >= 0.1)
        .collect()
    }
    assert got == ref and len(got) > 0
    assert all(_bits(v) == _bits(ref[k]) for k, v in got.items())


def test_multiband_single_pass_matches_per_band_union(spark):
    # one-pass (band, bucket) explode must produce exactly the pair set
    # and scores of the original union-of-16-band-joins formulation.
    from bigdatacw1_spark.operators.similarity import (
        _hyperplanes,
        embedding_near_duplicates,
        embedding_near_duplicates_multiband,
        sign_lsh_bucket,
    )

    emb = _tiny_embeddings(spark)
    new = sorted(
        (r["a"], r["b"], r["score"])
        for r in embedding_near_duplicates_multiband(
            emb, threshold=0.2, n_planes=3, n_bands=5
        ).collect()
    )
    out = None
    for band in range(5):
        planes = _hyperplanes(8, 3, seed=7 + 1000 * band)
        pairs = embedding_near_duplicates(
            emb, threshold=0.2, block=sign_lsh_bucket(F.col("embedding"), planes)
        )
        out = pairs if out is None else out.unionByName(pairs)
    old = sorted(
        (r["a"], r["b"], r["score"])
        for r in out.dropDuplicates(["a", "b"]).collect()
    )
    assert new == old and len(new) > 0


def test_multiband_plan_has_no_per_band_union(spark):
    from bigdatacw1_spark.operators.similarity import (
        embedding_near_duplicates_multiband,
    )

    emb = _tiny_embeddings(spark)
    df = embedding_near_duplicates_multiband(emb, n_planes=3, n_bands=5)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in optimized  # the old shape unioned one join per band


def test_pq_concurrent_fits_match_sequential(spark):
    # thread-pooled subspace fits must reproduce a sequential loop's
    # codebooks exactly (seeded k-means over an identical checkpointed
    # input is scheduling-order-free), and two builds must agree (the
    # fixed training layout makes the index machine-independent).
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from bigdatacw1_spark.functions.vector import as_double, dot
    from bigdatacw1_spark.operators.similarity import build_pq_index

    emb = _tiny_embeddings(spark)
    m, nbits, seed = 4, 2, 7
    codes, cbs = build_pq_index(emb, m=m, nbits=nbits, seed=seed)
    codes2, cbs2 = build_pq_index(emb, m=m, nbits=nbits, seed=seed)
    assert cbs == cbs2
    assert sorted(map(tuple, codes.collect())) == sorted(map(tuple, codes2.collect()))

    # sequential reference over the same fixed training layout
    v = as_double(F.col("embedding"))
    norm_ = F.sqrt(dot(v, v))
    unit = F.transform(v, lambda x: x / norm_)
    df = (
        emb.select("vec_id", "embedding")
        .repartition(8, F.xxhash64(F.col("vec_id")))
        .withColumn("__u", unit)
    )
    sub = 8 // m
    for j in range(m):
        df = df.withColumn(f"__s{j}", array_to_vector(F.slice(F.col("__u"), j * sub + 1, sub)))
    df = df.localCheckpoint(eager=False)
    ref = []
    for j in range(m):
        model = KMeans(
            k=2**nbits, seed=seed + j, featuresCol=f"__s{j}", predictionCol=f"__c{j}"
        ).fit(df)
        ref.append([list(map(float, c)) for c in model.clusterCenters()])
    assert cbs == ref


def test_pagerank_cadence_identical(spark):
    # lineage-truncation cadence is a plan-shape knob only: any
    # ckpt_every yields bitwise-identical fixed-point ranks.
    from bigdatacw1_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], "src long, dst long"
    )
    r1 = sorted(pagerank(edges, iterations=6, ckpt_every=1).collect())
    r5 = sorted(pagerank(edges, iterations=6, ckpt_every=5).collect())
    assert r1 == r5 and len(r1) == 5


def test_kcore_stable_flag_semantics_preserved(spark):
    # only the last two rounds' counts are observable; the stable flag
    # must still report whether the final round removed anything.
    from bigdatacw1_spark.operators.graph import kcore_membership

    # triangle + a pendant chain: 2-core = the triangle, reached in one
    # round -> later rounds remove nothing -> stable True.
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6)], "src long, dst long"
    )
    out = kcore_membership(tri, k=2, rounds=4).collect()
    assert sorted(r["node"] for r in out) == [1, 2, 3]
    assert all(r["stable"] for r in out)

    # a long chain peels one layer per round: round 4 still removes
    # nodes -> stable False (the fixed budget did not reach the core).
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], "src long, dst long"
    )
    out2 = kcore_membership(chain, k=2, rounds=4).collect()
    assert out2 and not any(r["stable"] for r in out2)


def test_tokens_col_paths_match_text_paths(spark):
    # the pre-tokenized (tokens_col) fast path of every lexical pair
    # operator must reproduce the text path exactly.
    from bigdatacw1_spark.functions.text import tokens
    from bigdatacw1_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
        shingle_sets,
        tfidf_cosine_pairs,
        winnowing_pairs,
    )
    from bigdatacw1_spark.operators.relational import fan_out

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "lorem ipsum dolor sit amet consectetur adipiscing elit",
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
        "completely different content with no overlap at all here",
        "the quick brown fox jumps over the lazy dog",  # exact dup of 0
    ]
    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)], "doc_id long, text string, source string"
    )
    toks = fan_out(docs.select("doc_id", "text")).select(
        "doc_id", tokens("text").alias("__tk")
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(shingle_sets(toks, tokens_col="__tk")) == rows(shingle_sets(docs))
    assert rows(
        containment_pairs(toks, threshold=0.3, tokens_col="__tk")
    ) == rows(containment_pairs(docs, threshold=0.3))
    assert rows(
        tfidf_cosine_pairs(toks, threshold=0.3, tokens_col="__tk")
    ) == rows(tfidf_cosine_pairs(docs, threshold=0.3))
    assert rows(
        winnowing_pairs(toks, min_shared=1, tokens_col="__tk")
    ) == rows(winnowing_pairs(docs, min_shared=1))
    jt = toks.withColumn("__all", F.lit(1))
    jd = docs.withColumn("__all", F.lit(1))
    assert rows(
        jaccard_pairs(jt, bucket_col="__all", threshold=0.2, max_shingle_df=None, tokens_col="__tk")
    ) == rows(jaccard_pairs(jd, bucket_col="__all", threshold=0.2, max_shingle_df=None))


def test_brute_force_topk_df_enforces_one_row(spark):
    # ADVICE pin: a multi-row query frame must not duplicate ids in the
    # top-k — limit(1) enforces the one-row contract plan-side.
    from bigdatacw1_spark.operators.similarity import brute_force_topk_df

    emb = _tiny_embeddings(spark)
    q2 = emb.select(F.col("embedding").alias("__qvec")).limit(2)
    got = brute_force_topk_df(emb, q2, k=5).collect()
    ids = [r["vec_id"] for r in got]
    assert len(ids) == len(set(ids)) == 5


def test_fan_out_consumers_scan_only_needed_columns(spark):
    """r12 verdict item 5: the fan_out hash spread key hashes every
    column it is given, so an unprojected input widens ReadSchema at
    the scan. Audit: every fan_out-consuming entry's scans read only
    the columns the query touches (documents is 5 wide, embeddings 3 —
    the caps below are the needed-column counts)."""
    import re

    from bigdatacw1_spark.queries import REGISTRY

    SF = "/root/testdata/sf0.001"
    cases = {
        "ext_neardup_lsh_verified": 2,   # doc_id, text
        "ext_repetition_signals": 2,
        "ext_crossdoc_ngram_overlap": 2,
        "ext_minhash_lsh_pairs": 2,
        "ext_simhash": 2,
        "ext_jaccard_pairs": 3,          # doc_id, source, text
        "ext_cosine_topk": 2,            # vec_id, embedding
        "ext_embed_neardup_lsh": 2,
        "ext_knn_graph": 2,
        "tpch_q1_pricing_summary": 7,
    }
    for name, max_cols in cases.items():
        df = REGISTRY[name].fn(spark, SF)
        # formatted explain: the simple toString truncates long FileScan
        # lines, cutting ReadSchema mid-struct.
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert schemas, name
        for s in schemas:
            ncols = len([c for c in s.split(",") if ":" in c])
            assert ncols <= max_cols, (name, s)
