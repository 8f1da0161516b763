"""Property tests for the hash-based extension operators (the rows-only
entries): determinism across partitionings, LSH recall vs exact Jaccard,
simhash locality, ANN-vs-brute-force consistency, multimodal plumbing.
"""

from __future__ import annotations

import pytest

from bigdatacw1_spark.functions.text import tokens, word_ngrams
from bigdatacw1_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash64,
)
from bigdatacw1_spark.operators.multimodal import (
    attach_binary_payload,
    decode_image,
    extract_features,
)
from bigdatacw1_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_duplicates,
    lsh_topk,
)
from bigdatacw1_spark.sources.catalog import load_table
from tests.conftest import SF_SMALL
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMALL, "documents")


def test_minhash_deterministic_across_partitionings(spark, docs):
    a = minhash_signatures(docs.repartition(1)).collect()
    b = minhash_signatures(docs.repartition(8)).collect()
    assert {r["doc_id"]: r["sig"] for r in a} == {r["doc_id"]: r["sig"] for r in b}


def test_lsh_recall_of_near_duplicates(spark, docs):
    # Append exact copies of 3 docs under new ids: LSH must recover them.
    copies = docs.limit(3).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    aug = docs.unionByName(copies)
    pairs = {
        (r["a"], r["b"])
        for r in lsh_candidate_pairs(minhash_signatures(aug)).collect()
    }
    for r in docs.limit(3).collect():
        assert (r["doc_id"], r["doc_id"] + 100000) in pairs


def test_simhash_identical_docs_equal_and_deterministic(spark, docs):
    sh1 = {r["doc_id"]: r["simhash"] for r in simhash64(docs.repartition(2)).collect()}
    sh2 = {r["doc_id"]: r["simhash"] for r in simhash64(docs.repartition(7)).collect()}
    assert sh1 == sh2
    # identical text ⇒ identical signature
    dup = docs.limit(1).select((F.col("doc_id") + 500).alias("doc_id"), "text", "lang", "source", "n_chars")
    shd = {r["doc_id"]: r["simhash"] for r in simhash64(docs.limit(1).unionByName(dup)).collect()}
    vals = list(shd.values())
    assert vals[0] == vals[1]


def test_jaccard_pairs_bounds(spark, docs):
    rows = jaccard_pairs(docs, threshold=0.0).limit(50).collect()
    for r in rows:
        assert 0.0 <= r["jaccard"] <= 1.0
        assert r["a"] < r["b"]


def test_jaccard_shingle_df_cap_bounds_pathological_fanout(spark):
    """Skew guard: one boilerplate shingle shared by ALL docs must not
    materialize the k² all-pairs explosion once its document frequency
    exceeds max_shingle_df — and docs whose only overlap was the capped
    shingle must produce NO pair row at all."""
    boiler = "all rights reserved by the original publisher"
    rows = [(i, f"unique text number {i} alpha beta {boiler}", "en", "s", 0) for i in range(40)]
    # one genuine near-dup pair sharing real content beyond the boilerplate
    rows.append((100, "the quick brown fox jumps over the lazy dog " + boiler, "en", "s", 0))
    rows.append((101, "the quick brown fox jumps over the lazy dog tonight " + boiler, "en", "s", 0))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")

    uncapped = jaccard_pairs(docs, threshold=0.0, max_shingle_df=None)
    assert uncapped.count() > 800  # boilerplate shingles fan out ~42²/2 pairs

    capped = jaccard_pairs(docs, threshold=0.0, max_shingle_df=10)
    got = {(r["a"], r["b"]) for r in capped.collect()}
    # boilerplate-only overlaps are gone; the real near-dup pair survives
    # (its 'quick brown fox...' shingles have df=2 <= cap)
    assert (100, 101) in got
    assert len(got) < 50

    # cap higher than every df ⇒ bit-identical to the uncapped run
    wide = {(r["a"], r["b"], r["jaccard"]) for r in jaccard_pairs(docs, threshold=0.0, max_shingle_df=1000).collect()}
    exact = {(r["a"], r["b"], r["jaccard"]) for r in uncapped.collect()}
    assert wide == exact


def test_ann_scores_match_brute_force(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    bf = {r["vec_id"]: r["score"] for r in brute_force_topk(emb, qvec, k=1000).collect()}
    ann = lsh_topk(emb, qvec, k=10, n_planes=4).collect()
    assert len(ann) > 0
    for r in ann:
        assert bf[r["vec_id"]] == r["score"]  # exact rescoring within bucket


def test_embedding_neardup_finds_planted_duplicate(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    # Plant an exact copy of vec_id 0 under a new id in the same label:
    # cosine(v, v) == 1.0 must surface as a near-dup pair at any threshold.
    clone = emb.where(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 900000).alias("vec_id"), "embedding", "label"
    )
    pairs = embedding_near_duplicates(emb.unionByName(clone), threshold=0.999)
    got = {(r["a"], r["b"]): r["score"] for r in pairs.collect()}
    assert got.get((0, 900000)) == 1.0
    for (a, b), s in got.items():
        assert a < b and -1.0 <= s <= 1.0


def test_multiprobe_lsh_recall_is_monotone(spark):
    emb = load_table(spark, SF_SMALL, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    bf = [r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()]
    hits = []
    for pb in (0, 1, 2):
        got = {r["vec_id"] for r in lsh_topk(emb, qvec, k=10, n_planes=4, probe_bits=pb).collect()}
        hits.append(len(got & set(bf)))
    # more probed buckets → recall never decreases; scores stay exact
    assert hits[0] <= hits[1] <= hits[2]
    full = lsh_topk(emb, qvec, k=10, n_planes=4, probe_bits=4).collect()
    assert [r["vec_id"] for r in full] == bf  # probing every bucket = brute force


def test_ivf_full_probe_equals_brute_force(spark):
    from bigdatacw1_spark.operators.similarity import build_ivf_index, ivf_topk

    emb = load_table(spark, SF_SMALL, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    assigned, centroids = build_ivf_index(emb, n_centroids=4)
    # probing every cell must recover the exact brute-force top-k
    full = ivf_topk(assigned, centroids, qvec, k=10, n_probe=4).collect()
    bf = brute_force_topk(emb, qvec, k=10).collect()
    assert [(r["vec_id"], r["score"]) for r in full] == [
        (r["vec_id"], r["score"]) for r in bf
    ]
    # partial probe returns a valid subset with correct internal order
    part = ivf_topk(assigned, centroids, qvec, k=10, n_probe=1).collect()
    assert len(part) > 0
    scores = [r["score"] for r in part]
    assert scores == sorted(scores, reverse=True)


def test_sketch_ndv_within_error_bound(spark):
    ev = load_table(spark, SF_SMALL, "events")
    got = ev.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("a"),
        F.countDistinct("user_id").alias("x"),
    ).head()
    assert abs(got["a"] - got["x"]) <= max(1, 0.05 * got["x"])


def test_sketch_quantiles_bracket_exact(spark):
    o = load_table(spark, SF_SMALL, "orders")
    qs = o.agg(F.percentile_approx("o_totalprice", [0.5, 0.9], 10000).alias("q")).head()["q"]
    exact = o.agg(F.expr("percentile(o_totalprice, array(0.5, 0.9))").alias("e")).head()["e"]
    for approx, ex in zip(qs, exact):
        assert abs(approx - ex) <= 0.05 * ex + 1e-9


def test_media_sniffer_parses_real_headers(spark):
    """sniff_media_meta against hand-built REAL container bytes: a valid
    PNG, JPEG (SOF0 after skipped APP0 segment), GIF, BMP, WAV — plus
    truncated and junk payloads which must classify as octet-stream, not
    crash (the corrupt-file posture for a 100 TB corpus)."""
    import struct

    from bigdatacw1_spark.operators.multimodal import sniff_media_meta

    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">IIBBBBB", 640, 480, 8, 6, 0, 0, 0))
    # JPEG: SOI, APP0 (16-byte segment to prove the marker walk skips), SOF0
    jpeg = (b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(9)
            + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 1080, 1920)
            + b"\x03" + bytes(4))
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    bmp = b"BM" + bytes(16) + struct.pack("<ii", 800, -600) + bytes(4)
    wav = (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 176400, 4, 16))
    cases = [
        (0, png), (1, jpeg), (2, gif), (3, bmp), (4, wav),
        (5, png[:10]),       # truncated PNG
        (6, b"hello world"), # junk
        (7, b""),            # empty
    ]
    df = spark.createDataFrame(cases, "doc_id long, payload binary")
    got = {r.doc_id: r for r in sniff_media_meta(df).collect()}
    assert (got[0].mime, got[0].width, got[0].height) == ("image/png", 640, 480)
    assert (got[1].mime, got[1].width, got[1].height) == ("image/jpeg", 1920, 1080)
    assert (got[2].mime, got[2].width, got[2].height) == ("image/gif", 320, 200)
    assert (got[3].mime, got[3].width, got[3].height) == ("image/bmp", 800, 600)
    assert (got[4].mime, got[4].sample_rate, got[4].n_channels) == ("audio/x-wav", 44100, 2)
    for i in (5, 6, 7):
        assert got[i].mime == "application/octet-stream"
        assert got[i].width is None and got[i].sample_rate is None
    assert got[6].n_bytes == 11


def test_multimodal_plumbing(spark, docs):
    media = attach_binary_payload(docs)
    feats = extract_features(media, dim=8)
    rows = feats.collect()
    assert all(len(r["features"]) == 8 for r in rows)
    assert all(0.0 <= x <= 1.0 for r in rows for x in r["features"])
    # payload length round-trips through the Arrow batches
    joined = feats.join(media.select("doc_id", F.octet_length("payload").alias("nb")), "doc_id")
    assert joined.where(F.col("n_bytes") != F.col("nb")).count() == 0


def test_map_rows_is_exact_across_nulls_fan_out_and_empty_partitions(spark):
    from bigdatacw1_spark.operators.multimodal import map_rows

    big = 2**53 + 1  # the first int64 a float64 cannot hold
    sc = spark.sparkContext
    rows = sc.parallelize([(1, 7), (2, big), (3, None)], 1).union(sc.parallelize([], 2))
    src = spark.createDataFrame(rows, "k long, v long")
    assert src.rdd.getNumPartitions() == 3  # one batch plus two empty partitions

    def fan(k, v):  # k=1 -> no rows, k=2 -> one, k=3 -> two
        for i in range(k - 1):
            yield k, v, i

    out = map_rows(src, fan, "k long, v long, i int")
    assert sorted(tuple(r) for r in out.collect()) == [(2, big, 0), (3, None, 0), (3, None, 1)]


def test_word_ngrams_short_docs_empty(spark):
    df = spark.createDataFrame([(1, "one two"), (2, "a b c d")], ["doc_id", "text"])
    out = df.select("doc_id", word_ngrams(tokens("text"), 3).alias("g")).collect()
    by_id = {r["doc_id"]: r["g"] for r in out}
    assert by_id[1] == []
    assert by_id[2] == ["a b c", "b c d"]


def test_semantic_dedup_drops_planted_clone_and_keeps_min_id(spark):
    from bigdatacw1_spark.operators.similarity import semantic_dedup
    from bigdatacw1_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    clone = emb.where(F.col("vec_id") == 3).withColumn("vec_id", F.lit(900001))
    drops = semantic_dedup(emb.unionByName(clone), threshold=0.999).collect()
    by_id = {r["vec_id"]: r["kept_id"] for r in drops}
    # The planted exact clone is dropped in favor of the original.
    assert by_id.get(900001) == 3
    # Representatives are group minima and never themselves dropped.
    assert all(k < v for v, k in by_id.items())
    assert not (set(by_id.values()) & set(by_id.keys()))


def test_semantic_dedup_survivors_are_corpus_minus_drops(spark):
    from bigdatacw1_spark.operators.similarity import semantic_dedup
    from bigdatacw1_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    drops = semantic_dedup(emb, threshold=0.9, n_centroids=4)
    survivors = emb.join(drops, "vec_id", "left_anti")
    assert survivors.count() + drops.count() == emb.count()


def test_span_dedup_flags_partial_and_full_copies(spark):
    """ExactSubstr span report: a shared verbatim paragraph inside
    otherwise-distinct documents must mark dup spans in BOTH docs; an
    exact full copy must score dup_frac 1.0; an unrelated doc 0.0."""
    from bigdatacw1_spark.operators.dedup import span_dup_report

    para = " ".join(f"shared{i}" for i in range(25))  # > window tokens
    a = " ".join(f"alpha{i}" for i in range(30)) + " " + para
    b = " ".join(f"beta{i}" for i in range(30)) + " " + para
    c = " ".join(f"gamma{i}" for i in range(40))
    rows = [(1, a), (2, b), (3, c), (4, a)]  # 4 = exact copy of 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in span_dup_report(docs, window=20, stride=10).collect()}
    assert got[1].n_dup_spans > 0 and got[2].n_dup_spans > 0  # shared paragraph
    assert got[1].dup_frac == 1.0  # every span of 1 also in its copy 4
    assert got[4].dup_frac == 1.0
    assert got[3].n_dup_spans == 0 and got[3].dup_frac == 0.0
    # doc 2 shares ONLY the paragraph spans, not its own prefix
    assert 0 < got[2].n_dup_spans < got[2].n_spans


def test_theta_sketch_set_algebra_tracks_exact_overlaps(spark):
    """Theta-sketch union/intersection/difference estimates must track
    the exact distinct-user overlaps within the sketch's error bound —
    and exactly when cardinalities sit below the sketch's nominal
    entries (2^12), as they do at sf0.001."""
    from bigdatacw1_spark.queries import REGISTRY
    from bigdatacw1_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    from bigdatacw1_spark.queries.extensions import audience_overlap_estimates

    ev = load_table(spark, SF_SMALL, "events")
    got = {
        (r["type_a"], r["type_b"]): r
        for r in audience_overlap_estimates(ev).collect()
    }
    assert len(got) >= 3  # more than two event types pair up
    types = [r["event_type"] for r in ev.select("event_type").distinct().collect()]
    users = {
        t: {r["user_id"] for r in ev.where(F.col("event_type") == t).select("user_id").distinct().collect()}
        for t in types
    }
    for (ta, tb), r in got.items():
        ua, ub = users[ta], users[tb]
        for field, exact in [
            ("users_union", len(ua | ub)),
            ("users_both", len(ua & ub)),
            ("users_a_only", len(ua - ub)),
        ]:
            est = r[field]
            tol = max(2, 0.05 * max(exact, 1))
            assert abs(est - exact) <= tol, (ta, tb, field, est, exact)
    # the oracle-facing registry entry must agree: every invariant TRUE
    for r in REGISTRY["ext_sketch_audience_overlap"].fn(spark, SF_SMALL).collect():
        assert r["union_ok"] and r["both_ok"] and r["a_only_ok"], r


def test_kll_sketch_merge_brackets_exact_percentiles(spark):
    """Merged per-day KLL quantiles must land within the sketch's rank
    error of the exact percentile: the value at the estimated quantile
    must hold a rank within eps of the requested one."""
    from bigdatacw1_spark.queries import REGISTRY
    from bigdatacw1_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    from bigdatacw1_spark.queries.extensions import kll_merged_quantiles

    ev = load_table(spark, SF_SMALL, "events")
    row = kll_merged_quantiles(ev).collect()[0]
    n = ev.count()
    assert row["n"] == n  # every row reached a sketch; merge lost nothing
    vals = sorted(r["value"] for r in ev.select("value").collect())
    for field, q in [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]:
        est = row[field]
        rank = sum(1 for v in vals if v <= est) / n
        # 0.0165 = k=200's published 99.73%-confidence normalized rank
        # error (the registry entry's tightened envelope, r11 verdict #5)
        assert abs(rank - q) < 0.0165, (field, est, rank)
    # the oracle-facing registry entry must agree: n exact, all ranks ok
    inv = REGISTRY["ext_sketch_kll_mergeable"].fn(spark, SF_SMALL).collect()[0]
    assert inv["n"] == n and inv["p50_ok"] and inv["p90_ok"] and inv["p99_ok"], inv


def test_sketch_ndv_replay_matches_bruteforce_hll(spark):
    """The deterministic-HLL register fingerprint in ext_sketch_ndv
    (r10 verdict #5 upgrade) must equal a brute-force Python HLL built
    from the same md5 hash split — and the estimate derived from the
    replayed register state must land within the m=256 error bound of
    the exact distinct count (proving the fingerprint describes a
    WORKING sketch, not just stable bytes)."""
    import hashlib
    import math

    from bigdatacw1_spark.queries import REGISTRY
    from bigdatacw1_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    rows = ev.select("event_type", "user_id").collect()
    regs: dict[str, dict[int, int]] = {}
    for r in rows:
        hx = hashlib.md5(f"{r['user_id']}:hll".encode()).hexdigest()
        idx, w = int(hx[:2], 16), int(hx[2:15], 16)
        rho = 53 if w == 0 else 53 - w.bit_length()
        d = regs.setdefault(r["event_type"], {})
        d[idx] = max(d.get(idx, 0), rho)
    exact = {
        r["event_type"]: r["x"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("x"))
        .collect()
    }
    got = REGISTRY["ext_sketch_ndv"].fn(spark, SF_SMALL).collect()
    assert len(got) == len(regs)
    for r in got:
        d = regs[r["event_type"]]
        hit = len(d)
        z = sum(1 << (54 - m) for m in d.values()) + (256 - hit) * (1 << 54)
        assert r["hll_hit"] == hit
        assert r["hll_sum_rho"] == sum(d.values())
        assert r["hll_max_rho"] == max(d.values())
        assert r["hll_z_scaled"] == z
        # raw HLL estimate from the replayed state (alpha_256, no bias
        # table): within 10% of exact for these cardinalities (~3500),
        # far beyond the 1.04/sqrt(256) = 6.5% one-sigma bound's tail.
        est = 0.7213 / (1 + 1.079 / 256) * 256 * 256 / (z / 2.0**54)
        zeros = 256 - hit
        if est <= 2.5 * 256 and zeros:
            est = 256 * math.log(256 / zeros)
        assert abs(est - exact[r["event_type"]]) <= 0.10 * exact[r["event_type"]], (
            r["event_type"], est, exact[r["event_type"]],
        )


def test_hll_sketch_union_is_merge_consistent_and_accurate(spark):
    from bigdatacw1_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    ev = load_table(spark, SF_SMALL, "events")
    exact = ev.select("user_id").distinct().count()
    per = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0]["est"]
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("est")
    ).collect()[0]["est"]
    # Union of per-day partials must agree with the single-pass sketch
    # (same registers), and both land within the HLL error bound.
    assert merged == direct
    assert abs(merged - exact) / exact < 0.05


def test_batch_embed_loads_model_once_per_task_not_per_batch(spark):
    from bigdatacw1_spark.operators.multimodal import batch_embed
    from bigdatacw1_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "20")
    try:
        counter = spark.sparkContext.accumulator(0)
        d = load_table(spark, SF_SMALL, "documents").repartition(4)
        out = batch_embed(d, load_counter=counter)
        rows = out.collect()
        assert len(rows) == d.count()
        assert len(rows[0]["embedding"]) == 16
        # ~500 docs / 20-row batches = ~25 Arrow batches, but the model
        # loaded once per task (4 partitions), proving the amortization.
        assert counter.value == 4, counter.value
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
        else:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_batch_embed_vectors_are_deterministic_and_unit_norm(spark):
    from bigdatacw1_spark.operators.multimodal import batch_embed
    from bigdatacw1_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    d = load_table(spark, SF_SMALL, "documents").limit(50)
    a = {r["doc_id"]: tuple(r["embedding"]) for r in batch_embed(d).collect()}
    b = {r["doc_id"]: tuple(r["embedding"]) for r in batch_embed(d.repartition(7)).collect()}
    assert a == b
    import math
    for v in a.values():
        assert math.isclose(sum(x * x for x in v), 1.0, rel_tol=1e-5)


def test_ann_recall_diag_multiprobe_dominates(spark):
    """Raw recall values (the registry entry now surfaces invariant
    booleans for the oracle — the values themselves stay pinned here)."""
    from pyspark.sql import functions as F

    from bigdatacw1_spark.operators.similarity import brute_force_topk, lsh_topk
    from bigdatacw1_spark.queries import REGISTRY
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    exact = {r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()}
    single = {r["vec_id"] for r in lsh_topk(emb, qvec, k=10, n_planes=4, probe_bits=0).collect()}
    multi = {r["vec_id"] for r in lsh_topk(emb, qvec, k=10, n_planes=4, probe_bits=1).collect()}
    r1, r2 = len(exact & single) / 10.0, len(exact & multi) / 10.0
    assert 0.0 <= r1 <= r2 <= 1.0
    assert r2 >= 0.5  # probing neighbors recovers most of top-10

    row = REGISTRY["diag_ann_recall"].fn(spark, SF_SMALL).collect()[0]
    assert row["range_ok"] and row["multiprobe_dominates_ok"] and row["multiprobe_floor_ok"]


def test_png_codec_roundtrip_and_filters():
    """decode_png is a REAL decoder: encode→decode round-trips pixels
    exactly, and a hand-filtered IDAT stream using Sub/Up/Average/Paeth
    (one per scanline) reverses to the original bytes."""
    import struct
    import zlib

    from bigdatacw1_spark.operators.multimodal import decode_image, decode_png, encode_png

    for i in (0, 5, 17, 63):
        w, h = i % 13 + 4, i % 11 + 4
        px = bytes((x + y + i + 85 * c) % 256 for y in range(h) for x in range(w) for c in range(3))
        assert decode_png(encode_png(w, h, 3, px)) == (w, h, 3, px)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    w, h, ch = 3, 4, 3
    stride = w * ch
    rows = [bytes(range(s, s + stride)) for s in (10, 50, 90, 200)]
    filt, prev = bytearray(), bytes(stride)
    for f, row in zip((1, 2, 3, 4), rows):
        filt.append(f)
        if f == 1:
            filt += bytes([row[i] if i < ch else (row[i] - row[i - ch]) & 0xFF for i in range(stride)])
        elif f == 2:
            filt += bytes([(row[i] - prev[i]) & 0xFF for i in range(stride)])
        elif f == 3:
            filt += bytes([(row[i] - (((row[i - ch] if i >= ch else 0) + prev[i]) >> 1)) & 0xFF
                           for i in range(stride)])
        else:
            filt += bytes([(row[i] - paeth(row[i - ch] if i >= ch else 0, prev[i],
                                           prev[i - ch] if i >= ch else 0)) & 0xFF
                           for i in range(stride)])
        prev = row

    def chunk(cid, data):
        return struct.pack(">I", len(data)) + cid + data + struct.pack(
            ">I", zlib.crc32(cid + data) & 0xFFFFFFFF
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(filt)))
        + chunk(b"IEND", b"")
    )
    assert decode_png(png)[3] == b"".join(rows)

    # non-PNG payloads and unsupported PNG variants fail LOUDLY
    with pytest.raises(NotImplementedError):
        decode_image(b"GIF89a" + bytes(16))
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")  # a truncated signature is no known format
    interlaced = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        decode_png(interlaced)


def test_decode_images_operator(spark):
    from bigdatacw1_spark.operators.multimodal import decode_images, synth_png_corpus

    ids = spark.range(0, 6).select(F.col("id").alias("doc_id"))
    out = {r["doc_id"]: r for r in decode_images(synth_png_corpus(ids)).collect()}
    for i in range(6):
        w, h = i % 13 + 4, i % 11 + 4
        want = sum((x + y + i + 85 * c) % 256 for y in range(h) for x in range(w) for c in range(3))
        r = out[i]
        assert (r["width"], r["height"], r["n_channels"], r["pixel_sum"]) == (w, h, 3, want)


def test_incremental_admission_screens_corpus_and_batch_dups(spark):
    """Planted scenario: the batch holds (a) a near-copy of a corpus doc,
    (b) two near-copies of each other (keep-first drops the later id),
    and (c) a fresh doc. Only (c) and the earlier of (b) are admitted."""
    from bigdatacw1_spark.operators.dedup import incremental_admission

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about distributed query engines at scale"
    corpus = spark.createDataFrame([(1, base)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [
            (10, base + " extra"),          # near-dup of corpus doc 1
            (11, other),                    # earlier internal twin → admitted
            (12, other + " padded"),        # later internal twin → dropped
            (13, "a totally unrelated note on wavelet transforms and audio"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in incremental_admission(corpus, batch, threshold=0.5).collect()
    }
    assert not out[10]["admitted"] and out[10]["n_dup_corpus"] >= 1
    assert out[11]["admitted"]
    assert not out[12]["admitted"] and out[12]["n_dup_batch"] == 1
    assert out[13]["admitted"]


def test_wav_codec_roundtrip_and_chunk_walk():
    """decode_wav is a REAL decoder: encode→decode round-trips samples
    bit-for-bit (mono and stereo, odd-length data → pad byte), the decoy
    LIST chunk forces an actual chunk walk, and non-PCM / truncated
    containers fail loudly instead of returning garbage."""
    import struct

    from bigdatacw1_spark.operators.multimodal import decode_wav, encode_wav

    for sr, ch, samples in [
        (8000, 1, [0, 1, -1, 32767, -32768]),  # odd count → pad byte path
        (44100, 2, [100, -200, 300, -400, 500, -600]),  # interleaved stereo
        (16000, 1, []),  # empty data chunk
    ]:
        assert decode_wav(encode_wav(sr, ch, samples)) == (sr, ch, samples)

    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00JUNK")
    with pytest.raises(ValueError):
        decode_wav(b"OggS" + bytes(16))
    # IEEE-float WAV (format code 3) must refuse, not mis-decode
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    float_wav = (
        b"RIFF" + struct.pack("<I", 28 + len(fmt)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 4) + b"\x00" * 4
    )
    with pytest.raises(NotImplementedError):
        decode_wav(float_wav)


def test_decode_audio_operator(spark):
    from bigdatacw1_spark.operators.multimodal import decode_audio, synth_wav_corpus

    ids = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    out = {r["doc_id"]: r for r in decode_audio(synth_wav_corpus(ids)).collect()}
    for i in range(8):
        sr, n = (i % 4 + 1) * 8000, i % 50 + 10
        xs = [((i * 31 + j * 7) % 65536) - 32768 for j in range(n)]
        r = out[i]
        assert (r["sample_rate"], r["n_channels"], r["n_samples"]) == (sr, 1, n)
        assert r["duration_ms"] == n * 1000 // sr
        assert r["abs_sum"] == sum(abs(x) for x in xs)
        assert r["square_sum"] == sum(x * x for x in xs)
        assert r["zero_crossings"] == sum(
            1 for a, b in zip(xs, xs[1:]) if (a < 0) != (b < 0)
        )


def test_minhash_agreement_tracks_jaccard_under_shingle_shift(spark):
    """Regression for the position-seeded MinHash bug: two documents with
    near-identical shingle SETS but shifted array order (one extra
    leading word) must have signature agreement ≈ their Jaccard — the
    broken form seeded each hash with the shingle's array POSITION,
    collapsing all K hash functions and driving agreement to ~0 for any
    order shift."""
    from bigdatacw1_spark.operators.dedup import minhash_signatures, verified_near_duplicates

    body = " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, body), (2, "extra " + body)], "doc_id long, text string"
    )
    sigs = {r.doc_id: r.sig for r in minhash_signatures(df, num_hashes=16).collect()}
    agreement = sum(1 for x, y in zip(sigs[1], sigs[2]) if x == y)
    # shingle sets share 58 of 61 3-grams (J ≈ 0.95); expect ≥ 10/16
    assert agreement >= 10, f"signature agreement {agreement}/16 — position-seeded hashing?"
    pairs = verified_near_duplicates(df, threshold=0.5).collect()
    assert [(r.a, r.b) for r in pairs] == [(1, 2)]


def test_lsh_verified_recall_equals_exact(spark):
    """Recall invariant (VERDICT r3 #7): the LSH-verified near-dup pairs
    at 0.5 must equal the UNBLOCKED exact-Jaccard pair set — precision is
    exact by construction (candidates are verified), and on this corpus
    (planted dups at J ≥ 0.89) the 8-band scheme must miss nothing."""
    from tests.conftest import SF_SMALL

    from bigdatacw1_spark.operators.dedup import jaccard_pairs, verified_near_duplicates

    docs = spark.read.parquet(SF_SMALL + "/documents.parquet")
    got = {(r.a, r.b): r.jaccard for r in verified_near_duplicates(docs, threshold=0.5).collect()}
    exact = jaccard_pairs(
        docs.withColumn("__all", F.lit(1)), threshold=0.5, bucket_col="__all", max_shingle_df=None
    )
    want = {(r.a, r.b): r.jaccard for r in exact.collect()}
    assert got == want and len(got) > 0


def test_pq_adc_rerank_recall_vs_brute_force(spark):
    """PQ codes + ADC candidate generation + exact rerank must recover
    most of the true cosine top-10 (two-tier serving shape); ADC-only
    ordering must still place the exact nearest neighbor (the query
    itself, vec_id 0) first."""
    from bigdatacw1_spark.operators.similarity import (
        brute_force_topk,
        build_pq_index,
        pq_topk,
    )
    from bigdatacw1_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    codes, codebooks = build_pq_index(emb, m=8, nbits=6)
    assert len(codebooks) == 8 and all(len(cb) == 64 for cb in codebooks)
    exact_ids = {r["vec_id"] for r in brute_force_topk(emb, qvec, k=10).collect()}
    reranked = pq_topk(codes, codebooks, qvec, k=10, embeddings=emb, rerank_factor=4)
    got_ids = [r["vec_id"] for r in reranked.collect()]
    recall = len(exact_ids & set(got_ids)) / 10.0
    assert recall >= 0.6, (recall, got_ids)  # 0.9 on this corpus; margin for re-gen
    adc_only = pq_topk(codes, codebooks, qvec, k=10).collect()
    assert adc_only[0]["vec_id"] == 0  # the query's own code has ADC distance ~0
    # codes are genuinely compressed: m small ints per vector
    row = codes.head()
    assert len(row["pq_code"]) == 8 and all(0 <= c < 64 for c in row["pq_code"])


def test_pq_index_rejects_indivisible_dim(spark):
    import pytest

    from bigdatacw1_spark.operators.similarity import build_pq_index

    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        build_pq_index(df, m=2)


def test_bloom_filter_no_false_negatives_and_low_fp(spark):
    """Every inserted key must probe TRUE (the Bloom guarantee); absent
    keys probe TRUE at ~the designed false-positive rate, not ~50%."""
    from bigdatacw1_spark.operators.dedup import bloom_might_contain, build_bloom

    present = spark.range(0, 2000).select(F.concat(F.lit("key-"), F.col("id")).alias("k"))
    absent = spark.range(50000, 54000).select(F.concat(F.lit("key-"), F.col("id")).alias("k"))
    bloom = build_bloom(present, "k", m_bits=1 << 16, k=4)
    assert len(bloom) == 1024
    hits_present = present.where(bloom_might_contain("k", bloom)).count()
    assert hits_present == 2000  # zero false negatives, by construction
    fp = absent.where(bloom_might_contain("k", bloom)).count() / 4000.0
    # m=65536, n=2000, k=4 → expected fp ≈ (1 - e^(-4*2000/65536))^4 ≈ 2e-4
    assert fp <= 0.01, fp


def test_bloom_rejects_non_power_of_two(spark):
    import pytest

    from bigdatacw1_spark.operators.dedup import build_bloom

    df = spark.range(1).select(F.col("id").cast("string").alias("k"))
    with pytest.raises(ValueError, match="power of two"):
        build_bloom(df, "k", m_bits=1000)


def test_count_min_never_underestimates_even_under_collisions(spark):
    """Force the collision regime (width 16 << 500 keys): estimates may
    overestimate but must NEVER underestimate any key's true count, and
    row 0 of the table must sum to the total occurrence count (no lost
    updates in the bounded-collect packing)."""
    from bigdatacw1_spark.operators.dedup import build_count_min, cm_estimate

    df = spark.range(0, 2000).select(
        F.concat(F.lit("k"), (F.col("id") % 500)).alias("k")
    )
    cm = build_count_min(df, "k", width=16, depth=4)
    assert sum(cm[0]) == 2000
    checked = (
        df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
        .withColumn("est", cm_estimate("k", cm))
    )
    bad = checked.where(F.col("est") < F.col("n")).count()
    assert bad == 0
    # collisions must actually occur at this width — otherwise the
    # regime under test isn't exercised
    assert checked.where(F.col("est") > F.col("n")).count() > 0


def test_count_min_md5_hash_replays_bit_for_bit_in_python(spark):
    """The ANSI-replayable md5 row hash (cm_md5_hash, the ext_count_min
    exact-replay oracle's hash): a brute-force pure-Python rebuild of
    the counter table and every per-key estimate must equal the Spark
    build exactly — including keys whose estimate overestimates, so the
    replay pins the collision arithmetic, not just the happy path."""
    import hashlib

    from bigdatacw1_spark.operators.dedup import build_count_min, cm_estimate, cm_md5_hash

    width, depth = 16, 4
    df = spark.range(0, 600).select((F.col("id") % 150).alias("k"))
    h = cm_md5_hash(width)
    cm = build_count_min(df, "k", width=width, depth=depth, hash_expr=h)

    def py_pos(key: int, j: int) -> int:
        hx = hashlib.md5(f"{key}|{j}".encode()).hexdigest()
        return int(hx[:15], 16) % width

    table = [[0] * width for _ in range(depth)]
    for key in range(150):
        for j in range(depth):
            table[j][py_pos(key, j)] += 4  # each key occurs 4 times
    assert cm == table

    got = {
        r["k"]: r["est"]
        for r in df.distinct().withColumn("est", cm_estimate("k", cm, hash_expr=h)).collect()
    }
    want = {
        key: min(table[j][py_pos(key, j)] for j in range(depth)) for key in range(150)
    }
    assert got == want
    assert any(v > 4 for v in want.values())  # the collision regime is real
    assert all(v >= 4 for v in want.values())  # and never underestimates


def test_pq_index_persists_as_table_and_reloads_identically(spark, tmp_path):
    """The PQ index is a TABLE (codes parquet + codebooks): built once at
    ingest, persisted, reloaded in a later session, and queried — the
    reloaded index must return exactly the results of the in-memory one."""
    import json

    from bigdatacw1_spark.operators.similarity import build_pq_index, pq_topk
    from bigdatacw1_spark.sources.catalog import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    codes, codebooks = build_pq_index(emb, m=8, nbits=6)
    want = [(r["vec_id"], r["score"]) for r in
            pq_topk(codes, codebooks, qvec, k=10, embeddings=emb).collect()]

    codes.write.mode("overwrite").parquet(str(tmp_path / "pq_codes"))
    (tmp_path / "codebooks.json").write_text(json.dumps(codebooks))

    reloaded_codes = spark.read.parquet(str(tmp_path / "pq_codes"))
    reloaded_books = json.loads((tmp_path / "codebooks.json").read_text())
    got = [(r["vec_id"], r["score"]) for r in
           pq_topk(reloaded_codes, reloaded_books, qvec, k=10, embeddings=emb).collect()]
    assert got == want and len(got) == 10


def test_multiband_embedding_lsh_dominates_single_band(spark):
    """Multi-table LSH recall is monotone in bands: every pair the
    single-band blocking finds is also found at 16 bands (band 0 shares
    the same seed), and 16 bands find strictly more on this corpus."""
    from bigdatacw1_spark.operators.similarity import (
        _hyperplanes,
        embedding_near_duplicates,
        embedding_near_duplicates_multiband,
        sign_lsh_bucket,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    single = {
        (r["a"], r["b"])
        for r in embedding_near_duplicates(
            emb, threshold=0.35,
            block=sign_lsh_bucket(F.col("embedding"), _hyperplanes(dim, 4)),
        ).collect()
    }
    multi = {
        (r["a"], r["b"])
        for r in embedding_near_duplicates_multiband(
            emb, threshold=0.35, n_planes=4, n_bands=16
        ).collect()
    }
    assert single <= multi
    assert len(multi) > len(single)


def test_contrastive_pairs_triples_are_valid(spark):
    """Every triple: positive is a verified near-dup of the anchor; the
    negative is never the anchor, the positive, or ANY near-dup partner
    of the anchor; and the draw is reproducible across runs."""
    from bigdatacw1_spark.operators.dedup import contrastive_pairs, verified_near_duplicates
    from bigdatacw1_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    pos = {(r["a"], r["b"]) for r in verified_near_duplicates(docs).collect()}
    partners = {}
    for a, b in pos:
        partners.setdefault(a, set()).add(b)
        partners.setdefault(b, set()).add(a)
    t1 = contrastive_pairs(docs).orderBy("anchor", "positive").collect()
    t2 = contrastive_pairs(docs).orderBy("anchor", "positive").collect()
    assert t1 == t2 and len(t1) == len(pos) > 0
    for r in t1:
        assert (r["anchor"], r["positive"]) in pos
        if r["negative"] is not None:
            assert r["negative"] != r["anchor"]
            assert r["negative"] not in partners.get(r["anchor"], set())


def test_band_index_lifecycle_matches_inmemory_and_screens_across_batches(spark, tmp_path):
    """The persisted band index is the admission SERVICE: (1) probing it
    yields exactly the in-memory incremental_admission report; (2) after
    an admitted batch is appended, the NEXT batch is screened against
    those admissions too — an exact copy of a batch-1 admit must be
    rejected in batch 2 with n_dup_corpus >= 1."""
    from bigdatacw1_spark.operators.dedup import (
        admit_batch,
        build_band_index,
        incremental_admission,
    )
    from bigdatacw1_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    docs = load_table(spark, SF_SMALL, "documents")
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    batch1 = docs.where(F.col("doc_id") % 3 == 0)

    spark.sql("DROP TABLE IF EXISTS band_idx_test")
    build_band_index(corpus, "band_idx_test")

    got = admit_batch(spark, "band_idx_test", corpus, batch1).collect()
    want = incremental_admission(corpus, batch1).collect()
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(got, key=key) == sorted(want, key=key)

    admitted1 = [r["doc_id"] for r in got if r["admitted"]]
    assert admitted1, "fixture must admit at least one batch-1 doc"
    # batch 2 = exact copies of admitted batch-1 docs under new ids
    clone_src = batch1.where(F.col("doc_id").isin(admitted1[:3]))
    batch2 = clone_src.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    # verification corpus now = original corpus + batch1 (docs the index holds)
    full_corpus = corpus.unionByName(batch1)
    rep2 = {r["doc_id"]: r for r in
            admit_batch(spark, "band_idx_test", full_corpus, batch2, append=False).collect()}
    for did in admitted1[:3]:
        r = rep2[did + 1_000_000]
        assert not r["admitted"] and r["n_dup_corpus"] >= 1
    spark.sql("DROP TABLE IF EXISTS band_idx_test")


def test_media_triage_composition_sniff_then_decode(spark):
    """The mandatory 100 TB media order — cheap header sniff over the
    WHOLE mixed corpus, then pay full decode only on rows routed to a
    codec AND carrying decodable payloads: PNGs to decode_images, WAVs
    to decode_audio, while the header-only GIF stubs (sniffable metadata
    but no pixel data — the 'corrupt/truncated asset' case) are filtered
    out by mime before any decode runs. Every routed row decodes;
    nothing raises."""
    from bigdatacw1_spark.operators.multimodal import (
        decode_audio,
        decode_images,
        sniff_media_meta,
        synth_media_payload,
        synth_png_corpus,
        synth_wav_corpus,
    )

    ids = spark.range(0, 30).select(F.col("id").alias("doc_id"))
    media = (
        synth_png_corpus(ids.where(F.col("doc_id") % 3 == 0))
        .unionByName(synth_wav_corpus(ids.where(F.col("doc_id") % 3 == 2)))
        # header-only GIFs: sniffable, not decodable here
        .unionByName(synth_media_payload(ids.where(F.col("doc_id") % 3 == 1)))
    )
    meta = sniff_media_meta(media).select("doc_id", "mime")
    routed = media.join(meta, "doc_id")

    pngs = routed.where(F.col("mime") == "image/png").drop("mime")
    wavs = routed.where(F.col("mime") == "audio/x-wav").drop("mime")
    gifs = routed.where(F.col("mime") == "image/gif")

    decoded_px = decode_images(pngs).collect()
    decoded_au = decode_audio(wavs).collect()
    assert {r["doc_id"] for r in decoded_px} == set(range(0, 30, 3))
    assert {r["doc_id"] for r in decoded_au} == set(range(2, 30, 3))
    assert gifs.count() == 10
    for r in decoded_px:
        assert r["pixel_sum"] > 0 and r["n_channels"] == 3
    for r in decoded_au:
        assert r["n_samples"] > 0 and r["sample_rate"] % 8000 == 0


def test_embed_norm_outliers_flags_planted_pathologies(spark):
    """A zeroed vector and a 100x-scaled vector must be flagged; the
    untouched corpus bulk must not be."""
    from bigdatacw1_spark.queries.registry import REGISTRY
    from bigdatacw1_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    dim = len(emb.head()["embedding"])
    planted = emb.unionByName(
        spark.createDataFrame(
            [(900001, [0.0] * dim, "x"), (900002, [100.0] * dim, "x")],
            "vec_id long, embedding array<float>, label string",
        )
    )
    planted.createOrReplaceTempView("planted_emb")
    # run the same operator expression inline over the planted frame
    from pyspark.sql import functions as F
    from bigdatacw1_spark.operators.relational import stable_round

    norm = F.sqrt(F.aggregate(F.transform("embedding", lambda x: x.cast("double") * x),
                              F.lit(0.0), lambda a, x: a + x))
    d = planted.select("vec_id", stable_round(norm, 4).alias("l2_norm"))
    med = d.agg(stable_round(F.percentile("l2_norm", F.lit(0.5)), 4).alias("med"))
    dev = d.crossJoin(F.broadcast(med)).select(
        "vec_id", stable_round(F.abs(F.col("l2_norm") - F.col("med")), 4).alias("absdev"))
    mad = dev.agg(stable_round(F.percentile("absdev", F.lit(0.5)), 4).alias("mad"))
    flags = {r["vec_id"]: r["o"] for r in dev.crossJoin(F.broadcast(mad)).select(
        "vec_id", (F.col("absdev") > 3 * F.col("mad")).alias("o")).collect()}
    assert flags[900001] and flags[900002]
    assert sum(flags.values()) < 0.1 * len(flags)


def test_simhash_pairs_pigeonhole_recall_is_exact(spark, docs):
    """The bucketed plan must equal brute force exactly: compare
    simhash_pairs against an all-pairs xor/popcount over the same
    signatures, and check the planted exact-copy lands at Hamming 0."""
    from bigdatacw1_spark.operators.dedup import simhash60_md5, simhash_pairs

    clone = docs.limit(1).select(
        (F.col("doc_id") + 777000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    aug = docs.unionByName(clone)
    got = {(r["a"], r["b"]): r["hamming"] for r in simhash_pairs(aug).collect()}

    sigs = simhash60_md5(aug)
    a = sigs.select(F.col("doc_id").alias("a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("b"), F.col("sig").alias("sb"))
    brute = {
        (r["a"], r["b"]): r["h"]
        for r in a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int").alias("h"))
        .where(F.col("h") <= 3)
        .collect()
    }
    assert got == brute
    base_id = docs.limit(1).head()["doc_id"]
    assert got[(base_id, base_id + 777000)] == 0


def test_spectral_centroid_locates_pure_tone(spark):
    """A pure sine at f0 must put the spectral centroid at ~f0; white-ish
    modular noise sits far higher; Parseval holds on both."""
    import math
    import struct

    from bigdatacw1_spark.operators.multimodal import encode_wav, spectral_features

    sr, n = 8000, 800
    tone = [int(20000 * math.sin(2 * math.pi * 250 * t / sr)) for t in range(n)]
    noise = [((t * 7919) % 65536) - 32768 for t in range(n)]
    df = spark.createDataFrame(
        [(1, encode_wav(sr, 1, tone)), (2, encode_wav(sr, 1, noise))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in spectral_features(df).collect()}
    assert got[1]["parseval_ok"] and got[2]["parseval_ok"]
    assert abs(got[1]["spectral_centroid_hz"] - 250.0) < 5.0
    assert got[2]["spectral_centroid_hz"] > 1000.0


def test_kmeans_quantized_deterministic_and_nondegenerate(spark):
    """Same assignments under any input partitioning; more than one
    cluster actually populated; every vector assigned exactly once."""
    from bigdatacw1_spark.operators.similarity import kmeans_quantized

    emb = load_table(spark, SF_SMALL, "embeddings")
    a = {r["vec_id"]: r["cluster"] for r in kmeans_quantized(emb.repartition(1)).collect()}
    b = {r["vec_id"]: r["cluster"] for r in kmeans_quantized(emb.repartition(13)).collect()}
    assert a == b
    assert len(a) == emb.count()
    assert len(set(a.values())) >= 2


def test_gif_lzw_codec_roundtrip_and_guards():
    """Full LZW round-trip (incl. the 4096-table reset on a long random
    stream and the cScSc case via repetitive input), container
    round-trip with palette mapping, and loud guards for interlace /
    missing-palette / truncation."""
    import random
    import struct

    from bigdatacw1_spark.operators.multimodal import (
        _lzw_decode_gif,
        _lzw_encode_gif,
        decode_gif,
        encode_gif,
    )

    rng = random.Random(7)
    for mcs in (2, 4, 8):
        for n in (0, 1, 5, 300, 30000):
            idxs = [rng.randrange(1 << mcs) for _ in range(n)]
            assert _lzw_decode_gif(_lzw_encode_gif(idxs, mcs), mcs, n) == idxs
    # cScSc: aaa... forces code==next_code on decode
    run = [1] * 50
    assert _lzw_decode_gif(_lzw_encode_gif(run, 2), 2, 50) == run

    pal = [(i * 17, (i * 29) % 256, (i * 53) % 256) for i in range(16)]
    idxs = [(x + y) % 16 for y in range(9) for x in range(11)]
    w, h, ch, rgb = decode_gif(encode_gif(11, 9, idxs, pal))
    assert (w, h, ch) == (11, 9, 3)
    assert rgb == b"".join(bytes(pal[i]) for i in idxs)

    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF" + bytes(20))
    # interlaced image descriptor must refuse loudly
    g = bytearray(encode_gif(4, 4, [0] * 16, pal))
    desc = g.index(0x2C, 13)
    g[desc + 9] |= 0x40
    with pytest.raises(NotImplementedError):
        decode_gif(bytes(g))


def test_decode_images_routes_gif_and_png(spark):
    from bigdatacw1_spark.operators.multimodal import (
        decode_images,
        synth_gif_corpus,
        synth_png_corpus,
    )

    ids = spark.range(0, 4).select(F.col("id").alias("doc_id"))
    png = decode_images(synth_png_corpus(ids)).collect()
    gif = decode_images(synth_gif_corpus(ids)).collect()
    assert len(png) == len(gif) == 4
    for r in gif:
        assert r["n_channels"] == 3 and r["pixel_sum"] > 0


def test_bmp_codec_roundtrip_and_guards():
    """encode→decode round-trips pixels through bottom-up BGR padded
    rows; a decoder that skipped the swizzle or row flip would break the
    position-weighted checksum (pinned via decode_images oracle); 32-bit
    or compressed BMPs refuse loudly."""
    import struct

    from bigdatacw1_spark.operators.multimodal import decode_bmp, encode_bmp

    for w, h in [(4, 4), (5, 3), (1, 7)]:  # width 5 exercises row padding
        px = bytes((x * 7 + y * 13 + c * 29) % 256 for y in range(h) for x in range(w) for c in range(3))
        assert decode_bmp(encode_bmp(w, h, px)) == (w, h, 3, px)
    with pytest.raises(ValueError):
        decode_bmp(b"XX" + bytes(60))
    bad = bytearray(encode_bmp(4, 4, bytes(48)))
    struct.pack_into("<H", bad, 28, 32)  # declare 32 bpp
    with pytest.raises(NotImplementedError):
        decode_bmp(bytes(bad))


def test_pca_invariants_on_embeddings(spark):
    """PCA contract: components orthonormal, explained variance sorted,
    projected scores centered, and score variance = eigenvalue order."""
    import numpy as np

    from bigdatacw1_spark.operators.similarity import pca_fit_project

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out, ratios, comps = pca_fit_project(e, k=3)
    c = np.array(comps)
    # orthonormal rows
    assert np.allclose(c @ c.T, np.eye(3), atol=1e-8)
    # sorted, positive, summing below 1
    assert ratios[0] >= ratios[1] >= ratios[2] > 0
    assert sum(ratios) <= 1.0 + 1e-9
    rows = out.select("score_1", "score_2", "score_3").collect()
    m = np.array([[r[0], r[1], r[2]] for r in rows])
    # centered projections; empirical variances follow component order
    assert np.allclose(m.mean(axis=0), 0, atol=1e-6)
    v = m.var(axis=0)
    assert v[0] >= v[1] >= v[2]
    # deterministic across a second fit
    _, ratios2, comps2 = pca_fit_project(e, k=3)
    assert ratios == ratios2 and comps == comps2


def test_dp_release_noise_is_laplace_shaped(spark):
    """The inverse-CDF draw must actually produce Laplace(b=2) noise:
    symmetric about 0 and with tail mass P(|x|>t) = exp(-t/2) at a few
    t values (within Monte-Carlo tolerance over 2000 seeded draws)."""
    import math

    from pyspark.sql import functions as F

    df = spark.range(2000).select(F.col("id").cast("string").alias("k"))
    hex8 = F.substring(F.md5(F.concat(F.col("k"), F.lit("|dp-seed-r4"))), 1, 8)
    uu = (F.conv(hex8, 16, 10).cast("long") + F.lit(0.5)) / F.lit(4294967296.0)
    sign = F.when(uu >= 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
    lap = F.lit(-2.0) * sign * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(uu - F.lit(0.5)))
    xs = [r[0] for r in df.select(lap).collect()]
    n = len(xs)
    assert abs(sum(1 for x in xs if x > 0) / n - 0.5) < 0.03   # symmetric
    for t in (1.0, 2.0, 4.0):
        frac = sum(1 for x in xs if abs(x) > t) / n
        assert abs(frac - math.exp(-t / 2.0)) < 0.04, (t, frac)


def test_mahalanobis_mean_equals_dimension(spark):
    """Algebraic invariant: scoring the fit data with the biased /n
    covariance gives mean(m²) = d exactly (trace identity), regardless
    of the data's distribution."""
    from pyspark.sql import functions as F

    from bigdatacw1_spark.operators.similarity import mahalanobis_outliers

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    d = len(e.select("embedding").first()[0])
    m = mahalanobis_outliers(e).agg(F.avg("m2")).first()[0]
    assert abs(m - d) < 1e-4  # exact up to the 1e-9 ridge + float accumulation


def test_resize_png_identity_and_corner_pinning(spark):
    """resize_png_images with the source's own dimensions is the identity
    (index map i·w DIV w = i), and any downsize keeps pixel (0,0) exactly
    (nearest-neighbor maps dst origin to src origin)."""
    from bigdatacw1_spark.operators.multimodal import (
        decode_png,
        resize_png_images,
        synth_png_corpus,
    )

    docs = load_table(spark, SF_SMALL, "documents").where(F.col("doc_id") < 8)
    media = synth_png_corpus(docs)
    orig = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    same = {
        r["doc_id"]: bytes(r["payload"])
        for r in resize_png_images(
            media, 4 + 0 % 13, 4
        ).collect()
    }
    # identity case: doc_id 0 has w0=4, h0=4 — resizing to (4, 4) must
    # round-trip the exact pixel bytes
    w0, h0, ch, px0 = decode_png(orig[0])
    assert (w0, h0) == (4, 4)
    assert decode_png(same[0]) == (w0, h0, ch, px0)
    # corner pinning on a real downsize
    small = {
        r["doc_id"]: bytes(r["payload"])
        for r in resize_png_images(media, 2, 2).collect()
    }
    for doc_id, payload in small.items():
        w, h, ch, px = decode_png(payload)
        assert (w, h) == (2, 2)
        _, _, _, src = decode_png(orig[doc_id])
        assert px[:ch] == src[:ch], doc_id


def test_provenance_metadata_matches_filesystem(spark):
    """The _metadata struct's file size must equal os.path.getsize of the
    actual parquet file (the half of ext_provenance the SQL oracle cannot
    check), and the path must end in the file the loader read."""
    import glob
    import os

    from tests.conftest import SF_SMALL

    path = f"{SF_SMALL}/documents.parquet"
    real = os.path.getsize(path) if os.path.isfile(path) else sum(
        os.path.getsize(f) for f in glob.glob(f"{path}/*.parquet")
    )
    row = (
        spark.read.parquet(path)
        .select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.file_size").alias("fs"),
        )
        .head()
    )
    assert row["fp"].endswith(".parquet")
    assert row["fs"] > 0
    if os.path.isfile(path):
        assert row["fs"] == real


def test_winnowing_containment_guarantee(spark):
    """Winnowing's defining property (Schleimer et al. 2003): two
    documents sharing a contiguous run of window + ngram - 1 = 6 tokens
    MUST share at least one selected fingerprint — regardless of the
    surrounding text."""
    from bigdatacw1_spark.operators.dedup import winnowing_fingerprints

    shared = "quick brown foxes jump over rivers"  # 6 tokens
    df = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {shared} delta epsilon zeta"),
            (2, f"one two {shared} three four five six seven"),
            (3, "completely different text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: set(r["fps"]) for r in winnowing_fingerprints(df).collect()}
    assert fps[1] & fps[2], "shared 6-token run must yield a shared fingerprint"
    assert not (fps[1] & fps[3]) or len(fps[1] & fps[3]) < len(fps[1] & fps[2])


def test_winnowing_pairs_finds_the_copied_pair_only(spark):
    from bigdatacw1_spark.operators.dedup import winnowing_pairs

    body = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [
            (1, f"intro words {body} outro words"),
            (2, f"other opening {body} different closing"),
            (3, "unrelated document about completely different things entirely"),
            (4, "another unrelated one speaking of other matters altogether"),
        ],
        "doc_id long, text string",
    )
    got = {(r["a"], r["b"]) for r in winnowing_pairs(df).collect()}
    assert (1, 2) in got
    assert all(3 not in p and 4 not in p for p in got)


def test_kcenter_matches_sequential_greedy(spark):
    """kcenter_select must equal the textbook sequential greedy 2-approx
    (farthest-first traversal, smallest-id seed, min-id tie-break)."""
    from bigdatacw1_spark.operators.similarity import kcenter_select

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pts = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in emb.collect()}
    k = 5

    def d2(u, v):
        acc = 0.0
        for a, b in zip(u, v):
            acc += (a - b) * (a - b)
        return acc

    seed = min(pts)
    chosen = [seed]
    dmin = {i: d2(v, pts[seed]) for i, v in pts.items()}
    want = [(1, seed)]
    for r in range(2, k + 1):
        far = max(pts, key=lambda i: (dmin[i], -i))
        want.append((r, far))
        chosen.append(far)
        for i, v in pts.items():
            dmin[i] = min(dmin[i], d2(v, pts[far]))
    got = [(r["sel_round"], r["vec_id"]) for r in kcenter_select(emb, k=k).collect()]
    assert got == want


def test_corpus_funnel_stages_monotone(spark):
    from bigdatacw1_spark.queries.extensions import ext_corpus_funnel

    rows = ext_corpus_funnel(spark, "/root/testdata/sf0.001").collect()
    assert [r["stage"] for r in rows] == [1, 2, 3, 4, 5]
    kept = [r["docs_kept"] for r in rows]
    toks = [r["tokens_kept"] for r in rows]
    assert kept == sorted(kept, reverse=True)
    assert toks == sorted(toks, reverse=True)
    assert kept[-1] > 0


def test_pair_bleu_separates_verbatim_from_shuffled(spark):
    """BLEU-2's bigram term must score a verbatim copy strictly higher
    than a sentence-shuffled rewrite with the SAME unigram bag — the
    triage signal Jaccard cannot provide."""
    from bigdatacw1_spark.operators.dedup import pair_bleu

    block_a = "alpha bravo charlie delta echo"
    block_b = "foxtrot golf hotel india juliet"
    base = f"{block_a} {block_b}"
    swapped = f"{block_b} {block_a}"  # same blocks, reordered: Jaccard 0.6
    df = spark.createDataFrame(
        [(1, base), (2, base), (4, swapped)],
        "doc_id long, text string",
    )
    got = {(r["a"], r["b"]): r for r in pair_bleu(df).collect()}
    assert got[(1, 2)]["bleu2"] == 1.0 and got[(1, 2)]["p2"] == 1.0
    assert got[(1, 4)]["p1"] == 1.0  # same unigram bag
    assert got[(1, 4)]["p2"] < 1.0  # boundary bigrams broken by the swap
    assert got[(1, 4)]["bleu2"] < got[(1, 2)]["bleu2"]


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """A short doc quoted whole inside a long one: containment 1.0,
    Jaccard << 0.5 — the asymmetric case the operator exists for."""
    from bigdatacw1_spark.operators.dedup import containment_pairs

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"filler{i} word{i} extra{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, quote), (2, f"{filler} {quote} {filler}")],
        "doc_id long, text string",
    )
    rows = containment_pairs(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"]) == (1, 2)
    assert r["containment"] == 1.0
    assert r["jaccard"] < 0.5


def test_phash_planted_pairs_all_found_at_distance_zero(spark):
    """The perceptual-dedup contract: every planted byte-different /
    perceptually-identical pair (2k, 2k+1) must surface with Hamming
    distance EXACTLY 0 — the ±1/∓1 perturbation lives inside one aHash
    block, so any nonzero distance means the block math or bit packing
    drifted."""
    from bigdatacw1_spark.queries import REGISTRY
    from tests.conftest import SF_SMALL

    rows = REGISTRY["ext_mm_phash_neardup"].fn(spark, SF_SMALL).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    for k in range(32):
        assert got.get((2 * k, 2 * k + 1)) == 0, (2 * k, 2 * k + 1)


def test_flac_codec_roundtrip_all_subframe_types():
    """encode_flac→decode_flac is bit-exact for every subframe type the
    encoder rotates through (fixed-2, verbatim, LPC, fixed-0, constant),
    partial last frames, and all four stereo layouts including the three
    decorrelation modes (left/side, right/side, mid/side)."""
    from bigdatacw1_spark.operators.multimodal import decode_flac, encode_flac

    for i in (1, 2, 3, 5, 10, 23, 59):
        sr = (i % 3 + 1) * 16000
        n = i % 60 + 20
        samples = (
            [(i * 13) % 65536 - 32768] * n
            if i % 5 == 0
            else [((i * 37 + j * 11) % 65536) - 32768 for j in range(n)]
        )
        assert decode_flac(encode_flac(sr, 1, samples)) == (sr, 1, samples)

    left = [((7 * j * j + 13) % 65536) - 32768 for j in range(50)]
    right = [((3 * j + 999) % 65536) - 32768 for j in range(50)]
    inter = [v for pair in zip(left, right) for v in pair]
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        assert decode_flac(encode_flac(44100, 2, inter, stereo_mode=mode)) == (
            44100, 2, inter,
        )


def test_flac_codec_integrity_layers_fail_loudly():
    """A flipped byte anywhere (header, metadata, frame body) must raise
    — CRC-8, CRC-16 or the STREAMINFO MD5 catches it — and truncation
    raises instead of returning partial samples."""
    import pytest

    from bigdatacw1_spark.operators.multimodal import decode_flac, encode_flac

    b = bytearray(encode_flac(8000, 1, [((j * 97) % 65536) - 32768 for j in range(40)]))
    # STREAMINFO MD5 bytes (offset 26-41) and every frame byte (metadata
    # ends at 50 = magic 4 + STREAMINFO 4+34 + PADDING 4+4) are covered
    # by an integrity layer; the min/max block/frame-size HINT fields are
    # not — the real format carries no checksum over them either.
    for pos in [*range(26, 42), *range(50, len(b))]:
        c = bytearray(b)
        c[pos] ^= 0x40
        with pytest.raises((ValueError, NotImplementedError)):
            decode_flac(bytes(c))
    with pytest.raises(ValueError):
        decode_flac(bytes(b[:30]))
    with pytest.raises(ValueError):
        decode_flac(b"OggS" + bytes(32))


def test_flac_rice_escape_and_partitions_decode():
    """Decoder generality beyond what the encoder emits: a hand-built
    residual block using partition order 1 and the escape (raw-bits)
    code in the second partition must decode to the written values."""
    from bigdatacw1_spark.operators.multimodal import (
        _FBitReader,
        _FBitWriter,
        _flac_read_residual,
    )

    w = _FBitWriter()
    w.write(0b00, 2)   # 4-bit rice params
    w.write(1, 4)      # partition order 1 → two partitions of n/2
    # partition 1: rice param 2, predictor order 1 eats one sample → 3 vals
    w.write(2, 4)
    for v in (3, -2, 0):
        z = (v << 1) if v >= 0 else (-(v << 1) - 1)
        w.write(1, (z >> 2) + 1)        # unary quotient
        w.write(z & 3, 2)               # remainder
    # partition 2: ESCAPE code, 6 raw bits per residual → 4 vals
    w.write(0b1111, 4)
    w.write(6, 5)
    for v in (-31, 17, 0, -1):
        w.write(v, 6)
    w.align()
    got = _flac_read_residual(_FBitReader(w.getvalue()), 8, 1)
    assert got == [3, -2, 0, -31, 17, 0, -1]


def test_flac_sniff_and_property_roundtrip():
    """sniff_media_meta's byte-arithmetic FLAC branch agrees with the
    full decoder, and a hypothesis sweep over random sample streams,
    rates, and block sizes round-trips bit-exactly (the codec is
    lossless by construction — any rice/predictor/CRC bug surfaces as
    a mismatch or a raise)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from bigdatacw1_spark.operators.multimodal import (
        _sniff_one,
        decode_flac,
        encode_flac,
    )

    b = encode_flac(22050, 1, [100, -5, 32767, -32768, 0, 7, 7, 7])
    assert _sniff_one(b) == ("audio/flac", None, None, 22050, 1)

    @settings(max_examples=40, deadline=None)
    @given(
        sr=st.integers(min_value=1, max_value=655350),
        bs=st.integers(min_value=16, max_value=64),
        samples=st.lists(
            st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=200
        ),
    )
    def roundtrip(sr, bs, samples):
        enc = encode_flac(sr, 1, samples, block_size=bs)
        assert decode_flac(enc) == (sr, 1, samples)
        mime, _, _, got_sr, got_ch = _sniff_one(enc)
        assert (mime, got_sr, got_ch) == ("audio/flac", sr, 1)

    roundtrip()


def test_patchify_tiles_partition_the_cropped_image(spark):
    """Invariants of ViT patch extraction: (1) the patch grid is exactly
    floor(w/P)×floor(h/P); (2) the tile byte sums add up to the byte sum
    of the CROPPED image region (tiles partition it — any overlap or gap
    breaks the equality); (3) a uniform image yields identical checksums
    in every tile (position weights are LOCAL to the tile)."""
    from bigdatacw1_spark.operators.multimodal import (
        decode_png,
        patchify_images,
        synth_png_corpus,
    )

    docs = load_table(spark, SF_SMALL, "documents").where(F.col("doc_id") < 8)
    media = synth_png_corpus(docs)
    rows = patchify_images(media, patch=4).collect()
    orig = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(orig)
    for doc_id, payload in orig.items():
        w, h, ch, px = decode_png(payload)
        tiles = by_doc[doc_id]
        assert len(tiles) == (w // 4) * (h // 4), doc_id
        # cropped-region byte sum == sum of tile sums
        crop_sum = 0
        for y in range((h // 4) * 4):
            for x in range((w // 4) * 4):
                base = (y * w + x) * ch
                crop_sum += sum(px[base : base + ch])
        assert sum(t["patch_px_sum"] for t in tiles) == crop_sum, doc_id
    # uniform image: every tile has the same sum and the same checksum
    from bigdatacw1_spark.operators.multimodal import encode_png

    flat = encode_png(8, 8, 3, bytes([7]) * (8 * 8 * 3))
    one = spark.createDataFrame([(999, bytearray(flat))], "doc_id long, payload binary")
    t999 = patchify_images(one, patch=4).collect()
    assert len(t999) == 4
    assert len({t["patch_px_sum"] for t in t999}) == 1
    assert len({t["patch_checksum"] for t in t999}) == 1
