"""Pipeline operator behavior: dedup recall on planted near-dups,
ANN self-consistency, multimodal plumbing."""

import threading
from collections import Counter

import pytest
from pyspark.sql import functions as F

from andl_spark import trace
from andl_spark.pipeline import dedup as D
from andl_spark.pipeline import multimodal as M
from andl_spark.pipeline import simsearch as SS
from andl_spark.session import load_tables

from conftest import SF_SMOKE, jobs_run


@pytest.fixture(scope="module")
def docs(spark):
    return load_tables(spark, SF_SMOKE, register_views=False)["documents"]


@pytest.fixture(scope="module")
def emb(spark):
    return load_tables(spark, SF_SMOKE, register_views=False)["embeddings"]


@pytest.fixture(scope="module")
def true_pairs(docs):
    """Ground truth: exact 3-gram Jaccard ≥ 0.8 (planted near-dups)."""
    pairs = D.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    return {(r["id_a"], r["id_b"]) for r in pairs.collect()}


def test_minhash_finds_planted_dups(docs, true_pairs):
    assert true_pairs, "testdata should contain planted near-dups"
    got = D.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5)
    found = {(r["id_a"], r["id_b"]) for r in got.collect()}
    recall = len(true_pairs & found) / len(true_pairs)
    assert recall >= 0.9, f"minhash recall {recall} on planted dups"


def test_simhash_finds_planted_dups(docs, true_pairs):
    sigs = D.simhash_signatures(docs, "doc_id", "text")
    got = D.simhash_near_pairs(sigs, "doc_id", max_hamming=8)
    found = {(r["id_a"], r["id_b"]) for r in got.collect()}
    recall = len(true_pairs & found) / len(true_pairs)
    assert recall >= 0.8, f"simhash recall {recall} on planted dups"


def test_exact_dedup_idempotent_on_self_union(docs):
    doubled = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    out = D.exact_dedup(doubled, "doc_id", "text")
    dups = out.filter(F.col("is_dup")).count()
    assert dups == docs.count()  # every clone marked dup of the original


def test_ann_lsh_recall_vs_bruteforce(emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SS.topk_bruteforce(emb, queries, k=5)
    # Random 64-dim vectors have no cluster structure — the worst case
    # for hyperplane LSH; 4 bits + 2-bit multiprobe (11/16 buckets)
    # still must beat the ~k/N floor by a wide margin.
    approx = SS.topk_lsh(emb, queries, k=5, bits=4, multiprobe=2)
    e = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["cand_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH@4bits+2-probe recall {recall}"


def test_ann_ivf_recall_vs_bruteforce(emb):
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SS.topk_bruteforce(emb, queries, k=5)
    # Random vectors are the worst case for a coarse quantizer too:
    # with nlist=8 cells, probing 4 covers half the corpus, and the
    # trained cells must still beat the 50% random floor.
    approx = SS.topk_ivf_det(emb, queries, k=5, nlist=8, nprobe=4,
                             quantizer="trained")
    e = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["cand_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF@nlist8-probe4 recall {recall}"


def test_ivf_assignment_partitions_corpus(emb):
    cents = SS.trained_centroids(emb, nlist=8, train_cap=500)
    assigned = emb.select(
        F.element_at(SS.nearest_lists_cosine("embedding", cents, 1), 1)
        .alias("list_id")
    )
    counts = {r["list_id"]: r["n"] for r in assigned.groupBy("list_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == emb.count()  # total partition, no loss
    assert len(counts) == 8  # every cell non-empty on trained data


def test_multimodal_codec_round_trips():
    """Pure-Python codecs are exact: encode→decode is the identity for
    BMP (incl. row padding), PPM, and WAV PCM16."""
    import numpy as np

    rgb = (np.arange(7 * 5 * 3) * 11 % 256).astype(np.uint8).reshape(7, 5, 3)
    assert (M.decode_bmp(M.encode_bmp(rgb)) == rgb).all()  # w=5: padded rows
    assert (M.decode_ppm(M.encode_ppm(rgb)) == rgb).all()
    samples = (np.sin(np.arange(300) / 7.0) * 12000).astype(np.int16)
    rate, back = M.decode_wav(M.encode_wav(samples, 8000))
    assert rate == 8000 and (back == samples).all()


def test_multimodal_real_decode(spark):
    """The REAL decode path through mapInPandas: every synthesized
    payload (BMP / PPM images, WAV audio, BMP video keyframes) decodes
    inside Spark to the same features the driver-side codec computes."""
    media = M.synthesize_media(spark, 32)
    rows = M.extract_features(media).collect()
    assert len(rows) == 32
    assert all(len(r["features"]) == M.FEATURE_DIM for r in rows)
    payloads = {r["media_id"]: (r["kind"], bytes(r["payload"]))
                for r in media.collect()}
    for r in rows:
        kind, payload = payloads[r["media_id"]]
        assert r["features"] == M.decode_payload(kind, payload)
        if kind == "audio":
            assert r["features"][0] == 16000.0 and r["features"][1] == 256.0
        else:
            assert r["features"][:2] == [8.0, 8.0]  # decoded w, h


def test_multimodal_hist_mode_deterministic(spark):
    """The codec-free byte-histogram signature stays available for
    dedup flows and is deterministic across runs."""
    media = M.synthesize_media(spark, 12)
    a = {r["media_id"]: r["features"]
         for r in M.extract_features(media, mode="hist").collect()}
    b = {r["media_id"]: r["features"]
         for r in M.extract_features(media, mode="hist").collect()}
    assert a == b and len(a) == 12


def test_frame_sample(spark):
    media = M.synthesize_media(spark, 30)
    frames = M.frame_sample(media, every_nth=5)
    got = frames.filter(F.col("media_id") == 29).select("frame_idx").collect()
    assert [r[0] for r in got] == [0, 5, 10, 15, 20, 25]


def test_assign_split_deterministic_and_complete(docs):
    from andl_spark.pipeline import split as SP

    a = SP.assign_split(docs.select("doc_id"), "doc_id")
    b = SP.assign_split(docs.select("doc_id"), "doc_id")
    # pure function of the key: identical across evaluations
    assert a.exceptAll(b).count() == 0
    counts = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == docs.count()
    # ~95/2.5/2.5 split within tolerance on 500 docs
    assert counts["train"] > 0.9 * docs.count()
    assert set(counts) <= {"train", "val", "test"}


def test_split_stable_under_fraction_tweak(docs):
    """Cumulative bucket ranges: growing val only moves rows from the
    adjacent range, never reshuffling train rows into test."""
    from andl_spark.pipeline import split as SP

    base = SP.assign_split(docs.select("doc_id"), "doc_id",
                           {"train": 0.9, "val": 0.05, "test": 0.05})
    wider = SP.assign_split(docs.select("doc_id"), "doc_id",
                            {"train": 0.9, "val": 0.08, "test": 0.02})
    moved = (
        base.alias("a").join(wider.alias("b"), "doc_id")
        .filter((F.col("a.split") == "train") & (F.col("b.split") != "train"))
    )
    assert moved.count() == 0


def test_corpus_stats_shape(docs):
    from andl_spark.pipeline import text as T

    row = T.corpus_stats(docs, "text").first()
    assert row["n_docs"] == docs.count()
    assert row["p50_tokens"] <= row["p90_tokens"] <= row["p99_tokens"]
    assert 0 < row["avg_lexdiv"] <= 1.0


def test_source_mixture_shares_sum_to_one(docs):
    from andl_spark.pipeline import text as T

    rows = T.source_mixture(docs).collect()
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-3
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert all(0 <= r["dup_rate"] <= 1 for r in rows)


def test_dedup_against_index(docs, spark):
    """Batch-vs-corpus dedup: rows already fingerprint-indexed are
    dropped; within-batch clones collapse to the min-id winner."""
    from andl_spark.pipeline.dedup import dedup_against_index
    from andl_spark.pipeline.text import fingerprint

    index = docs.filter(F.col("doc_id") < 100).select(fingerprint("text").alias("fp"))
    batch = docs.unionByName(
        docs.filter(F.col("doc_id") >= 450).withColumn("doc_id", F.col("doc_id") + 10_000)
    )
    out = dedup_against_index(batch, index)
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    assert not any(i < 100 for i in ids)          # indexed content dropped
    assert not any(i >= 10_000 for i in ids)      # batch clones lost to min-id
    assert all(i >= 100 for i in ids) and len(ids) > 0


def test_bigrams_and_repetition(spark):
    from andl_spark.pipeline import text as T

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "all words here differ"), (3, "x")],
        "id long, text string",
    )
    rows = {r["id"]: r for r in T.repetition_stats(df).collect()}
    # "a b a b a" → bigrams [a b, b a, a b, b a]: 2 distinct of 4 → 0.5
    assert abs(rows[1]["dup_bigram_frac"] - 0.5) < 1e-9
    assert rows[2]["dup_bigram_frac"] == 0.0
    assert rows[3]["dup_bigram_frac"] is None  # single token: no bigrams


def test_top_ngrams(spark):
    from andl_spark.pipeline import text as T

    df = spark.createDataFrame(
        [("en", "big data big data"), ("en", "big data"), ("fr", "le chat")],
        "lang string, text string",
    )
    rows = [tuple(r) for r in T.top_ngrams(df, "text", "lang", k=1).collect()]
    assert ("en", "big data", 3, 1) in rows
    assert ("fr", "le chat", 1, 1) in rows


def test_ngram_stop_shingle_cap_bounds_fanout(spark):
    """A boilerplate shingle present in every document must not drive
    the candidate self-join quadratic: with max_shingle_freq on, the
    only candidates left are pairs sharing a sub-cap shingle."""
    # 40 docs sharing one boilerplate sentence (= stop shingles in all
    # 40), plus two genuine near-dups sharing distinctive content
    rows = [(i, f"terms of service apply here unique{i} filler{i} tail{i}") for i in range(40)]
    rows += [(100, "alpha beta gamma delta epsilon zeta"),
             (101, "alpha beta gamma delta epsilon different")]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    uncapped = D.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.0)
    capped = D.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.0, max_shingle_freq=10
    )
    # uncapped: every one of the C(40,2)=780 boilerplate pairs is a candidate
    assert uncapped.count() >= 780
    # capped: boilerplate shingles (freq 40 > 10) are dropped -> only the
    # genuine near-dup pair survives candidate generation
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert capped_pairs == {(100, 101)}


def test_embed_dup_bucketed_vs_exact_recall(emb):
    """The declared bucketed path's recall vs all-pairs, on real data:
    candidates it does emit must score identically to the exact path
    (verify step), and recall is the documented dial, not silence."""
    exact = D.embedding_dup_pairs(emb, "vec_id", "embedding", threshold=0.45)
    approx = D.embedding_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.45, bucket_bits=8, n_tables=8, dim=64
    )
    e = {(r["id_a"], r["id_b"]): r["cosine"] for r in exact.collect()}
    a = {(r["id_a"], r["id_b"]): r["cosine"] for r in approx.collect()}
    assert set(a) <= set(e)  # no false positives after the verify step
    for k, v in a.items():
        assert abs(v - e[k]) < 1e-12


def test_multimodal_codecs_property_round_trip():
    """Property-based: encode→decode is the identity for ARBITRARY
    image shapes (odd widths exercise BMP's 4-byte row padding) and
    arbitrary PCM16 contents — the codecs are exact, not
    happy-path-exact."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 23), h=st.integers(1, 17),
        seed=st.integers(0, 2**31 - 1),
    )
    def image_round_trip(w, h, seed):
        rng = np.random.default_rng(seed)
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (M.decode_bmp(M.encode_bmp(rgb)) == rgb).all()
        assert (M.decode_ppm(M.encode_ppm(rgb)) == rgb).all()

    @settings(max_examples=25, deadline=None)
    @given(
        n=st.integers(1, 1000), rate=st.sampled_from([8000, 16000, 44100]),
        seed=st.integers(0, 2**31 - 1),
    )
    def wav_round_trip(n, rate, seed):
        rng = np.random.default_rng(seed)
        samples = rng.integers(-32768, 32768, size=n, dtype=np.int16)
        got_rate, back = M.decode_wav(M.encode_wav(samples, rate))
        assert got_rate == rate and (back == samples).all()

    image_round_trip()
    wav_round_trip()


def test_quantize_embeddings_matches_sql_oracle(emb, duck):
    """int8 quantization parity: Spark's scale + codes equal the DuckDB
    mirror element for element (including the empty-vector edge, where
    DuckDB's list max is NULL but Spark's fold is 0.0 — both must land
    on scale 1.0), and every code is in [-127, 127]."""
    got = {r["vec_id"]: (r["q_scale"], list(r["q_vec"]))
           for r in SS.quantize_embeddings(emb, "embedding").collect()}
    frag = SS.quantize_sql("embedding")
    want = duck.execute(
        f"SELECT vec_id, {frag} FROM embeddings").fetchall()
    assert len(got) == len(want) > 0
    for vec_id, scale, codes in want:
        gs, gc = got[vec_id]
        assert abs(gs - scale) < 1e-12 and gc == list(codes), vec_id
    assert all(-127 <= c <= 127 for _, codes in got.values() for c in codes)
    # empty and zero vectors: scale 1.0 on BOTH engines
    edge = emb.sparkSession.createDataFrame(
        [(1, []), (2, [0.0, 0.0])], "vec_id long, embedding array<float>")
    srows = {r["vec_id"]: (r["q_scale"], list(r["q_vec"]))
             for r in SS.quantize_embeddings(edge, "embedding").collect()}
    drows = duck.execute(
        f"SELECT vec_id, {frag} FROM (VALUES (1, []), (2, [0.0, 0.0]))"
        " t(vec_id, embedding)").fetchall()
    assert srows[1] == (1.0, []) and srows[2] == (1.0, [0, 0])
    for vec_id, scale, codes in drows:
        assert srows[vec_id] == (scale, list(codes)), vec_id


def test_quantized_topk_recall(emb):
    """Scales cancel in cosine, so the exact top-k operator runs
    directly on the int8 codes; int8 rounding noise must barely move
    the ranking (recall >= 0.9 of the float top-5)."""
    qz = SS.quantize_embeddings(emb, "embedding").select(
        "vec_id", F.col("q_vec").alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SS.topk_bruteforce(emb, queries, k=5)
    quant = SS.topk_bruteforce(qz, qz.filter(F.col("vec_id") < 10), k=5)
    e = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["cand_id"]) for r in quant.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"int8 top-5 recall {recall}"


def test_quantized_ann_paths_end_to_end(emb):
    """r6 (VERDICT r5 item 5): the int8 codes are plumbed THROUGH the
    ANN operators — topk_lsh/topk_ivf_det(quantize=True) carry an
    array<tinyint> payload into the candidate join (4-8× smaller
    shuffle/broadcast at corpus scale) and the ranking stays within
    quantization noise: recall ≥ 0.9 vs the same operator's float
    path."""
    from andl_spark.plans.explain import formatted_plan

    queries = emb.filter(F.col("vec_id") < 10)

    fl = SS.topk_lsh(emb, queries, k=5, bits=4, multiprobe=2)
    ql = SS.topk_lsh(emb, queries, k=5, bits=4, multiprobe=2, quantize=True)
    e = {(r["query_id"], r["cand_id"]) for r in fl.collect()}
    a = {(r["query_id"], r["cand_id"]) for r in ql.collect()}
    assert len(e & a) / len(e) >= 0.9, "quantized LSH recall vs float path"
    # the probe join's corpus payload is the int8 code array
    assert "tinyint" in formatted_plan(ql)

    fi = SS.topk_ivf_det(emb, queries, k=5, nlist=8, nprobe=4)
    qi = SS.topk_ivf_det(emb, queries, k=5, nlist=8, nprobe=4, quantize=True)
    e = {(r["query_id"], r["cand_id"]) for r in fi.collect()}
    a = {(r["query_id"], r["cand_id"]) for r in qi.collect()}
    assert len(e & a) / len(e) >= 0.9, "quantized IVF recall vs float path"
    assert "tinyint" in formatted_plan(qi)


def test_ivf_auto_nlist_scales_and_holds_recall(emb):
    """r6 (VERDICT r5 item 4): nlist=None engages the √N lever —
    auto_nlist(√count clamped), auto_nprobe holding the probed-cell
    fraction — and recall@5 vs brute force stays ≥ 0.9 at this corpus
    size (the sf1/sf10 pins live in the scale rehearsal)."""
    assert SS.auto_nlist(100) == 16          # clamp floor
    assert SS.auto_nlist(250_000) == 500     # √N
    assert SS.auto_nlist(10**9) == 4096      # clamp ceiling
    assert SS.auto_nprobe(16) == 4           # floor
    assert SS.auto_nprobe(500) == 40         # fraction held (8%)

    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = SS.topk_bruteforce(emb, queries, k=5)
    auto = SS.topk_ivf_det(emb, queries, k=5, nlist=None, nprobe=None,
                           corpus_count=n)
    e = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["cand_id"]) for r in auto.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, f"auto-nlist IVF recall {recall} (n={n})"


@pytest.mark.slow
def test_ivf_auto_scale_recall_at_sf1(spark):
    """Scale rehearsal pin (VERDICT r5 item 4): under the √N auto-scale
    (nlist=None → auto_nlist ≈ 450 at sf1's 200k vectors, numpy-matmul
    assignment) recall@5 vs exact brute force stays ≥ 0.9, on BOTH the
    float and the quantized payload paths. Gated on ANDL_SF1_DIR."""
    import os
    import time

    from andl_spark.session import load_tables

    dirs = [("sf1", os.environ.get("ANDL_SF1_DIR")),
            ("sf10", os.environ.get("ANDL_SF10_DIR"))]
    dirs = [(tag, d) for tag, d in dirs if d]
    if not dirs:
        pytest.skip("set ANDL_SF1_DIR / ANDL_SF10_DIR to gen_sf.py output dirs")
    for tag, d in dirs:
        emb = load_tables(spark, d, register_views=False)["embeddings"]
        n = emb.count()
        queries = emb.filter(F.col("vec_id") < 10)
        exact = SS.topk_bruteforce(emb, queries, k=5)
        e = {(r["query_id"], r["cand_id"]) for r in exact.collect()}
        for quantize in (False, True):
            t0 = time.monotonic()
            auto = SS.topk_ivf_det(emb, queries, k=5, nlist=None,
                                   nprobe=None, corpus_count=n,
                                   quantize=quantize)
            a = {(r["query_id"], r["cand_id"]) for r in auto.collect()}
            recall = len(e & a) / len(e)
            print(f"# {tag} auto-IVF quantize={quantize}: n={n} "
                  f"nlist={SS.auto_nlist(n)} "
                  f"nprobe={SS.auto_nprobe(SS.auto_nlist(n))} "
                  f"recall@5={recall:.3f} {time.monotonic() - t0:.1f}s")
            assert recall >= 0.9, \
                f"auto-IVF recall {recall} ({tag}, quantize={quantize})"


def _ivf_probe_np(corpus, queries, k, nprobe, cents):
    """topk_ivf_det's probe with the numpy assignment forced at an
    explicit centroid list: the shared candidate/query sides and probe
    kernel, assignment by nearest_lists_np."""
    dim = len(cents[0])
    c = SS._cand_side(
        corpus, "vec_id", "embedding", dim, "list_id",
        lambda v, _n: F.element_at(SS._assign_expr(v, cents, 1, matmul=True), 1))
    q = SS._query_side(queries, "vec_id", "embedding", dim).withColumn(
        "list_id", F.explode(SS._assign_expr("qvec", cents, nprobe, matmul=True)))
    return SS._probe_topk(q, c, "list_id", k, dim)


def test_ivf_np_assignment_matches_expression_path(emb):
    """The large-nlist assignment (nearest_lists_np — one numpy matmul
    per Arrow batch) must agree with the literal-expression path on
    the same centroids, stay shuffle-free, and use no row-wise Python
    UDF (Arrow-batched only)."""
    from andl_spark.plans import explain as X

    cents = SS.seed_centroids(emb, nlist=8)
    queries = emb.filter(F.col("vec_id") < 10)
    expr_out = SS.topk_ivf_det(emb, queries, k=5, nlist=8, nprobe=4,
                               centroids=cents)
    np_out = _ivf_probe_np(emb, queries, 5, 4, cents)
    key = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["cand_id"], r["rank"]) for r in df.collect())
    assert key(expr_out) == key(np_out)

    assigned = emb.select(
        "vec_id",
        F.element_at(SS.nearest_lists_np(cents, 1)(F.col("embedding")), 1)
        .alias("list_id"))
    assert X.count_shuffles(assigned) == 0
    X.assert_no_python_row_udf(assigned)


def test_ivf_np_assignment_tolerates_null_vectors(spark):
    """Review r6: a NULL embedding in the corpus must not kill the
    Arrow-batched assignment — null vectors assign to no cell and drop
    from the probe join, like the expression path tolerates them."""
    rows = [(i, [float(i % 5), 1.0, 0.5, 2.0]) for i in range(40)]
    rows.append((99, None))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[float(j == i) for j in range(4)] for i in range(4)]
    assigned = emb.select(
        "vec_id",
        F.element_at(SS.nearest_lists_np(cents, 1)(F.col("embedding")), 1)
        .alias("list_id"))
    got = {r["vec_id"]: r["list_id"] for r in assigned.collect()}
    assert got[99] is None
    assert all(v is not None for k, v in got.items() if k != 99)
    out = _ivf_probe_np(
        emb.filter(F.col("vec_id") != 99).unionByName(
            emb.filter(F.col("vec_id") == 99)),
        emb.filter(F.col("vec_id") < 3), 3, 2, cents)
    assert out.count() > 0  # job survives the dirty row


def _index_topk(mode):
    def run(spark, corpus, q, tmp_path):
        from andl_spark.pipeline import annindex as AX

        path = str(tmp_path / "ivf")
        AX.build_ivf_index(corpus, path, nlist=4)
        return AX.topk_ivf_index(spark, q, path, k=2, nprobe=2, mode=mode)
    return run


@pytest.mark.parametrize("run", [
    lambda s, c, q, t: SS.topk_bruteforce(c, q, k=2),
    lambda s, c, q, t: SS.topk_lsh(c, q, k=2, bits=4, dim=8),
    lambda s, c, q, t: SS.topk_lsh(c, q, k=2, bits=4, dim=8, quantize=True),
    lambda s, c, q, t: SS.topk_ivf_det(c, q, k=2, nlist=4, nprobe=2),
    # auto-scale at nlist >= NP_ASSIGN_MIN_NLIST: numpy assignment
    lambda s, c, q, t: SS.topk_ivf_det(c, q, k=2, nlist=None, nprobe=None,
                                       corpus_count=10_000),
    lambda s, c, q, t: SS.topk_ivf_det(c, q, k=2, nlist=4, nprobe=2,
                                       quantize=True),
    lambda s, c, q, t: SS.topk_ivf_det(c, q, k=2, n1=2, n2=2, nprobe=1),
    _index_topk("join"),
    _index_topk("shared"),
], ids=["bruteforce", "lsh", "lsh_quantized", "ivf_det", "ivf_det_numpy",
        "ivf_det_quantized", "ivf_hier", "ivf_index_join", "ivf_index_shared"])
def test_ann_tie_break_lower_cand_id_ranks_first(spark, tmp_path, run):
    """Every ANN operator ranks by cosine desc, then cand_id asc: two
    candidates with bitwise-equal cosine (identical vectors, 2× the
    query's) take ranks 1 and 2 with the LOWER cand_id first."""
    base = [float(j + 1) for j in range(8)]
    rows = [(i, [((i * 5 + j * 3) % 11) - 4.5 for j in range(8)])
            for i in range(80)]
    rows[0] = (0, base)
    for i in (17, 40):
        rows[i] = (i, [2.0 * x for x in base])
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = corpus.filter(F.col("vec_id") == 0)
    got = sorted((r["rank"], r["cand_id"], r["cosine"])
                 for r in run(spark, corpus, q, tmp_path).collect())
    assert [(r, c) for r, c, _ in got] == [(1, 17), (2, 40)]
    assert got[0][2] == got[1][2]


def test_dup_clusters_transitive_and_canonical(spark):
    """Pairs (1,2),(2,3) collapse transitively into one cluster named
    by the minimum id, disjoint (5,6) stays separate, and
    keep_canonical retains exactly one doc per cluster plus all
    unpaired docs."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (5, 6)], "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"]
           for r in D.dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 4, 5, 6, 9)],
        "doc_id long, text string")
    kept = {r["doc_id"]
            for r in D.keep_canonical(docs, pairs, "doc_id").collect()}
    assert kept == {1, 4, 5, 9}


def test_dup_clusters_chain_converges_logarithmically(spark):
    """The pathological path-shaped component (successive boilerplate
    versions of templated web text): large-star/small-star must
    converge in O(log n) rounds, NOT O(diameter) — a 256-node chain
    (diameter 255) finishes in a handful of rounds (VERDICT r3 item 7);
    max_iter=1 still raises the clear non-convergence diagnostic; and
    keep_canonical plumbs max_iter through without force-broadcasting
    the losers."""
    import math

    n = 256
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    with trace.recording() as rec:
        got = {r["id"]: r["cluster_id"]
               for r in D.dup_clusters(chain, max_iter=40).collect()}
    assert set(got.values()) == {0} and len(got) == n
    # logarithmic, not diameter-bound: 2*log2(256)=16 >> rounds needed,
    # and orders of magnitude below the 255-round diameter
    assert _decision(rec, "dup_clusters")["rounds"] <= 2 * int(math.log2(n)), rec
    with __import__("pytest").raises(RuntimeError, match="converge"):
        D.dup_clusters(chain, max_iter=1)
    docs = spark.range(32).withColumnRenamed("id", "doc_id")
    short = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long")
    kept = D.keep_canonical(docs, short, "doc_id", max_iter=40)
    assert [r["doc_id"] for r in kept.collect()] == [0, 31]
    plan = kept._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in plan.lower() or "ResolvedHint" not in plan


def test_dup_clusters_matches_recursive_cte_oracle(spark, duck):
    """Min-label propagation equals DuckDB's recursive-CTE
    min-reachable labels on a deterministic synthetic pair graph over
    the documents table (same-source, same doc_id mod 7)."""
    pairs_sql = ("SELECT d1.doc_id AS id_a, d2.doc_id AS id_b "
                 "FROM documents d1 JOIN documents d2 "
                 "ON d1.source = d2.source AND d1.doc_id < d2.doc_id "
                 "AND d1.doc_id % 7 = d2.doc_id % 7")
    from andl_spark.session import load_tables
    from conftest import SF_SMOKE
    d = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    d.createOrReplaceTempView("documents")
    pairs = spark.sql(pairs_sql)
    got = sorted(map(tuple, D.dup_clusters(pairs).collect()))
    want = sorted(map(tuple, duck.execute(
        D.dup_clusters_sql(pairs_sql)).fetchall()))
    assert got == want and len(got) > 50


def test_unigram_lm_score_matches_sql_oracle(spark, docs, duck):
    """The CCNet-style unigram-LM quality scorer: Spark's trained
    model + scores equal the self-contained DuckDB mirror doc for doc,
    and scores order sensibly (natural corpus text above gibberish)."""
    from andl_spark.pipeline import text as T

    lm = T.train_unigram_lm(docs, "text", vocab_cap=5_000)
    got = {r["id"]: (r["n_tokens"], r["avg_logp"])
           for r in T.lm_quality_score(docs, lm, "doc_id", "text").collect()}
    want = duck.execute(
        T.unigram_lm_sql("documents", "doc_id", "text", 5_000)).fetchall()
    assert len(got) == len(want) > 0
    for doc_id, n, s in want:
        assert got[doc_id][0] == n
        assert abs(got[doc_id][1] - s) < 1e-9, doc_id
    # a gibberish doc scores below every real doc (all-OOV tokens)
    gib = spark.createDataFrame(
        [(999_999, "qzxv wkjq zzyxw qqqvz xkcd9 jwqp")],
        "doc_id long, text string")
    g = T.lm_quality_score(gib, lm, "doc_id", "text").first()["avg_logp"]
    assert g < min(s for _, _, s in want)


def test_unigram_lm_edge_cases(spark, docs):
    """Hardening: a literal '__oov__' corpus token is an ordinary word
    (the OOV sentinel is a typed flag, not a magic string); NULL and
    whitespace-only docs keep a row (n_tokens 0, score NULL); a model
    lacking its OOV row is rejected loudly."""
    from andl_spark.pipeline import text as T

    tricky = spark.createDataFrame(
        [(1, "the __oov__ token appears here literally"),
         (2, None), (3, "   ")],
        "doc_id long, text string")
    lm = T.train_unigram_lm(tricky, "text", vocab_cap=100)
    assert lm.filter(F.col("w") == "__oov__").count() == 1  # ordinary word
    assert lm.filter(F.col("is_oov")).count() == 1
    got = {r["id"]: (r["n_tokens"], r["avg_logp"])
           for r in T.lm_quality_score(tricky, lm, "doc_id", "text").collect()}
    assert got[1][0] == 6                       # not doubled by collision
    assert got[2] == (0, None) and got[3] == (0, None)
    with pytest.raises(ValueError, match="is_oov"):
        T.lm_quality_score(tricky, lm.filter(~F.col("is_oov")),
                           "doc_id", "text")


def test_bruteforce_guard_rejects_corpus_sized_queries(spark, emb):
    """topk_bruteforce broadcasts the query side; a corpus-sized query
    set must raise (pointing at the scalable paths) instead of OOMing
    (VERDICT r3 hardening). The default cap leaves normal use alone."""
    with pytest.raises(ValueError, match="topk_lsh"):
        SS.topk_bruteforce(emb, emb, k=3, max_queries=10)
    # unchanged behavior under the cap
    q = emb.filter(F.col("vec_id") < 3)
    assert SS.topk_bruteforce(emb, q, k=2).count() == 6


def test_centroid_cache_evicts_on_version_change(spark, emb):
    """Passing a catalog/corpus version keys the quantizer cache on
    data identity: same plan + new version = fresh centroids
    (VERDICT r3 item 10)."""
    SS.clear_centroid_cache()
    a = SS.seed_centroids(emb, nlist=4, version="v1")
    assert len(SS._CENTROID_CACHE) == 1
    b = SS.seed_centroids(emb, nlist=4, version="v1")
    assert len(SS._CENTROID_CACHE) == 1 and a == b  # hit
    c = SS.seed_centroids(emb, nlist=4, version="v2")
    assert len(SS._CENTROID_CACHE) == 2             # miss -> re-derived
    assert c == a                                   # same data, same result
    SS.clear_centroid_cache()


def _dense_docs(spark):
    """Dup-dense text corpus: 3 DENSE clusters of 40 copies (the anchor
    guarantee's precondition), ids base*1000 + copy. Within a base the
    copies differ by one tail token; across bases a repeated marker
    dominates, so clusters are far apart under both metrics."""
    marker = {0: "aardvark", 1: "kumquat", 2: "zeppelin"}
    rows = [(base * 1000 + k,
             f"the quick brown fox jumps over the lazy dog variant "
             f"{(marker[base] + ' ') * 12}"
             f"alpha beta gamma delta epsilon zeta eta theta "
             + ("tail" if k == 0 else f"tail{k % 3}"))
            for base in range(3) for k in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _dense_emb(spark):
    """Dup-dense dim-16 vector corpus: 3 clusters of 30 copies, ids
    base*1000 + copy — one base direction per cluster plus a tiny
    per-copy perturbation; cross-cluster cosine ≈ 0.1."""
    rows = []
    for base in range(3):
        for k in range(30):
            vec = [1.0 if j % 3 == base else 0.05 for j in range(16)]
            vec[k % 16] += 0.01
            rows.append((base * 1000 + k, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_anchor_degree_bounds_fanout_preserves_clusters(spark):
    """Duplicate-dense corpora (the sf10 lesson: 100-way near-dup
    clusters → quadratic pair enumeration; simhash OOM'd): with
    anchor_degree the pair count is linear in cluster size and
    dup_clusters/keep_canonical decide IDENTICALLY to all-pairs."""
    docs = _dense_docs(spark)
    exact = D.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5)
    capped = D.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5,
                                 anchor_degree=4)
    n_exact, n_capped = exact.count(), capped.count()
    # quadratic vs linear: 3 clusters of 40 → ~2340 exact pairs; the
    # capped set stays within D·|bucket|·bands but far below quadratic
    assert n_exact > 1500 and n_capped < n_exact / 3
    # identical dedup DECISION
    ex = {tuple(r) for r in D.dup_clusters(
        exact.select("id_a", "id_b")).collect()}
    cp = {tuple(r) for r in D.dup_clusters(
        capped.select("id_a", "id_b")).collect()}
    assert ex == cp
    # and the capped pairs are a subset of the exact ones (no invented
    # edges, same threshold applied)
    ep = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    for r in capped.collect():
        assert (r["id_a"], r["id_b"]) in ep

    # simhash twin: same guarantees through the pigeonhole path
    sigs = D.simhash_signatures(docs, "doc_id", "text")
    se = D.simhash_near_pairs(sigs, "doc_id", max_hamming=3)
    sc = D.simhash_near_pairs(sigs, "doc_id", max_hamming=3,
                              anchor_degree=4)
    if se.count():  # clusters this tight collide on every chunk
        assert sc.count() <= se.count()
        exd = {tuple(r) for r in D.dup_clusters(
            se.select("id_a", "id_b")).collect()}
        cpd = {tuple(r) for r in D.dup_clusters(
            sc.select("id_a", "id_b")).collect()}
        assert exd == cpd


def test_fanout_auto_guard_engages_anchors(spark, monkeypatch, caplog):
    """r6 (VERDICT r5 finding 2): with anchor_degree=None the exact
    pair join estimates its candidate fan-out first and auto-engages
    anchors above AUTO_ANCHOR_BOUND — logged switch, output identical
    to the explicit anchored call — instead of OOMing on dup-dense
    data. anchor_degree<=0 opts out (exact at any cost); the default
    bound never trips at oracle scales (estimate ≈ 4e8 at sf10 minhash
    vs the 1e9 bound)."""
    import logging

    n_copies = 20
    rows = [(base * 1000 + k,
             f"pack my box with five dozen liquor jugs cluster "
             f"{('anchorword' + str(base) + ' ') * 10}"
             + ("tail" if k == 0 else f"tail{k % 3}"))
            for base in range(2) for k in range(n_copies)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # force the guard to trip at this tiny scale
    monkeypatch.setattr(D, "AUTO_ANCHOR_BOUND", 10)
    with caplog.at_level(logging.WARNING, logger="andl_spark.dedup"):
        guarded = D.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5)
    assert any("auto-engaging anchor_degree" in r.message for r in caplog.records)
    anchored = D.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5,
                                   anchor_degree=D.AUTO_ANCHOR_DEGREE)
    assert _pair_set(guarded) == _pair_set(anchored)

    # opting out with anchor_degree=0 keeps exact (quadratic) semantics
    exact = D.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5,
                                anchor_degree=0)
    assert exact.count() > guarded.count()
    # decisions stay identical either way (dense-cluster guarantee)
    assert ({tuple(r) for r in D.dup_clusters(exact.select("id_a", "id_b")).collect()}
            == {tuple(r) for r in D.dup_clusters(guarded.select("id_a", "id_b")).collect()})

    # simhash twin: guard trips, matches explicit anchors
    sigs = D.simhash_signatures(docs, "doc_id", "text")
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="andl_spark.dedup"):
        g2 = D.simhash_near_pairs(sigs, "doc_id", max_hamming=3)
    assert any("auto-engaging anchor_degree" in r.message for r in caplog.records)
    a2 = D.simhash_near_pairs(sigs, "doc_id", max_hamming=3,
                              anchor_degree=D.AUTO_ANCHOR_DEGREE)
    assert {tuple(r) for r in g2.collect()} == {tuple(r) for r in a2.collect()}
    e2 = D.simhash_near_pairs(sigs, "doc_id", max_hamming=3, anchor_degree=0)
    assert e2.count() >= g2.count()


def test_embed_anchor_degree_bounds_fanout_preserves_clusters(spark):
    """Embedding twin of the minhash/simhash anchor guarantee: the r5
    sf10 rehearsal showed the bucket join's MATCHED-ROW count is the
    embedding op's real cost (SCALE_r05.md), and anchor_degree is the
    lever that shrinks it — pair count linear in cluster size, the
    dup_clusters decision identical, no invented edges."""
    emb = _dense_emb(spark)
    kw = dict(threshold=0.95, bucket_bits=6, n_tables=4, dim=16)
    exact = D.embedding_dup_pairs(emb, "vec_id", "embedding", **kw)
    capped = D.embedding_dup_pairs(emb, "vec_id", "embedding",
                                   anchor_degree=4, **kw)
    n_exact, n_capped = exact.count(), capped.count()
    # quadratic vs linear: 3 clusters of 30 → ~1305 exact pairs
    assert n_exact > 1000 and n_capped < n_exact / 2
    ex = {tuple(r) for r in D.dup_clusters(
        exact.select("id_a", "id_b")).collect()}
    cp = {tuple(r) for r in D.dup_clusters(
        capped.select("id_a", "id_b")).collect()}
    assert ex == cp
    ep = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    for r in capped.collect():
        assert (r["id_a"], r["id_b"]) in ep


def test_embedding_fanout_auto_guard_engages_anchors(spark, monkeypatch, caplog):
    """r7 (VERDICT r6 item 1): the embedding pair joins get the same
    fan-out auto-guard as their minhash/simhash siblings —
    anchor_degree=None estimates the bucket join's candidate count
    first and auto-engages anchors above AUTO_ANCHOR_BOUND (logged +
    noted in the trace record), output identical to the explicit anchored call;
    anchor_degree<=0 opts out (exact at any cost); the dup_clusters
    DECISION is identical either way for dense clusters."""
    import logging

    n_copies, dim = 30, 16
    rows = []
    for base in range(3):
        for k in range(n_copies):
            vec = [1.0 if j % 3 == base else 0.05 for j in range(dim)]
            vec[k % dim] += 0.01
            rows.append((base * 1000 + k, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(threshold=0.95, bucket_bits=6, n_tables=4, dim=dim)

    monkeypatch.setattr(D, "AUTO_ANCHOR_BOUND", 10)
    with caplog.at_level(logging.WARNING, logger="andl_spark.dedup"), \
            trace.recording() as rec:
        guarded = D.embedding_dup_pairs(emb, "vec_id", "embedding", **kw)
        n_guarded = guarded.count()
    assert any("auto-engaging anchor_degree" in r.message for r in caplog.records)
    st = _decision(rec, "embedding_dup_pairs")
    assert st["anchor_degree"] == D.AUTO_ANCHOR_DEGREE and st["estimated_pairs"] > 10
    anchored = D.embedding_dup_pairs(emb, "vec_id", "embedding",
                                     anchor_degree=D.AUTO_ANCHOR_DEGREE, **kw)
    assert _pair_set(guarded) == _pair_set(anchored)

    exact = D.embedding_dup_pairs(emb, "vec_id", "embedding",
                                  anchor_degree=0, **kw)
    assert exact.count() > n_guarded  # opt-out keeps quadratic exactness
    assert ({tuple(r) for r in D.dup_clusters(exact.select("id_a", "id_b")).collect()}
            == {tuple(r) for r in D.dup_clusters(guarded.select("id_a", "id_b")).collect()})

    # incremental leg: probe×corpus estimate trips the guard too
    old = emb.filter(F.col("vec_id") % 3 != 0)
    new = emb.filter(F.col("vec_id") % 3 == 0)
    index = D.embedding_index(old, "vec_id", "embedding",
                              bucket_bits=6, n_tables=4, dim=dim)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="andl_spark.dedup"), \
            trace.recording() as rec:
        g_incr, _ = D.embedding_dup_against_index(
            new, index, "vec_id", "embedding", **kw)
    assert any("embedding_dup_against_index" in r.message for r in caplog.records)
    assert (_decision(rec, "embedding_dup_against_index")["anchor_degree"]
            == D.AUTO_ANCHOR_DEGREE)
    a_incr, _ = D.embedding_dup_against_index(
        new, index, "vec_id", "embedding",
        anchor_degree=D.AUTO_ANCHOR_DEGREE, **kw)
    assert _pair_set(g_incr) == _pair_set(a_incr)
    # opt-out reproduces the r6 exact incremental semantics
    e_incr, _ = D.embedding_dup_against_index(
        new, index, "vec_id", "embedding", anchor_degree=0, **kw)
    assert e_incr.count() >= g_incr.count()

    # below the (restored) default bound the guard never engages:
    # exact semantics, the record notes the pass-through
    monkeypatch.setattr(D, "AUTO_ANCHOR_BOUND", 1_000_000_000)
    with trace.recording() as rec:
        quiet = D.embedding_dup_pairs(emb, "vec_id", "embedding", **kw)
    assert _pair_set(quiet) == _pair_set(exact)
    assert _decision(rec, "embedding_dup_pairs")["anchor_degree"] is None


@pytest.mark.parametrize("family", ["minhash", "simhash", "embedding"])
@pytest.mark.parametrize("mode", ["self", "probe"])
def test_pair_kernel_anchors_the_declared_side(spark, family, mode):
    """_bucket_pairs' anchor-side contract at anchor_degree=2, on the
    dup-dense corpora. A self-join anchors the probe (a) side: the
    anchored pairs are exactly the exact pairs (id_a, id_b) whose id_a
    is among the 2 smallest ids of some bucket shared with id_b. An
    ``*_against_index`` join anchors the corpus (b) side: exactly the
    exact pairs with one new-batch id and one id among the 2 smallest
    CORPUS ids (index ∪ batch) of a bucket the two share. The new
    batch holds each cluster's highest ids, so anchoring the wrong side
    yields a different pair set in both modes."""
    emb_kw = dict(threshold=0.95, bucket_bits=6, n_tables=4, dim=16)
    if family == "embedding":
        corpus, id_col = _dense_emb(spark), "vec_id"
        new_mask = F.col("vec_id") % 1000 >= 20
        keys = D._embedding_buckets(D.embedding_index(
            corpus, "vec_id", "embedding", bucket_bits=6, n_tables=4,
            dim=16)).select(F.col("id").alias("vec_id"), "tbl", "bucket")
    else:
        corpus, id_col = _dense_docs(spark), "doc_id"
        new_mask = F.col("doc_id") % 1000 >= 25
        if family == "minhash":
            keys = D._band_buckets(D.minhash_signatures(
                corpus, "doc_id", "text"), "doc_id", 16, 4)
        else:
            keys = D._simhash_buckets(D.simhash_signatures(
                corpus, "doc_id", "text"), "doc_id", 3).drop("sh_lo", "sh_hi")
    old, new = corpus.filter(~new_mask), corpus.filter(new_mask)

    def pairs(ad):
        if mode == "self" and family == "minhash":
            out = D.lsh_candidate_pairs(
                D.minhash_signatures(corpus, "doc_id", "text"), "doc_id",
                anchor_degree=ad)
        elif mode == "self" and family == "simhash":
            out = D.simhash_near_pairs(
                D.simhash_signatures(corpus, "doc_id", "text"), "doc_id",
                max_hamming=3, anchor_degree=ad)
        elif mode == "self":
            out = D.embedding_dup_pairs(corpus, "vec_id", "embedding",
                                        anchor_degree=ad, **emb_kw)
        elif family == "minhash":
            out, _ = D.minhash_against_index(
                new, D.minhash_signatures(old, "doc_id", "text"),
                threshold=0.5, anchor_degree=ad)
        elif family == "simhash":
            out, _ = D.simhash_against_index(
                new, D.simhash_signatures(old, "doc_id", "text"),
                max_hamming=3, anchor_degree=ad)
        else:
            out, _ = D.embedding_dup_against_index(
                new, D.embedding_index(old, "vec_id", "embedding",
                                       bucket_bits=6, n_tables=4, dim=16),
                "vec_id", "embedding", anchor_degree=ad, **emb_kw)
        return _pair_set(out)

    members: dict = {}
    of: dict = {}
    for r in keys.collect():
        k = tuple(r[1:])
        members.setdefault(k, []).append(r[0])
        of.setdefault(r[0], set()).add(k)
    anchors = {k: set(sorted(ids)[:2]) for k, ids in members.items()}
    new_ids = {r[0] for r in new.select(id_col).collect()}

    def through_anchor(x, y):
        for k in of[x] & of[y]:
            if mode == "self" and x in anchors[k]:
                return True
            if mode == "probe" and ((x in new_ids and y in anchors[k])
                                    or (y in new_ids and x in anchors[k])):
                return True
        return False

    exact = pairs(0)
    expected = {(x, y) for x, y in exact if through_anchor(x, y)}
    assert expected and len(expected) < len(exact)
    assert pairs(2) == expected


# ---------------------------------------------------------------------
# incremental near-dup index (VERDICT r4 item 4)
# ---------------------------------------------------------------------

def _pair_set(df, *extra):
    return {tuple(r) for r in df.select("id_a", "id_b", *extra).collect()}


def _decision(rec, op):
    """The one decision ``op`` noted in the trace record ``rec``."""
    (d,) = [r for r in rec if r["op"] == op]
    return d


@pytest.mark.parametrize("num_bands,rows_per_band", [(16, 4), (16, 3)])
def test_band_bucket_packing_matches_string_grouping(docs, num_bands,
                                                     rows_per_band):
    """r11 (guide §2.3): _band_buckets packs each band's signature
    slice into ceil(r/2) longs instead of a ~40-char digit string. The
    encoding must be injective per band — identical (band, bucket)
    GROUPS as the r10 string keys — or the candidate pair set, the
    fan-out-guard estimates, and the anchor selection would silently
    shift. Proven as a bijection between the two encodings over the
    real corpus, for the even-pair path (r=4) and the odd-tail path
    (r=3)."""
    sigs = D.minhash_signatures(docs, "doc_id", "text")
    packed = D._band_buckets(sigs, "doc_id", num_bands, rows_per_band)
    strings = sigs.select(
        F.col("doc_id"),
        F.explode(F.expr("array(" + ", ".join(
            f"struct({i} AS band, concat_ws('_', transform("
            f"slice(signature, {i * rows_per_band + 1}, {rows_per_band}), "
            f"x -> cast(x AS string))) AS bucket)"
            for i in range(num_bands)) + ")")).alias("bb"),
    ).select("doc_id", "bb.band", F.col("bb.bucket").alias("sbucket"))
    joined = packed.join(strings, ["doc_id", "band"]).select(
        "band", "bucket", "sbucket")
    n_both = joined.distinct().count()
    n_str = joined.select("band", "sbucket").distinct().count()
    n_pack = joined.select("band", "bucket").distinct().count()
    assert n_both == n_str == n_pack > 0


@pytest.mark.parametrize("num_perm", [64, 7])
def test_packed_score_leg_matches_unpacked_jaccard(docs, num_perm):
    """r12 (guide §2.3): minhash_jaccard with num_perm packs the
    signatures 2-per-long through the score join and counts equal
    positions on the hi/lo 32-bit halves. The estimated Jaccard must be
    BITWISE equal to the legacy unpacked zip_with path for every pair —
    including the odd-width tail (num_perm=7), whose always-equal zero
    hi half is statically subtracted."""
    import struct

    sigs = D.minhash_signatures(docs, "doc_id", "text", num_perm=num_perm)
    sigs = sigs.persist()
    sigs.count()
    pairs = D.lsh_candidate_pairs(
        sigs, "doc_id", num_bands=max(1, num_perm // 4),
        rows_per_band=min(4, num_perm), anchor_degree=0)
    legacy = {(r.id_a, r.id_b): struct.pack("d", r.est_jaccard)
              for r in D.minhash_jaccard(sigs, pairs, "doc_id").collect()}
    packed = {(r.id_a, r.id_b): struct.pack("d", r.est_jaccard)
              for r in D.minhash_jaccard(sigs, pairs, "doc_id",
                                         num_perm=num_perm).collect()}
    sigs.unpersist()
    assert legacy == packed and len(packed) > 0


def test_minhash_incremental_index_equals_full_recompute(docs, spark, tmp_path):
    """batch+index must reproduce the full-corpus recompute exactly:
    old×old pairs from the index build, plus every pair touching the
    new batch from minhash_against_index — no pair gained or lost.
    The index round-trips through the versioned catalog (the persisted
    artifact the 100 TB re-crawl keeps)."""
    from andl_spark.sources.catalog import Catalog

    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)

    full = D.minhash_lsh_dedup(docs, "doc_id", "text", threshold=0.5)
    old_pairs = D.minhash_lsh_dedup(old, "doc_id", "text", threshold=0.5)

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.put("mh_index", D.minhash_signatures(old, "doc_id", "text"))
    incr, new_sigs = D.minhash_against_index(
        new, cat.get("mh_index"), "doc_id", "text", threshold=0.5)

    f = _pair_set(full)
    assert _pair_set(old_pairs) | _pair_set(incr) == f
    # incremental pairs all touch the new batch; old×old stays indexed
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    assert all(a in new_ids or b in new_ids for a, b in _pair_set(incr))
    # jaccard estimates agree with the full run on shared pairs
    fj = {(r.id_a, r.id_b): r.est_jaccard for r in full.collect()}
    for r in incr.collect():
        assert abs(fj[(r.id_a, r.id_b)] - r.est_jaccard) < 1e-12
    # appending the new signatures reproduces the full signature set
    cat.put("mh_index", cat.get("mh_index").unionByName(new_sigs))
    assert cat.get("mh_index").count() == docs.count()
    # time travel still has the pre-ingest index
    assert cat.get("mh_index", version=1).count() == old.count()


def test_simhash_incremental_index_equals_full_recompute(docs, spark):
    """SimHash twin: chunk-pigeonhole candidates are lossless for the
    declared Hamming radius, so batch+index == full recompute."""
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)

    sigs_all = D.simhash_signatures(docs, "doc_id", "text")
    full = D.simhash_near_pairs(sigs_all, "doc_id", max_hamming=3)
    sigs_old = D.simhash_signatures(old, "doc_id", "text")
    old_pairs = D.simhash_near_pairs(sigs_old, "doc_id", max_hamming=3)

    incr, new_sigs = D.simhash_against_index(
        new, sigs_old, "doc_id", "text", max_hamming=3)
    assert (_pair_set(old_pairs, "hamming") | _pair_set(incr, "hamming")
            == _pair_set(full, "hamming"))
    assert new_sigs.count() == new.count()


def test_embedding_incremental_index_equals_full_recompute(emb, spark, tmp_path):
    """Embedding twin: bucket assignment is per-vector deterministic,
    so batch+index reproduces the bucketed full recompute exactly —
    pairs AND cosines — and the index round-trips the versioned
    catalog like the MinHash one."""
    from andl_spark.sources.catalog import Catalog

    kw = dict(threshold=0.45, bucket_bits=8, n_tables=8, dim=64)
    old = emb.filter(F.col("vec_id") % 3 != 0)
    new = emb.filter(F.col("vec_id") % 3 == 0)

    full = D.embedding_dup_pairs(emb, "vec_id", "embedding", **kw)
    old_pairs = D.embedding_dup_pairs(old, "vec_id", "embedding", **kw)

    cat = Catalog(spark, str(tmp_path / "cat"))
    cat.put("emb_index", D.embedding_index(
        old, "vec_id", "embedding", bucket_bits=8, n_tables=8, dim=64))
    incr, new_index = D.embedding_dup_against_index(
        new, cat.get("emb_index"), "vec_id", "embedding", **kw)

    assert _pair_set(old_pairs) | _pair_set(incr) == _pair_set(full)
    new_ids = {r.vec_id for r in new.select("vec_id").collect()}
    assert _pair_set(incr)  # the planted dups straddle the 1/3 split
    assert all(a in new_ids or b in new_ids for a, b in _pair_set(incr))
    fc = {(r.id_a, r.id_b): r.cosine for r in full.collect()}
    for r in incr.collect():
        assert abs(fc[(r.id_a, r.id_b)] - r.cosine) < 1e-12
    # appending the new rows reproduces the full index; v1 time-travels
    cat.put("emb_index", cat.get("emb_index").unionByName(new_index))
    assert cat.get("emb_index").count() == emb.count()
    assert cat.get("emb_index", version=1).count() == old.count()


def test_dedup_spans_matches_sql_oracle(spark, duck):
    """Exact repeated-span dedup (Lee et al. 2022 ExactSubstr at span
    granularity, §2.8 row 59a): Spark output equals the DuckDB mirror
    row-for-row on the REAL documents table (raw-string keys), the
    production xxhash64 AND 128-bit (100 TB posture) modes make
    identical decisions, and the core guarantees hold: first occurrence
    survives, later occurrences (cross-doc AND within-doc) are removed,
    short/NULL docs pass through untouched with ZERO phantom tokens."""
    from andl_spark.session import load_tables

    docs = load_tables(spark, SF_SMOKE, register_views=False)["documents"]
    w = 12
    got = D.dedup_spans(docs, window=w, hash_fn=None)
    grows = sorted(map(tuple, got.collect()))
    orows = sorted(map(tuple, duck.execute(
        D.dedup_spans_sql(window=w)).fetchall()))
    assert len(grows) == len(orows) > 0
    assert grows == orows
    # production hash modes decide identically (64- and 128-bit keys)
    goth = sorted(map(tuple, D.dedup_spans(docs, window=w).collect()))
    assert goth == grows
    goth128 = sorted(map(tuple, D.dedup_spans(
        docs, window=w, hash_fn="xxhash128").collect()))
    assert goth128 == grows
    # some real duplication must exist at this window on this corpus
    # (the generator plants shared phrases) — the op must both remove
    # something and keep the majority
    removed = sum(r[3] for r in grows)
    total = sum(r[2] for r in grows)
    assert 0 < removed < total

    # synthetic guarantees
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x y a b c d e f g h i j z"),
        (4, "a b c d e f g h i j a b c d e f g h i j"),
        (5, None),
    ]
    sdocs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
           for r in D.dedup_spans(sdocs, window=10).collect()}
    assert out[1] == ("a b c d e f g h i j", 10, 0)  # first occurrence kept
    assert out[2] == ("x y z", 13, 10)            # cross-doc later occurrence cut
    assert out[4] == ("", 20, 20)                 # within-doc repeat cut too
    assert out[5] == ("", 0, 0)                   # NULL text: zero tokens


def test_dedup_spans_incremental_index_equals_full_recompute(spark, tmp_path):
    """Spans leg of the *_against_index family (VERDICT r6 item 2):
    batches arriving in ascending id order reproduce the one-shot
    dedup_spans over the concatenated corpus row-for-row; the
    first-occurrence key index stays key-unique, round-trips the
    versioned catalog, and a replayed batch claims nothing new."""
    import random

    from andl_spark.sources.catalog import Catalog

    words = ("red orange yellow green blue indigo violet cyan magenta "
             "umber ochre teal maroon olive navy coral").split()
    boiler = " ".join(words[i % len(words)] for i in range(15))
    rows = []
    for i in range(45):
        rnd = random.Random(1000 + i)
        body = " ".join(rnd.choice(words) for _ in range(22))
        rows.append((i, (boiler + " " + body) if i % 3 == 0 else body))
    rows[7] = (7, None)  # NULL text: kept, zero tokens
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    W = 7

    for hash_fn in ("xxhash64", None):
        one = D.dedup_spans(docs, "doc_id", "text", window=W,
                            hash_fn=hash_fn)
        want = {tuple(r) for r in one.collect()}

        cat = Catalog(spark, str(tmp_path / f"cat_{hash_fn}"))
        cat.put("span_index", D.empty_span_index(spark, hash_fn))
        got = set()
        for lo, hi in [(0, 15), (15, 30), (30, 45)]:
            b = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            clean, new_idx = D.dedup_spans_against_index(
                b, cat.get("span_index"), "doc_id", "text",
                window=W, hash_fn=hash_fn)
            got |= {tuple(r) for r in clean.collect()}
            cat.put("span_index",
                    cat.get("span_index").unionByName(new_idx))
        assert got == want
        idx = cat.get("span_index")
        assert idx.count() == idx.select("key").distinct().count()
        # replay of the middle batch claims nothing (keys already owned)
        b2 = docs.filter((F.col("doc_id") >= 15) & (F.col("doc_id") < 30))
        _, replay_idx = D.dedup_spans_against_index(
            b2, idx, "doc_id", "text", window=W, hash_fn=hash_fn)
        assert replay_idx.count() == 0
        # time travel keeps the pre-ingest index states
        assert cat.get("span_index", version=1).count() == 0


def test_ivf_np_gating_and_zero_norm_alignment(spark):
    """ADVICE r6: (1) an EXPLICIT nlist — however large — keeps the
    JVM literal-expression assignment (the documented
    topk_ivf_det_sql mirror); the numpy path engages only in the √N
    auto-scale regime, and the shared probe runs it whenever the numpy
    assignment is passed in. (2) Zero-norm vectors get
    NaN cosine on BOTH assignment paths (no clamp-to-0 divergence):
    the two paths assign every vector, including a zero one,
    identically."""
    import numpy as np

    from andl_spark.plans import explain as X

    rows = [(i, [float((i * 3 + j) % 7) - 3.0 for j in range(8)])
            for i in range(200)]
    rows.append((300, [0.0] * 8))  # zero-norm vector
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 5)

    # explicit nlist=64 (>= NP_ASSIGN_MIN_NLIST): plan must contain NO
    # Python at all — pure JVM expression assignment
    out = SS.topk_ivf_det(emb, queries, k=3, nlist=64, nprobe=8)
    prof = X.plan_report(out)
    assert prof["arrow_python"] == 0 and prof["row_python_udf"] == 0
    # auto-scale with a large corpus_count engages the numpy path
    auto = SS.topk_ivf_det(emb, queries, k=3, nlist=None, nprobe=8,
                           corpus_count=10_000)
    assert X.plan_report(auto)["arrow_python"] > 0
    # the shared probe with the numpy assignment at explicit nlist
    forced = _ivf_probe_np(emb, queries, 3, 8,
                           SS.seed_centroids(emb, nlist=64))
    assert X.plan_report(forced)["arrow_python"] > 0

    # zero-norm alignment: both assignment paths agree on EVERY vector
    cents = SS.seed_centroids(emb, nlist=16)
    jvm = emb.select(
        "vec_id",
        SS.nearest_lists_cosine("embedding", cents, 3).alias("lists"))
    npp = emb.select(
        "vec_id", SS.nearest_lists_np(cents, 3)(F.col("embedding")).alias("lists"))
    jd = {r["vec_id"]: list(r["lists"]) for r in jvm.collect()}
    nd = {r["vec_id"]: list(r["lists"]) for r in npp.collect()}
    assert jd == nd
    assert 300 in jd  # the zero vector got a (deterministic) assignment


@pytest.mark.slow
def test_ivf_hier_recall_above_flat_clamp(spark):
    """Two-level IVF (VERDICT r6 item 4): a 20M-vector corpus whose
    √N (≈4472) exceeds the flat quantizer's 4096-cell clamp must
    auto-dispatch to the hierarchical coarse quantizer and hold
    recall@5 ≥ 0.9. Ground truth is ANALYTIC (each base vector has 100
    copies whose coord-0 perturbation grows with copy number, so the
    true top-5 of query q is exactly q + c·N_BASE for c=1..5) — pinned
    equal to topk_bruteforce at this exact generation in the r7 scale
    rehearsal (SCALE_r07.md; brute force itself costs ~120s, so the
    test asserts against the validated analytic set). Assignment stays
    a shuffle-free Arrow-batched map: two bounded matmuls per batch,
    n1+n2 ≈ 2·N^(1/4) dots per row instead of the flat √N."""
    import andl_spark.pipeline.simsearch as SS2
    from andl_spark.plans import explain as X

    N_BASE, COPIES, DIM = 200_000, 100, 8
    N = N_BASE * COPIES
    assert SS2.auto_nlist(N) == SS2.AUTO_NLIST_MAX  # above the clamp
    base = F.col("id") % N_BASE
    copy = (F.col("id") / N_BASE).cast("long")

    def coord(j):
        c = ((base * (2 * j + 3)) % 101 - 50).cast("double") / 10.0
        if j == 0:
            c = c + copy.cast("double") * 0.001  # copies: same cluster
        if j == 1:
            c = c + (base % 2003).cast("double") * 0.01  # per-base jitter
        return c

    emb = spark.range(N).select(
        F.col("id").alias("vec_id"),
        F.array(*[coord(j) for j in range(DIM)]).alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 10)

    n1, n2, p1 = SS2.hier_params(N)
    assert n1 * n2 > SS2.AUTO_NLIST_MAX  # ≈√N cells, beyond the clamp
    # the auto-scale entry point dispatches to the hierarchy itself
    out = SS2.topk_ivf_det(emb, queries, k=5, nlist=None, nprobe=None,
                           corpus_count=N)
    prof = X.plan_report(out)
    assert prof["row_python_udf"] == 0 and prof["arrow_python"] > 0
    # corpus-side assignment is a pure map — zero shuffles
    cents = SS2.hier_seed_centroids(emb, n1=n1, n2=n2)
    assigned = emb.select(
        SS2.hier_assign_np(*cents)(F.col("embedding")).alias("list_id"))
    assert X.count_shuffles(assigned) == 0

    got = {(r["query_id"], r["cand_id"]) for r in out.collect()}
    want = {(q, q + c * N_BASE) for q in range(10) for c in range(1, 6)}
    recall = len(got & want) / len(want)
    assert recall >= 0.9, f"hier IVF recall {recall} at N={N}"


def test_ivf_hier_quantized_payload(spark):
    """The hierarchical path carries the int8 payload end-to-end like
    its flat sibling (no dispatch asymmetry): quantize=True keeps ≥0.9
    of the float path's top-k on the same centroids, the corpus join
    payload is tinyint, and assignment still reads the raw vector."""
    rows = [(i, [float((i * 3 + j) % 7) - 3.0 for j in range(8)])
            for i in range(300)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 10)
    kw = dict(k=5, n1=6, n2=6, nprobe=3, corpus_count=300)
    fl = SS.topk_ivf_det(emb, queries, **kw)
    qz = SS.topk_ivf_det(emb, queries, quantize=True, **kw)
    a = {(r["query_id"], r["cand_id"]) for r in fl.collect()}
    b = {(r["query_id"], r["cand_id"]) for r in qz.collect()}
    assert a and len(a & b) / len(a) >= 0.9
    # int8 payload in the plan (tinyint array), raw assignment intact
    plan = qz._jdf.queryExecution().toString()
    assert "tinyint" in plan.lower()


def test_against_index_fanout_guard_minhash_simhash(spark, monkeypatch, caplog):
    """r7: the minhash/simhash incremental legs carry the same
    probe×corpus fan-out auto-guard as the embedding one — tripping it
    yields the explicit-anchor result, opting out restores exact
    incremental semantics, the trace record notes both decisions. The
    probe×corpus estimate is Σ n_probe·n_corpus over the shared
    buckets, and costs one aggregate (≤ 3 jobs)."""
    import logging

    n_copies = 20
    rows = [(base * 1000 + k,
             f"jinxed wizards pluck ivy from the big quilt "
             f"{('markerino' + str(base) + ' ') * 10}"
             + ("end" if k == 0 else f"end{k % 3}"))
            for base in range(2) for k in range(n_copies)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter(F.col("doc_id") % 1000 < 12)
    new = docs.filter(F.col("doc_id") % 1000 >= 12)
    mh_idx = D.minhash_signatures(old, "doc_id", "text")
    sh_idx = D.simhash_signatures(old, "doc_id", "text")

    monkeypatch.setattr(D, "AUTO_ANCHOR_BOUND", 10)
    with caplog.at_level(logging.WARNING, logger="andl_spark.dedup"), \
            trace.recording() as rec:
        g_mh, _ = D.minhash_against_index(new, mh_idx, threshold=0.5)
        g_sh, _ = D.simhash_against_index(new, sh_idx, max_hamming=3)
    for op in ("minhash_against_index", "simhash_against_index"):
        assert any(op in r.message for r in caplog.records), op
        assert _decision(rec, op)["anchor_degree"] == D.AUTO_ANCHOR_DEGREE

    # the recorded estimate is the Counter product over the collected
    # probe (new batch) and corpus (index ∪ batch) bucket keys
    new_mh = D.minhash_signatures(new, "doc_id", "text")
    new_sh = D.simhash_signatures(new, "doc_id", "text")
    key_tables = {
        "minhash_against_index": (
            ["band", "bucket"], D._band_buckets(new_mh, "doc_id", 16, 4),
            D._band_buckets(mh_idx.unionByName(new_mh.select(*mh_idx.columns)),
                            "doc_id", 16, 4)),
        "simhash_against_index": (
            ["chunk", "val"], D._simhash_buckets(new_sh, "doc_id", 3),
            D._simhash_buckets(sh_idx.unionByName(new_sh.select(*sh_idx.columns)),
                               "doc_id", 3)),
    }
    for op, (keys, probe, corpus) in key_tables.items():
        n_probe, n_corpus = (Counter(tuple(r) for r in t.select(*keys).collect())
                             for t in (probe, corpus))
        want = sum(n * n_corpus[k] for k, n in n_probe.items())
        assert want > 0 and _decision(rec, op)["estimated_pairs"] == want, op
    keys, probe, corpus = key_tables["minhash_against_index"]
    probe, corpus = (t.select(*keys).localCheckpoint(eager=True) for t in (probe, corpus))
    _, jobs = jobs_run(spark, "probe-fanout-estimate",
                       lambda: D._fanout_guard(corpus, keys, "probe-estimate", probe=probe))
    assert jobs <= 3

    a_mh, _ = D.minhash_against_index(new, mh_idx, threshold=0.5,
                                      anchor_degree=D.AUTO_ANCHOR_DEGREE)
    a_sh, _ = D.simhash_against_index(new, sh_idx, max_hamming=3,
                                      anchor_degree=D.AUTO_ANCHOR_DEGREE)
    assert _pair_set(g_mh) == _pair_set(a_mh)
    assert _pair_set(g_sh, "hamming") == _pair_set(a_sh, "hamming")
    # opt-out (exact at any cost) reproduces the r6 incremental pairs
    # and notes its own decision — not the previous guarded one
    with trace.recording() as rec:
        e_mh, _ = D.minhash_against_index(new, mh_idx, threshold=0.5,
                                          anchor_degree=0)
    assert _pair_set(e_mh) >= _pair_set(g_mh)
    st = _decision(rec, "minhash_against_index")
    assert st["anchor_degree"] is None and st["mode"] == "exact"
    # an explicit positive anchor_degree records as such
    with trace.recording() as rec:
        D.minhash_against_index(new, mh_idx, threshold=0.5, anchor_degree=3)
    st = _decision(rec, "minhash_against_index")
    assert st["anchor_degree"] == 3 and st["mode"] == "explicit"


def test_decision_records_are_per_thread(spark, monkeypatch):
    """Two threads, each in its own ``trace.recording()``, run the same
    op with opposite guard outcomes (a bound of 10 trips the guard,
    ``anchor_degree=0`` opts out): each record holds only its own
    decision. Raising ``auto_bound`` on both ``*_against_index`` legs
    keeps exact semantics under the same corpus."""
    n_copies = 16
    rows = [(base * 1000 + k,
             f"inband wizard text {('statmark' + str(base) + ' ') * 8}"
             + ("end" if k == 0 else f"end{k % 3}"))
            for base in range(2) for k in range(n_copies)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter(F.col("doc_id") % 1000 < 8)
    new = docs.filter(F.col("doc_id") % 1000 >= 8)
    idx = D.minhash_signatures(old, "doc_id", "text").localCheckpoint(eager=True)
    monkeypatch.setattr(D, "AUTO_ANCHOR_BOUND", 10)

    records, pairs, errors = {}, {}, []
    both_in = threading.Barrier(2)

    def run(name, **kw):
        try:
            with trace.recording() as rec:
                both_in.wait(timeout=60)
                pairs[name], _ = D.minhash_against_index(
                    new, idx, threshold=0.5, **kw)
                both_in.wait(timeout=600)
            records[name] = rec
        except Exception as e:  # surfaced below, not lost in the thread
            both_in.abort()
            errors.append(e)

    threads = [threading.Thread(target=run, args=("a",)),
               threading.Thread(target=run, args=("b",), kwargs={"anchor_degree": 0})]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    (rec_a,), (rec_b,) = records["a"], records["b"]
    assert rec_a["op"] == rec_b["op"] == "minhash_against_index"
    assert rec_a["mode"] == "guarded"
    assert rec_a["anchor_degree"] == D.AUTO_ANCHOR_DEGREE
    assert rec_a["estimated_pairs"] > 10
    assert rec_b["mode"] == "exact" and rec_b["anchor_degree"] is None
    # raising auto_bound on the against-index legs (ADVICE r7: the
    # family asymmetry) keeps exact semantics under the same corpus
    with trace.recording() as rec:
        pairs_c, _ = D.minhash_against_index(new, idx, threshold=0.5,
                                             auto_bound=10**9)
        D.simhash_against_index(new, D.simhash_signatures(old, "doc_id", "text"),
                                auto_bound=10**9)
    rec_c = _decision(rec, "minhash_against_index")
    assert rec_c["mode"] == "guarded" and rec_c["anchor_degree"] is None
    assert _pair_set(pairs_c) == _pair_set(pairs["b"])
    rec_d = _decision(rec, "simhash_against_index")
    assert rec_d["mode"] == "guarded" and rec_d["anchor_degree"] is None
    assert rec_d["bound"] == float(10**9)


def test_dedup_spans_monster_doc_slice(spark):
    """VERDICT r7 item 5: the coverage mask partitions per doc, so one
    giant document is one task. With ``slice_tokens`` set, docs above
    the threshold route through the runfold range-slice two-pass
    combine — value-IDENTICAL to the single-window path on a synthetic
    giant doc (pinned row-for-row) and plan-asserted sliced
    (RangePartitioning + spark_partition_id present; absent from the
    default plan)."""
    from andl_spark.plans.explain import formatted_plan

    phrase = " ".join(f"rep{j}" for j in range(12))
    big_tokens = []
    for i in range(6000):
        big_tokens.append(f"tok{i % 977}_{(i * 7) % 41}")
        if i % 500 == 250:
            big_tokens.append(phrase)  # repeated spans inside the doc
    rows = [(1, " ".join(big_tokens)),
            (2, f"small doc with {phrase} inside"),
            (3, f"another small doc also containing {phrase} here"),
            (4, "tiny"), (5, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    W = 10
    plain = D.dedup_spans(docs, window=W)
    sliced = D.dedup_spans(docs, window=W, slice_tokens=1000)
    prow = sorted(map(tuple, plain.collect()))
    srow = sorted(map(tuple, sliced.collect()))
    assert srow == prow
    # the giant doc actually had repeats removed (non-trivial pin)
    by_id = {r[0]: r for r in prow}
    assert by_id[1][3] > 0
    # plan shape: the sliced path range-partitions and carries the
    # runfold pid marker; the big-doc window partitions on (pid, id),
    # never on the bare doc id (localCheckpoint in dedup_spans would
    # hide the lineage — build the un-checkpointed plan directly)
    base = D._span_base(docs, "doc_id", "text")
    spans = D._span_table(base, W, "xxhash64")
    first = spans.groupBy("key").agg(F.min(F.struct("id", "start")).alias("f"))
    marked = (
        spans.join(first, "key")
        .filter((F.col("id") != F.col("f.id"))
                | (F.col("start") != F.col("f.start")))
        .select("id", "start")
    )
    # the runfold two-pass pins its range partitioning behind a lazy
    # localCheckpoint (one boundary sample for both consumers — see
    # runfold.py), so the exchange itself is lineage-truncated out of
    # the downstream plan; the visible markers are the slice-local
    # windows partitioned by (__pid, id) instead of the bare doc id
    plan_sliced = formatted_plan(D._span_rebuild(base, marked, W, 1000))
    assert "__pid" in plan_sliced          # slice-local combine present
    assert "existingrdd" in plan_sliced.lower()  # the pinned partitioning
    plan_plain = formatted_plan(D._span_rebuild(base, marked, W, None))
    assert "__pid" not in plan_plain
    # incremental twin honors the same knob (plumbed through)
    idx = D.empty_span_index(spark)
    c_plain, _ = D.dedup_spans_against_index(docs, idx, window=W)
    c_sliced, _ = D.dedup_spans_against_index(docs, idx, window=W,
                                              slice_tokens=1000)
    assert (sorted(map(tuple, c_sliced.collect()))
            == sorted(map(tuple, c_plain.collect())))


def test_ann_recall_nonclustered_corpus(spark):
    """VERDICT r7 item 3: every prior recall pin rode 100-way duplicate
    clusters — the easiest case for any quantizer. This pin is the
    smooth regime: a Gaussian MIXTURE corpus (overlapping components,
    10% uniform background, no dup clusters), analytic numpy truth.
    recall@5 ≥ 0.9 for all three ANN paths at their measured
    non-clustered operating points (SCALE_r08.md has the 50k sweep):

    - flat IVF, TRAINED quantizer (spherical MLlib k-means via
      trained_centroids — wired as quantizer='trained'), nprobe = 40%
      of nlist: the recall dial on smooth corpora is the probed
      fraction (AUTO_PROBE_FRAC=8% is calibrated for clustered data);
      trained holds a better curve than seed at every fraction.
    - hier IVF, trained two-level quantizer, p1 = 60% of n1.
    - LSH at bits=4, multiprobe=2 (r8 generalized past Hamming-2):
      sign-bit LSH's recall on smooth data ≈ probed fraction with
      diminishing returns — ≥0.9 costs probing ~2/3 of buckets, the
      measured closure that makes IVF-trained the smooth-corpus tool.

    Assignment plans stay shuffle-free (pure map over the corpus)."""
    import numpy as np

    from andl_spark.plans.explain import formatted_plan

    N, DIM, NQ, K = 12_000, 32, 40, 5
    rng = np.random.default_rng(11)
    n_comp = 32
    centers = rng.normal(size=(n_comp, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    comp = rng.integers(0, n_comp, size=N)
    X = centers[comp] + rng.normal(scale=0.35, size=(N, DIM))
    uni = rng.random(N) < 0.10
    X[uni] = rng.normal(size=(uni.sum(), DIM))
    X = X.astype(np.float32)
    qidx = rng.choice(N, NQ, replace=False)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    truth = {}
    for qi in qidx:
        cos = Xn @ Xn[qi]
        cos[qi] = -2
        truth[int(qi)] = set(
            int(t) for t in np.argsort(-cos, kind="stable")[:K])

    corpus = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(N)],
        "vec_id long, embedding array<float>").persist()
    corpus.count()
    queries = corpus.filter(
        F.col("vec_id").isin([int(q) for q in qidx]))

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["cand_id"])
        return float(np.mean([len(got.get(q, set()) & truth[q]) / K
                              for q in truth]))

    nlist = SS.auto_nlist(N)
    flat_trained = SS.topk_ivf_det(
        corpus, queries, k=K, nlist=None, nprobe=round(0.4 * nlist),
        corpus_count=N, quantizer="trained")
    r_flat = recall(flat_trained)
    assert r_flat >= 0.9, r_flat
    # trained holds ≥ the seed quantizer's recall at the same fraction
    r_seed = recall(SS.topk_ivf_det(
        corpus, queries, k=K, nlist=None, nprobe=round(0.4 * nlist),
        corpus_count=N, quantizer="seed"))
    assert r_flat >= r_seed - 0.025, (r_flat, r_seed)

    h1, h2, _ = SS.hier_params(N)
    r_hier = recall(SS.topk_ivf_det(
        corpus, queries, k=K, n1=h1, n2=h2, quantizer="trained",
        nprobe=10))
    assert r_hier >= 0.9, r_hier

    r_lsh = recall(SS.topk_lsh(
        corpus, queries, k=K, bits=4, dim=DIM, multiprobe=2))
    assert r_lsh >= 0.9, r_lsh

    # trained quantizers are deterministic + cached (same contract as
    # the seed rule): a second resolution returns the cached object
    c1 = SS.trained_centroids(corpus, nlist=nlist)
    c2 = SS.trained_centroids(corpus, nlist=nlist)
    assert c1 is c2 and len(c1) == nlist
    h1 = SS.hier_trained_centroids(corpus, n1=16, n2=16)
    assert h1 is SS.hier_trained_centroids(corpus, n1=16, n2=16)
    # _np_lloyd is seed-deterministic
    sm = Xn[:500].astype(np.float64)
    assert np.array_equal(SS._np_lloyd(sm, 8, 3), SS._np_lloyd(sm, 8, 3))

    # assignment stays a shuffle-free map: the corpus-side projection
    # (cell assignment) plans with no Exchange and no join
    c_assign = corpus.select(
        "vec_id", SS.hier_assign_np(*h1)(F.col("embedding")).alias("lid"))
    plan = formatted_plan(c_assign)
    assert "Exchange" not in plan and "Join" not in plan
    corpus.unpersist()


def test_hier_trained_centroids_refuses_zero_vectors(spark):
    """A corpus whose vectors all have zero norm leaves the spherical
    training sample empty: hier_trained_centroids raises the same kind
    of ValueError as on an empty corpus, not a ZeroDivisionError."""
    corpus = spark.createDataFrame(
        [(i, [0.0] * 4) for i in range(6)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty sample"):
        SS.hier_trained_centroids(corpus, n1=2, n2=2)


def test_calibrate_probe(spark):
    """r8: probe AUTO-CALIBRATION — the SCALE_r08 §1 closure ("the 8%
    auto fraction is a clustered-corpus calibration; the probed
    fraction is the recall dial on smooth data") turned into a
    measured feature. calibrate_probe runs ONE exhaustive distributed
    pass for a deterministic smallest-id holdout and binary-searches
    the smallest probe depth whose exact recall@k reaches the target;
    ``calibrate=<target>`` on topk_ivf_det (flat and two-level) wires it
    into serving.

    Pins: (a) on a SMOOTH mixture corpus the calibrated depth meets
    the target on the holdout and generalizes to fresh queries;
    (b) the recall curve is monotone and exact at full probe
    (recall(nlist) == 1.0 — truth derives from the same pass, so the
    search always terminates); (c) on a CLUSTERED corpus calibration
    confirms the cheap operating point (small fraction, recall 1.0) —
    no wasted probe work where the 8% rule was right all along;
    (d) results are cached per corpus identity like the quantizers;
    (e) an explicit nprobe/p1 alongside a calibrate target raises."""
    import numpy as np

    N, DIM, K = 5_000, 32, 5
    rng = np.random.default_rng(7)
    n_comp = 24
    centers = rng.normal(size=(n_comp, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    comp = rng.integers(0, n_comp, size=N)
    X = (centers[comp] + rng.normal(scale=0.35, size=(N, DIM))).astype(
        np.float32)
    corpus = spark.createDataFrame(
        [(int(i), [float(x) for x in X[i]]) for i in range(N)],
        "vec_id long, embedding array<float>").persist()
    corpus.count()

    res = SS.calibrate_probe(corpus, k=K, target_recall=0.9,
                             corpus_count=N, quantizer="trained")
    assert res["recall"] >= 0.9 and res["nprobe"] <= res["nlist"]
    # (d) cached per corpus identity (seed_centroids contract)
    assert res is SS.calibrate_probe(corpus, k=K, target_recall=0.9,
                                     corpus_count=N, quantizer="trained")
    # (b) monotone curve, exact at full probe
    fracs = sorted(res["curve"])
    vals = [res["curve"][f] for f in fracs]
    assert vals == sorted(vals) and res["curve"][1.0] == 1.0
    # the smooth corpus needs MORE than the clustered 8% default
    assert res["frac"] > SS.AUTO_PROBE_FRAC

    # (a) serving with calibrate= meets the target on fresh queries
    # (holdout = smallest ids; fresh = a disjoint random sample)
    qidx = [int(q) for q in rng.choice(np.arange(200, N), 30,
                                       replace=False)]
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    truth = {}
    for qi in qidx:
        cos = Xn @ Xn[qi]
        cos[qi] = -2
        truth[qi] = set(int(t) for t in np.argsort(-cos, kind="stable")[:K])
    queries = corpus.filter(F.col("vec_id").isin(qidx))

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r["query_id"], set()).add(r["cand_id"])
        return float(np.mean([len(got.get(q, set()) & truth[q]) / K
                              for q in truth]))

    r_flat = recall(SS.topk_ivf_det(
        corpus, queries, k=K, nlist=None, nprobe=None, corpus_count=N,
        quantizer="trained", calibrate=0.9))
    assert r_flat >= 0.8, r_flat  # holdout-chosen knob generalizes

    resh = SS.calibrate_probe(
        corpus, k=K, target_recall=0.9,
        quantizer=SS.CoarseQuantizer.resolve(corpus, n1=8, n2=8,
                                             quantizer="trained"))
    assert resh["recall"] >= 0.9 and resh["p1"] <= resh["n1"]
    r_hier = recall(SS.topk_ivf_det(
        corpus, queries, k=K, n1=8, n2=8, nprobe=None, quantizer="trained",
        calibrate=0.9))
    assert r_hier >= 0.8, r_hier

    # (c) clustered corpus: calibration confirms the cheap point
    # (cluster ids interleaved so the smallest-id seed quantizer sees
    # every cluster, matching how real crawl ids mix duplicates)
    reps = rng.normal(size=(40, DIM)).astype(np.float32)
    XC = (reps[np.arange(2_000) % 40]
          + rng.normal(scale=0.01, size=(2_000, DIM)).astype(np.float32))
    clustered = spark.createDataFrame(
        [(int(i), [float(x) for x in XC[i]]) for i in range(2_000)],
        "vec_id long, embedding array<float>").persist()
    clustered.count()
    resc = SS.calibrate_probe(clustered, k=K, target_recall=0.9,
                              corpus_count=2_000)
    assert resc["recall"] >= 0.9 and resc["frac"] <= 0.25, resc
    clustered.unpersist()

    # LSH leg: the dial is the Hamming radius; the record reports the
    # probed-bucket fraction that radius costs (the §1 closure as a
    # per-corpus measurement, not an assertion)
    resl = SS.calibrate_probe_lsh(corpus, k=K, target_recall=0.9,
                                  bits=5, dim=DIM)
    assert resl["recall"] >= 0.9 and 0 <= resl["multiprobe"] <= 5
    assert 0 < resl["probed_frac"] <= 1.0
    r_lsh = recall(SS.topk_lsh(corpus, queries, k=K, bits=5, dim=DIM,
                               calibrate=0.9))
    assert r_lsh >= 0.8, r_lsh

    # (e) two dials for the same knob is an error, not a precedence
    with pytest.raises(ValueError, match="two dials"):
        SS.topk_ivf_det(corpus, queries, nlist=16, nprobe=4, calibrate=0.9)
    with pytest.raises(ValueError, match="two dials"):
        SS.topk_ivf_det(corpus, queries, n1=8, n2=8, nprobe=2,
                        calibrate=0.9)
    with pytest.raises(ValueError, match="two dials"):
        SS.topk_lsh(corpus, queries, multiprobe=2, calibrate=0.9)
    with pytest.raises(ValueError, match="target_recall"):
        SS.calibrate_probe(corpus, target_recall=1.5, corpus_count=N)
    corpus.unpersist()


def test_lsh_multiprobe3_matches_sql_oracle(spark, duck):
    """r8: multiprobe was generalized past its silent Hamming-2 cap on
    BOTH sides — the Spark plan and the DuckDB mirror must produce the
    identical candidate/top-k set at multiprobe=3 (the probe set is
    every bucket at Hamming ≤ 3 of 2^bits)."""
    from andl_spark.session import load_tables

    emb = load_tables(spark, SF_SMOKE, register_views=False)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    got = SS.topk_lsh(emb, queries, k=5, bits=5, dim=64, multiprobe=3)
    grows = sorted(
        (r["query_id"], r["cand_id"], round(r["cosine"] + 1e-9, 4), r["rank"])
        for r in got.collect())
    orows = sorted(map(tuple, duck.execute(SS.topk_lsh_sql(
        query_pred="vec_id < 10", k=5, bits=5, dim=64, multiprobe=3
    )).fetchall()))
    assert len(grows) == len(orows) > 0
    assert grows == orows


def test_dedup_spans_string_ids_match_encoded_path(spark):
    """dedup_spans' first-occurrence selection must be id-type
    independent: the same corpus under zero-padded string ids (string
    order == numeric order) must produce the same clean texts as under
    long ids. (Originally pinned the r11 decimal-encoded integral-id
    fast path against the struct-min fallback; the encoding was
    iso-measured slower and reverted — see _span_first — and this
    stays as the key-type-independence pin.)"""
    rows = [(i, " ".join(f"w{j % 7}" for j in range(i, i + 30)))
            for i in range(40)]
    # plant exact repeats so spans actually dedup across docs
    rows += [(100 + i, rows[i][1]) for i in range(5)]
    d_long = spark.createDataFrame(rows, "doc_id long, text string")
    d_str = d_long.select(
        F.format_string("%06d", F.col("doc_id")).alias("doc_id"), "text")
    got_long = {r["id"]: (r["clean_text"], r["n_removed"])
                for r in D.dedup_spans(d_long, "doc_id", "text",
                                       window=10).collect()}
    got_str = {int(r["id"]): (r["clean_text"], r["n_removed"])
               for r in D.dedup_spans(d_str, "doc_id", "text",
                                      window=10).collect()}
    assert got_long == got_str
    assert any(v[1] > 0 for v in got_long.values())  # dedup happened


def test_dedup_spans_index_decode_extreme_ids(spark):
    """new_index rows must carry the exact (id, start) winner at both
    ends of the long range — no rounding or overflow anywhere in the
    first-occurrence projection (guards any future re-encoding of the
    aggregate; the r11 decimal encoding this originally pinned was
    reverted as measured-slower)."""
    txt = " ".join(f"w{j}" for j in range(12))
    ids = [-(2 ** 63), -5, 0, 7, 2 ** 63 - 1]
    docs = spark.createDataFrame([(i, txt) for i in ids],
                                 "doc_id long, text string")
    clean, new_idx = D.dedup_spans_against_index(
        docs, D.empty_span_index(spark), window=10)
    rows = sorted((r["id"], r["start"]) for r in new_idx.collect())
    # all docs identical: every span key's first occurrence is MIN(id)
    assert rows == [(-(2 ** 63), 0), (-(2 ** 63), 1), (-(2 ** 63), 2)]
    got = {r["id"]: r["n_removed"] for r in clean.collect()}
    assert got[-(2 ** 63)] == 0 and all(got[i] == 12 for i in ids[1:])


def test_parsed_sql_hof_forms_bitwise_equal_column_ops(emb):
    """r11: the hot-path expression builders (_hof_dot_sql /
    _hof_norm_sql / hyperplane_bucket / nearest_lists_cosine) build as
    ONE parsed SQL string instead of Column-op/lambda chains (~80 py4j
    round-trips each — plan construction was over half of q_ann_lsh's
    wall time). This pins the parsed forms BITWISE equal to the
    Column-op spellings they replaced, reconstructed inline here."""
    import struct as _struct

    # --- dot / norm: parsed vs Column-op HOFs --------------------------
    old_norm = SS.norm_expr(F.col("embedding"))
    old_dot = SS.dot_expr(F.col("embedding"), F.col("embedding"))
    rows = emb.select(
        old_norm.alias("onrm"), F.expr(SS._hof_norm_sql("embedding")).alias("nnrm"),
        old_dot.alias("odot"), F.expr(SS._hof_dot_sql("embedding", "embedding")).alias("ndot"),
    ).collect()
    assert rows
    for r in rows:
        assert _struct.pack("d", r.onrm) == _struct.pack("d", r.nnrm)
        assert _struct.pack("d", r.odot) == _struct.pack("d", r.ndot)

    # --- hyperplane bucket: parsed vs per-bit Column loop --------------
    dim, bits, seed = 64, 8, 42
    planes = SS._hyperplanes(dim, bits, seed)
    old_bucket = F.lit(0)
    for i in range(bits):
        plane = F.expr(SS._lit_vec_sql(planes[i]))
        d = F.aggregate(
            F.zip_with(F.col("embedding"), plane,
                       lambda x, p: x.cast("double") * p),
            F.lit(0.0), lambda acc, x: acc + x)
        old_bucket = old_bucket + F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0))
    got = emb.select(
        old_bucket.alias("ob"),
        SS.hyperplane_bucket("embedding", dim, bits, seed).alias("nb"),
    ).collect()
    assert all(r.ob == r.nb for r in got)

    # --- nearest_lists_cosine: parsed vs Column-op build ----------------
    cents = SS.seed_centroids(emb, nlist=16)
    cents_arr = F.expr("array(" + ", ".join(SS._lit_vec_sql(c) for c in cents) + ")")
    cnorms = F.array(*[F.lit(SS._py_norm(c)) for c in cents])
    vn = SS.norm_expr(F.col("embedding"))

    def _negc(i):
        denom = vn * F.element_at(cnorms, i)
        cos = F.when(
            denom != 0,
            F.round(SS.dot_expr(F.col("embedding"), F.element_at(cents_arr, i))
                    / denom + F.lit(1e-9), 4),
        ).otherwise(F.lit(float("nan")))
        return -cos

    scored = F.transform(
        F.sequence(F.lit(1), F.lit(len(cents))),
        lambda i: F.struct(_negc(i).alias("negc"), (i - 1).alias("list_id")))
    old_lists = F.transform(F.slice(F.array_sort(scored), 1, 3),
                            lambda s: s["list_id"])
    got = emb.select(
        old_lists.alias("ol"),
        SS.nearest_lists_cosine("embedding", cents, 3).alias("nl"),
    ).collect()
    assert all(list(r.ol) == list(r.nl) for r in got)

    # Column inputs now raise (the builders take NAMES):
    with pytest.raises(TypeError):
        SS.hyperplane_bucket(F.col("embedding"), dim, bits, seed)
    with pytest.raises(TypeError):
        SS.nearest_lists_cosine(F.col("embedding"), cents, 3)
