"""LLM-pipeline operators: dedup, similarity, text analysis, multimodal
plumbing."""

import math

import pytest
from pyspark.sql import functions as F

from blueflood_spark.operators import dedup as D
from blueflood_spark.operators import multimodal as MM
from blueflood_spark.operators import similarity as SIM
from blueflood_spark.operators import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy cat", "en"),  # near-dup of 0
        (2, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (3, "der hund ist nicht auf der couch und die katze", "de"),
        (4, "le chat est dans la maison pour le moment et dort", "fr"),
        (5, "completely different words about spark query engines here", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(spark, docs):
    out = D.exact_dedup(docs).collect()
    groups = {r["canonical_doc_id"]: r["dup_count"] for r in out}
    assert groups[0] == 2  # docs 0 and 2 identical
    assert len(out) == 5


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in D.minhash_lsh_pairs(docs).collect()}
    assert (0, 2) in pairs  # exact dups always collide
    assert (0, 1) in pairs or (1, 2) in pairs  # near-dups share most shingles
    assert (0, 5) not in pairs and (3, 4) not in pairs  # unrelated docs don't


def test_minhash_signature_width(spark, docs):
    sig = D.minhash_signatures(docs)
    assert len(sig.columns) == 1 + D.NUM_PERM
    rows = {r["doc_id"]: r for r in sig.collect()}
    # identical docs → identical signatures
    assert all(rows[0][f"mh_{i}"] == rows[2][f"mh_{i}"] for i in range(D.NUM_PERM))


def test_simhash_properties(spark, docs):
    fp = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert fp[0] == fp[2]  # identical text → identical fingerprint
    ham_near = bin(fp[0] ^ fp[1]).count("1")
    ham_far = bin(fp[0] ^ fp[5]).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated


def test_simhash_near_pairs(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             D.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert pairs[(0, 2)] == 0


@pytest.mark.parametrize("max_hamming,bits", [(3, 32), (8, 32), (8, 60)])
def test_simhash_near_pairs_complete(spark, max_hamming, bits):
    """Pigeonhole recall vs exhaustive O(n²) hamming join — every true
    pair within the budget must be produced (round-1 bug: the fixed
    4-byte scheme lost pairs for max_hamming > 3)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
           D.simhash_near_pairs(docs, max_hamming=max_hamming, bits=bits).collect()}
    fps = D.simhash(docs, bits=bits).collect()
    want = {}
    for i, a in enumerate(fps):
        for b in fps[i + 1:]:
            lo, hi = sorted((a["doc_id"], b["doc_id"]))
            h = bin(a["simhash"] ^ b["simhash"]).count("1")
            if h <= max_hamming:
                want[(lo, hi)] = h
    assert got == want


def test_simhash_segments_cover_all_bits():
    for bits, k in [(32, 3), (32, 8), (60, 8), (60, 19)]:
        segs = D._simhash_segments(bits, k)
        assert len(segs) == k + 1
        flat = sorted(b for s, w in segs for b in range(s, s + w))
        assert flat == list(range(bits))  # disjoint, complete


def test_ngram_jaccard(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             D.ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    assert pairs[(0, 2)] == 1.0
    assert 0.3 < pairs[(0, 1)] < 1.0


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    out = SIM.cosine_topk(q, c, k=2).collect()
    assert [r["c_id"] for r in out] == [1, 2]
    assert math.isclose(out[0]["cosine"], 0.9 / math.sqrt(0.82), rel_tol=1e-6)


def test_lsh_topk_reranks_exact_cosine(spark):
    # LSH candidates then exact re-rank: scores must equal brute cosine
    import random

    random.seed(7)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lsh = SIM.lsh_bucketed_topk(emb, F.col("vec_id") < 2, k=5, planes_n=8, bands=4)
    out = lsh.collect()
    assert len(out) > 0
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    brute = {(r["q_id"], r["c_id"]): r["cosine"] for r in SIM.cosine_topk(q, c, k=40).collect()}
    for r in out:
        assert math.isclose(r["cosine"], brute[(r["q_id"], r["c_id"])], rel_tol=1e-9)


def test_language_id(spark, docs):
    out = {r["doc_id"]: r["pred_lang"] for r in TX.language_id(docs).collect()}
    assert out[0] == "en"
    assert out[3] == "de"
    assert out[4] == "fr"
    assert out[5] == "und"  # no stopwords from any list


def test_token_counts(spark, docs):
    out = {r["doc_id"]: r for r in TX.token_counts(docs).collect()}
    assert out[0]["ws_tokens"] == 9
    assert out[0]["bpe_tokens"] >= 9


def test_quality_score(spark, docs):
    out = {r["doc_id"]: r for r in TX.quality_score(docs).collect()}
    assert out[0]["stopword_ratio"] > 0.2  # 'the' twice + 'over' not counted
    assert not out[5]["length_ok"]  # only 8 tokens < 10


def test_multimodal_features(spark):
    media = MM.synthetic_media(spark, 12)
    feats = MM.extract_features(media).collect()
    assert len(feats) == 12
    by_id = {r["media_id"]: r for r in feats}
    # media_id 0 is an image → real P3 payload; 1 is audio → real WAV;
    # 2 is video → real C420 Y4M
    assert by_id[0]["n_bytes"] == len(MM.synthetic_ppm(0))
    assert by_id[1]["n_bytes"] == len(MM.synthetic_wav(1))
    assert by_id[2]["n_bytes"] == len(MM.synthetic_y4m(2))
    assert len(by_id[0]["feature"]) == 8
    assert len(by_id[1]["feature"]) == 6
    assert len(by_id[2]["feature"]) == 6
    # video features come from the actual luma plane
    vid = MM.decode_y4m(MM.synthetic_y4m(2))
    assert by_id[2]["feature"][:4] == [
        float(vid["width"]), float(vid["height"]), float(vid["n_frames"]), 25.0
    ]
    assert by_id[2]["feature"][4] == pytest.approx(vid["y_mean"], rel=1e-6)
    # deterministic: same payload → same feature
    feats2 = {r["media_id"]: r["feature"] for r in MM.extract_features(media).collect()}
    assert feats2[3] == by_id[3]["feature"]


def test_multimodal_strict_raises(spark):
    # synthetic_media is now fully decodable (PPM/WAV/Y4M) — strict mode
    # must still refuse payloads NO decoder accepts (e.g. compressed)
    media = spark.createDataFrame(
        [(0, "video", bytearray(b"\x00\x00\x00\x18ftypmp42 not decodable"),
          "video/mp4", None, None, 1000)],
        MM.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception):  # NotImplementedError surfaces as Py4J error
        MM.extract_features(media, strict=True).collect()


def test_multimodal_strict_succeeds_on_decodable_trio(spark):
    media = MM.synthetic_media(spark, 9)
    assert MM.extract_features(media, strict=True).count() == 9


def test_resize_and_frame_plans(spark):
    media = MM.synthetic_media(spark, 12)
    resize = {r["media_id"]: r for r in MM.resize_plan(media, 64, 64).collect()}
    img_ids = [i for i in range(12) if i % 3 == 0]
    big = resize[max(img_ids)]
    assert big["target_w"] <= 64 and big["target_h"] <= 64
    frames = MM.frame_sample_plan(media, fps=2.0).collect()
    assert len(frames) > 0
    assert all(r["frame_ts_ms"] % 500 == 0 for r in frames)


def test_ivf_topk_scores_match_brute(spark):
    import random

    random.seed(11)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = SIM.ivf_topk(emb, F.col("vec_id").isin([20, 21]), k=5, n_lists=4, n_probe=2).collect()
    assert len(out) > 0
    q = emb.filter(F.col("vec_id").isin([20, 21])).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb"))
    brute = {(r["q_id"], r["c_id"]): r["cosine"] for r in SIM.cosine_topk(q, c, k=60).collect()}
    for r in out:
        # IVF may miss neighbors outside probed lists (recall<1), but every
        # returned score must be the exact cosine
        assert math.isclose(r["cosine"], brute[(r["q_id"], r["c_id"])], rel_tol=1e-9)


def test_embedding_near_dups_exact_multiblock(spark):
    """Tiled cogroup kernel must equal brute-force all-pairs — exercised
    with n_blocks > 1 so the off-diagonal tile path actually runs (the
    operator no longer collects the corpus to the driver)."""
    import itertools
    import random

    random.seed(7)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in
           SIM.embedding_near_dups(emb, threshold=0.5, n_blocks=4).collect()}
    want = {}
    for (ia, va), (ib, vb) in itertools.combinations(rows, 2):
        dot = sum(x * y for x, y in zip(va, vb))
        na = math.sqrt(sum(x * x for x in va))
        nb = math.sqrt(sum(x * x for x in vb))
        cos = dot / (na * nb)
        if cos >= 0.5:
            want[(min(ia, ib), max(ia, ib))] = cos
    assert set(got) == set(want)
    for p in got:
        # float32 storage of the embedding column dominates the tolerance
        assert math.isclose(got[p], want[p], rel_tol=1e-6)


def test_embedding_near_dups_degrades_without_default_parallelism(spark, monkeypatch):
    """The ≥16k-row block-count floor reads defaultParallelism; when that
    read raises (Connect mode / API drift) the floor is skipped instead
    of failing the operator."""
    from pyspark import SparkContext

    # while the parallelism is readable the floor applies: B=8 → 36 tiles on 32 cores
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda self: 32))
    assert SIM._near_dup_block_count(spark, 20_000, 200_000) == 8
    monkeypatch.undo()

    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def _raise(self):
        raise RuntimeError("defaultParallelism unavailable")

    monkeypatch.setattr(SparkContext, "defaultParallelism", property(_raise))
    assert SIM._near_dup_block_count(spark, 20_000, 200_000) == 1
    assert SIM._near_dup_block_count(spark, 500_000, 200_000) == 3
    # end to end: a corpus counted past the floor threshold still plans and runs
    monkeypatch.setattr(emb, "count", lambda: 20_000)
    got = [(r["id_a"], r["id_b"]) for r in SIM.embedding_near_dups(emb, threshold=0.95).collect()]
    assert got == [(0, 1)]


def test_connected_components_clusters(spark):
    # chain 1-2-3, pair 10-11, singleton 99 → components {1,2,3}, {10,11}, {99}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long")
    out = {r["doc_id"]: r["cluster_id"] for r in
           D.connected_components(pairs, ids).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_repetition_stats_flags(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a a a a a a a a a"),            # one word repeated: both signals max
            (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), # all distinct: no repetition
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.repetition_stats(docs).collect()}
    assert out[1]["top_word_frac"] == 1.0 and out[1]["dup_2gram_frac"] == 1.0 - 1 / 9
    assert out[1]["flagged"] is True
    assert out[2]["top_word_frac"] == 0.1 and out[2]["dup_2gram_frac"] == 0.0
    assert out[2]["flagged"] is False


def test_tfidf_top_terms_ranking(spark):
    docs = spark.createDataFrame(
        [
            (1, "rare rare common"),
            (2, "common common other"),
            (3, "common other other"),
        ],
        "doc_id long, text string",
    )
    out = TX.tfidf_top_terms(docs, k=1).collect()
    top = {r["doc_id"]: r for r in out}
    # doc 1: 'rare' tf=2 df=1 → tf/df=2 beats 'common' (tf=1 df=3)
    assert top[1]["term"] == "rare" and top[1]["tf"] == 2 and top[1]["df"] == 1
    # tfidf = tf * ln(n_docs/df) = 2*ln(3)
    assert abs(top[1]["tfidf"] - 2 * math.log(3.0)) < 1e-12
    # doc 2: 'common' tf=2 df=3 → 2/3 beats 'other' tf=1 df=2 (1/2)
    assert top[2]["term"] == "common"
    # doc 3: 'other' tf=2 df=2 → 1.0 beats 'common' 1/3
    assert top[3]["term"] == "other"


def test_decontaminate_overlap(spark):
    # doc 0 is the eval set; doc 1 repeats its text (fully contaminated),
    # doc 2 shares nothing
    docs = spark.createDataFrame(
        [
            (0, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
            (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
            (2, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           D.decontaminate(docs, F.col("doc_id") == 0, k=8).collect()}
    assert set(out) == {1, 2}
    assert out[1]["contamination_frac"] == 1.0 and out[1]["flagged"] is True
    assert out[2]["n_contaminated"] == 0 and out[2]["flagged"] is False


def test_pii_redact(spark):
    docs = spark.createDataFrame(
        [(1, "mail bob@example.com and host 10.0.0.1 end"), (2, "clean")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.pii_redact(docs).collect()}
    assert out[1]["clean_text"] == "mail <EMAIL> and host <IP> end"
    assert out[1]["n_emails"] == 1 and out[1]["n_ips"] == 1
    assert out[2]["clean_text"] == "clean" and out[2]["n_emails"] == 0


def test_source_stats(spark):
    rows = [
        (0, "a b", "en", "s1", 3),
        (1, "c d", "en", "s1", 3),
        (2, "e f", "de", "s1", 5),
        (3, "g h", "fr", "s2", 7),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {r["source"]: r for r in TX.source_stats(docs).collect()}
    assert out["s1"]["n_docs"] == 3
    assert out["s1"]["total_chars"] == 11
    assert out["s1"]["n_langs"] == 2
    assert out["s1"]["top_lang"] == "en"  # 2 en vs 1 de
    assert out["s2"]["top_lang"] == "fr"


def test_source_stats_top_lang_tiebreak(spark):
    rows = [(0, "x", "en", "s", 1), (1, "y", "de", "s", 1)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = TX.source_stats(docs).collect()
    assert out[0]["top_lang"] == "de"  # equal counts → lexicographic


def test_ngram_stats_counts(spark, docs):
    out = TX.ngram_stats(docs, n=3, k=5).collect()
    top = out[0]
    # "the quick brown" occurs in docs 0, 1, 2 (once each)
    assert top["ngram"] in {"the quick brown", "quick brown fox", "brown fox jumps",
                            "fox jumps over", "jumps over the", "over the lazy"}
    assert top["occurrences"] == 3 and top["doc_freq"] == 3
    # ordering: occurrences desc then ngram asc
    occs = [r["occurrences"] for r in out]
    assert occs == sorted(occs, reverse=True)


def test_ngram_stats_short_docs_dropped(spark):
    docs = spark.createDataFrame([(0, "one two"), (1, "a b c")], "doc_id long, text string")
    out = TX.ngram_stats(docs, n=3, k=10).collect()
    assert len(out) == 1 and out[0]["ngram"] == "a b c"


def test_chunk_dedup(spark):
    shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = [
        (0, shared + " " + "u1 u2 u3 u4 u5 u6 u7 u8"),
        (1, shared + " " + "v1 v2 v3 v4 v5 v6 v7 v8"),
        (2, "short doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = TX.chunk_dedup(docs, width=8).collect()
    assert len(out) == 1
    assert out[0]["chunk"] == shared
    assert out[0]["n_docs"] == 2 and out[0]["n_occurrences"] == 2


def test_containment_subset_doc(spark):
    # doc 1 is a verbatim subset of doc 0 → containment 1.0, jaccard low
    long = "a b c d e f g h i j k l m n o p q r s t"
    sub = "a b c d e f"
    docs = spark.createDataFrame([(0, long), (1, sub), (2, "x y z w v u")],
                                 "doc_id long, text string")
    rows = {(r["doc_a"], r["doc_b"]): r["containment"]
            for r in D.ngram_containment_pairs(docs, threshold=0.5).collect()}
    assert rows == {(0, 1): 1.0}
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in D.ngram_jaccard_pairs(docs, threshold=0.0).collect()}
    assert jac[(0, 1)] < 0.5  # symmetric jaccard under-scores the subset


def test_embedding_dup_cluster_labels(spark):
    # three vectors: 0 and 1 colinear (cosine 1), 2 orthogonal
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [2.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    pairs = SIM.embedding_near_dups(emb, threshold=0.95).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    ids = emb.select(F.col("vec_id").alias("doc_id"))
    out = {r["doc_id"]: r["cluster_id"] for r in D.connected_components(pairs, ids).collect()}
    assert out == {0: 0, 1: 0, 2: 2}


def test_quality_gate_reasons(spark):
    rows = [
        (0, "the quick brown fox and the lazy dog went down to the market in town for a full day of trading and then came back home quite pleased with it all done very well"),  # keep
        (1, "short doc"),                                             # too_short
        (2, " ".join(["spam"] * 40)),                                 # repetitive_word
        (3, " ".join(["k1 v1"] * 20)),                                # repetitive (word or 2gram)
        (4, " ".join(f"w{i}" for i in range(40))),                    # no stopwords
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.quality_gate(docs).collect()}
    assert out[0]["keep"] and out[0]["drop_reason"] == "keep"
    assert out[1]["drop_reason"] == "too_short"
    assert out[2]["drop_reason"] == "repetitive_word"
    assert out[3]["drop_reason"] in ("repetitive_word", "repetitive_2gram")
    assert out[4]["drop_reason"] == "no_stopwords"
    assert not out[4]["keep"]


def test_pack_sequences_boundaries(spark):
    # four docs, word counts 3/5/4/2 -> BPE-ish tokens equal word counts here
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "d e f g h"), (2, "i j k l"), (3, "m n")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in TX.pack_sequences(docs, budget=4, shard_size=2).collect()}
    assert [out[i]["start_token"] for i in range(4)] == [0, 3, 8, 12]
    # doc 1 spans tokens 3..7 -> windows 0 and 1
    assert (out[1]["pack_first"], out[1]["pack_last"], out[1]["n_packs"]) == (0, 1, 2)
    # doc 2 spans tokens 8..11 -> exactly window 2
    assert (out[2]["pack_first"], out[2]["pack_last"], out[2]["n_packs"]) == (2, 2, 1)


def test_pack_sequences_shard_invariance(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(1 + (i * 13) % 29))) for i in range(60)],
        "doc_id long, text string",
    )
    a = sorted(TX.pack_sequences(docs, budget=16, shard_size=7).collect())
    b = sorted(TX.pack_sequences(docs, budget=16, shard_size=1000).collect())
    assert a == b


def test_topk_per_group(spark):
    docs = spark.createDataFrame(
        [(i, f"s{i % 2}", 100 - i) for i in range(10)],
        "doc_id long, source string, n_chars long",
    )
    out = TX.topk_per_group(docs, k=3).collect()
    assert len(out) == 6
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append((r["rank"], r["doc_id"]))
    # s0 docs have n_chars 100,98,96,94,92 -> top3 are doc 0,2,4
    assert sorted(by_src["s0"]) == [(1, 0), (2, 2), (3, 4)]
    assert sorted(by_src["s1"]) == [(1, 1), (2, 3), (3, 5)]


def test_stratified_sample_monotone_in_rate(spark):
    docs = spark.createDataFrame(
        [(i, "web") for i in range(200)], "doc_id long, source string"
    )
    low = {r["doc_id"] for r in TX.stratified_sample(docs, {"web": 20}).collect()}
    high = {r["doc_id"] for r in TX.stratified_sample(docs, {"web": 60}).collect()}
    assert low < high  # raising the rate only adds documents
    assert 0.10 < len(low) / 200 < 0.35


def test_kmeans_deterministic_clusters(spark):
    # two obvious blobs around (0,0) and (10,10); seeds = two lowest ids,
    # one in each blob, so 2 iterations settle exactly
    rows = [
        (0, [0.0, 0.1]), (1, [10.0, 10.1]), (2, [0.2, 0.0]), (3, [9.9, 10.0]),
        (4, [0.1, 0.2]), (5, [10.2, 9.8]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["cluster_id"] for r in SIM.kmeans_assign(emb, k=2, iterations=2).collect()}
    assert out == {0: 0, 2: 0, 4: 0, 1: 1, 3: 1, 5: 1}
    # rerun is bit-identical (no rand anywhere)
    again = {r["vec_id"]: r["cluster_id"] for r in SIM.kmeans_assign(emb, k=2, iterations=2).collect()}
    assert out == again


def test_lsh_ann_recall_floor(spark):
    """The LSH path must actually find neighbors: recall@10 vs the exact
    brute-force top-k stays above a floor on the sf0.001 embeddings."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    truth = E.queries()["llm_ann_cosine_topk"](spark, sf)
    appx = E.queries()["llm_ann_lsh_topk"](spark, sf)
    t = {(r["q_id"], r["c_id"]) for r in truth.select("q_id", "c_id").collect()}
    a = {(r["q_id"], r["c_id"]) for r in appx.select("q_id", "c_id").collect()}
    recall = len(t & a) / len(t)
    assert recall >= 0.55, f"LSH recall@10 degraded to {recall}"


def test_chunk_windows_overlap_and_tail(spark):
    from blueflood_spark.operators.text import chunk_windows

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b")],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["chunk_idx"]): r["n_tokens"]
           for r in chunk_windows(docs, width=4, stride=3).collect()}
    # doc 1: 10 tokens -> starts 0,3,6,9 -> lengths 4,4,4,1
    assert out == {(1, 0): 4, (1, 1): 4, (1, 2): 4, (1, 3): 1, (2, 0): 2}


def test_chunk_windows_rejects_bad_params(spark):
    import pytest

    from blueflood_spark.operators.text import chunk_windows

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_windows(docs, width=4, stride=5)


def test_chunk_windows_matches_python_reference(spark):
    """Randomized (seeded) differential test of the chunker against a
    plain-python reference across widths/strides."""
    import hashlib
    import random

    from blueflood_spark.operators.text import chunk_windows

    rng = random.Random(7)
    rows = [
        (i, " ".join(f"t{rng.randint(0, 30)}" for _ in range(rng.randint(1, 40))))
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for width, stride in [(8, 8), (8, 5), (3, 1)]:
        got = {
            (r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["chunk_md5"])
            for r in chunk_windows(docs, width=width, stride=stride).collect()
        }
        want = {}
        for doc_id, text in rows:
            w = text.split(" ")
            starts = range(0, len(w), stride)
            for ci, st in enumerate(starts):
                piece = w[st : st + width]
                want[(doc_id, ci)] = (
                    len(piece),
                    hashlib.md5(" ".join(piece).encode()).hexdigest(),
                )
        assert got == want, (width, stride)


def test_dsir_weights_tilt_toward_target(spark, docs):
    """Target = English docs: every English doc must score a positive log
    importance weight (its features dominate the target model) and every
    non-English doc a negative one — the langs' vocabularies are
    disjoint, so the tilt is unambiguous. n_feats = unigrams + bigrams =
    2·n_words − 1 for multi-word docs."""
    out = {r["doc_id"]: r for r in TX.dsir_weights(docs, F.col("lang") == "en").collect()}
    assert len(out) == 6
    for doc_id, r in out.items():
        lang = "en" if doc_id in (0, 1, 2, 5) else "other"
        assert r["selected"] == (lang == "en"), (doc_id, r)
        assert (r["log_weight"] > 0) == (lang == "en")
        # same-sign invariants: log-likelihood sums are sums of ln(p<1)
        assert r["target_ll"] < 0 and r["raw_ll"] < 0
        assert math.isclose(r["log_weight"], r["target_ll"] - r["raw_ll"], rel_tol=1e-9)
    n_words = len("the quick brown fox jumps over the lazy dog".split())
    assert out[0]["n_feats"] == 2 * n_words - 1


def test_dsir_single_word_doc_has_no_bigrams(spark):
    one = spark.createDataFrame([(0, "solo", "en"), (1, "a b", "en")],
                                "doc_id long, text string, lang string")
    out = {r["doc_id"]: r["n_feats"] for r in
           TX.dsir_weights(one, F.col("lang") == "en").collect()}
    assert out == {0: 1, 1: 3}  # no descending-sequence bigram blowup


def test_incremental_dedup_against_corpus(spark):
    """Corpus = ids 0-3; incoming = ids 100-103. 100 is an exact copy of
    corpus doc 1, 101 a near-dup of corpus doc 0, 102 unrelated, 103 a
    near-dup of ANOTHER INCOMING doc only (must NOT be flagged — the
    operator checks against the corpus, never intra-batch)."""
    # near-dup pair chosen so the deterministic minhash signatures
    # collide in all 4 bands (verified offline: J = 0.889) — LSH recall
    # at low Jaccard is probabilistic BY DESIGN, so the test pins a
    # high-J pair rather than asserting on a coin flip
    corpus_text = (
        "the quick brown fox jumps over the lazy dog every day"
        " in the green field near the old mill"
    )
    rows = [
        (0, corpus_text),
        (1, "metrics rollups aggregate time series data in five minute windows"),
        (2, "completely unrelated corpus document about database engines"),
        (3, "another filler corpus document with its own words entirely"),
        (100, "metrics rollups aggregate time series data in five minute windows"),
        (101, corpus_text.replace("old mill", "old barn")),
        (102, "fresh new content that matches nothing else in the index"),
        (103, "fresh new content that matches nothing else in the indexes"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.incremental_dedup(docs, F.col("doc_id") >= 100).collect()
    }
    assert set(out) == {100, 101, 102, 103}
    assert out[100]["exact_dup"] and out[100]["exact_match_id"] == 1
    assert out[101]["near_dup"] and out[101]["near_match_id"] == 0
    assert not out[101]["exact_dup"]
    assert not out[102]["exact_dup"] and not out[102]["near_dup"]
    # 103 near-dups incoming doc 102, but intra-batch pairs are out of scope
    assert not out[103]["exact_dup"] and not out[103]["near_dup"]
    assert out[101]["best_jaccard"] > 0.12


def test_cdc_chunks_edit_locality(spark):
    """The CDC property: appending text to a document must leave every
    earlier chunk's digest unchanged (fixed-width chunking would reflow
    them), and chunks must partition the token stream exactly."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lamda mu nu xi omicron pi rho sigma tau upsilon "
            "phi chi psi omega one two three four five six") * 3
    edited = base + " appended tail words here"
    docs = spark.createDataFrame(
        [(0, base), (1, edited)], "doc_id long, text string"
    )
    out = TX.cdc_chunks(docs).collect()
    by_doc = {0: [], 1: []}
    for r in out:
        by_doc[r["doc_id"]].append(r)
    for d, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        n_words = len((base if d == 0 else edited).split(" "))
        # chunks tile the doc: contiguous, no gaps/overlap
        pos = 1
        for c in chunks:
            assert c["start_pos"] == pos
            pos += c["n_tokens"]
        assert pos - 1 == n_words
    # every chunk of the base doc except possibly the last survives the edit
    base_digests = [c["chunk_md5"] for c in by_doc[0]]
    edit_digests = [c["chunk_md5"] for c in by_doc[1]]
    assert edit_digests[: len(base_digests) - 1] == base_digests[:-1]


def test_minhash_estimate_report_properties(spark, docs):
    """Estimator sanity on the fixture: exact dups estimate 1.0 and are
    always candidates; every estimate is a multiple of 1/num_perm; the
    abs error is consistent with its two inputs."""
    rows = D.minhash_estimate_report(docs, min_jaccard=0.05).collect()
    assert rows
    by_pair = {(r["doc_a"], r["doc_b"]): r for r in rows}
    exact_pair = by_pair[(0, 2)]  # identical docs
    assert exact_pair["exact_jaccard"] == 1.0
    assert exact_pair["n_matching"] == D.NUM_PERM
    assert exact_pair["est_jaccard"] == 1.0 and exact_pair["is_candidate"]
    for r in rows:
        assert 0 <= r["n_matching"] <= D.NUM_PERM
        assert r["est_jaccard"] == r["n_matching"] / D.NUM_PERM
        assert r["abs_err"] == abs(r["est_jaccard"] - r["exact_jaccard"])
        if r["is_candidate"]:
            # a candidate requires at least one fully-matching band
            assert r["n_matching"] >= D.NUM_PERM // D.BANDS


def test_dedup_keep_best_keeps_highest_quality(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", 44),
        (1, "the quick brown fox jumps over the lazy dog", 44),   # exact dup, same len
        (2, "the quick brown fox jumps over the lazy dog and more", 53),  # longer dup
        (5, "completely unrelated text with its own vocabulary here", 54),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    out = {r["doc_id"]: r for r in D.dedup_keep_best(docs).collect()}
    assert set(out) == {0, 1, 2, 5}
    cluster = {out[i]["cluster_id"] for i in (0, 1, 2)}
    assert cluster == {0}  # one component, min-id label
    # doc 2 has the most chars → kept; 0 and 1 dropped (0 loses despite lower id)
    assert out[2]["kept"] and not out[0]["kept"] and not out[1]["kept"]
    assert out[5]["kept"]  # singleton cluster keeps itself
    # exactly one kept per cluster
    from collections import Counter

    kept_per_cluster = Counter(r["cluster_id"] for r in out.values() if r["kept"])
    assert all(v == 1 for v in kept_per_cluster.values())


def test_dedup_keep_best_tie_breaks_to_lowest_id(spark):
    rows = [
        (7, "alpha beta gamma delta epsilon zeta", 35),
        (9, "alpha beta gamma delta epsilon zeta", 35),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    out = {r["doc_id"]: r["kept"] for r in D.dedup_keep_best(docs).collect()}
    assert out == {7: True, 9: False}


def test_dedup_index_roundtrip_matches_direct_probe(spark, tmp_path):
    """write_dedup_index → read_dedup_index → probe must equal the
    direct build+probe, including on an incoming batch that reuses a
    corpus doc_id with different text (independent id spaces)."""
    base = ("the quick brown fox jumps over the lazy dog every day"
            " in the green field near the old mill")
    corpus = spark.createDataFrame(
        [(0, base), (1, "metrics rollups aggregate time series data in windows")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (100, base),                                     # exact dup of 0
            (101, base.replace("old mill", "old barn")),     # all-band near-dup of 0
            (1, "totally fresh content reusing a corpus id"),
        ],
        "doc_id long, text string",
    )
    direct = D.probe_dedup_index(incoming, D.build_dedup_index(corpus)).collect()
    path = str(tmp_path / "dedup_index")
    D.write_dedup_index(D.build_dedup_index(corpus), path)
    loaded = D.probe_dedup_index(incoming, D.read_dedup_index(spark, path)).collect()

    def key(rows):
        return sorted(tuple(r) for r in rows)

    assert key(direct) == key(loaded)
    out = {r["doc_id"]: r for r in loaded}
    assert out[100]["exact_dup"] and out[100]["exact_match_id"] == 0
    assert out[101]["near_dup"] and out[101]["near_match_id"] == 0
    assert not out[1]["exact_dup"] and not out[1]["near_dup"]


def test_hash_embed_properties(spark, docs):
    """Unit norm, determinism, and similarity ordering: identical docs
    get identical vectors; the near-dup pair is closer in cosine than an
    unrelated pair."""
    import math as m

    out = {r["doc_id"]: r for r in TX.hash_embed(docs).collect()}
    assert len(out) == 6
    for r in out.values():
        if r["norm"] > 0:
            assert m.isclose(sum(v * v for v in r["embedding"]), 1.0, rel_tol=1e-5)

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b))

    assert out[0]["embedding"] == out[2]["embedding"]  # identical text
    near = cos(out[0]["embedding"], out[1]["embedding"])
    far = cos(out[0]["embedding"], out[3]["embedding"])
    assert near > far


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(deadline=None, max_examples=12)
@given(
    data=st.data(),
)
def test_cdc_chunks_tiling_property(spark, data):
    """For ANY document, CDC chunks must tile the token stream exactly:
    contiguous starts, token counts summing to the doc length, digests
    matching a Python recomputation of the same boundary rule."""
    import hashlib as hl

    words = data.draw(
        st.lists(st.sampled_from("alpha beta gamma delta x7 zz q".split()),
                 min_size=1, max_size=60)
    )
    text = " ".join(words)
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    rows = sorted(TX.cdc_chunks(docs).collect(), key=lambda r: r["chunk_idx"])

    def bucket(tok):
        return int(hl.md5(("cdc" + tok).encode()).hexdigest()[:8], 16) % 32

    # python reference: boundary AFTER token i when bucket==0
    chunks, cur = [], []
    for w in words:
        cur.append(w)
        if bucket(w) == 0:
            chunks.append(cur)
            cur = []
    if cur:
        chunks.append(cur)
    assert len(rows) == len(chunks)
    pos = 1
    for r, want in zip(rows, chunks):
        assert r["start_pos"] == pos and r["n_tokens"] == len(want)
        assert r["chunk_md5"] == hl.md5(" ".join(want).encode()).hexdigest()
        pos += len(want)
