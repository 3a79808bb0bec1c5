"""Round-5 operators: Bloom membership, triangle counting, tokenizer
fertility, URL blocklist, packing report, exponential histogram, LTTB."""

import pytest
from pyspark.sql import functions as F


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema).repartition(2)


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives(spark):
    from blueflood_spark.operators.sketches import bloom_membership

    corpus = _df(spark, [(i, f"k{i % 7}") for i in range(0, 40, 2)], "doc_id long, key string")
    probe = _df(spark, [(i, f"k{i % 7}") for i in range(1, 40, 2)], "doc_id long, key string")
    out = bloom_membership(corpus, probe, m_bits=64, k=3).collect()
    # tiny filter -> false positives likely; false negatives NEVER
    for r in out:
        if r["true_dup"]:
            assert r["bloom_maybe"], r
        assert r["is_false_positive"] == (r["bloom_maybe"] and not r["true_dup"])


def test_bloom_words_merge_is_union(spark):
    from blueflood_spark.operators.sketches import bloom_words

    a = _df(spark, [(f"a{i}",) for i in range(30)], "key string")
    b = _df(spark, [(f"b{i}",) for i in range(30)], "key string")
    both = a.unionAll(b)
    w_union = {r["word_idx"]: r["word"] for r in bloom_words(both, m_bits=256, k=3).collect()}
    wa = {r["word_idx"]: r["word"] for r in bloom_words(a, m_bits=256, k=3).collect()}
    wb = {r["word_idx"]: r["word"] for r in bloom_words(b, m_bits=256, k=3).collect()}
    merged = {i: wa.get(i, 0) | wb.get(i, 0) for i in set(wa) | set(wb)}
    assert merged == w_union


# ---------------------------------------------------------------------------
# Triangle counting
# ---------------------------------------------------------------------------

def _brute_triangles(edges):
    nodes = sorted({n for e in edges for n in e})
    es = set(edges)
    tri = {n: 0 for n in nodes}
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            if (x, y) not in es:
                continue
            for z in nodes:
                if z <= y:
                    continue
                if (x, z) in es and (y, z) in es:
                    tri[x] += 1
                    tri[y] += 1
                    tri[z] += 1
    return tri


def test_triangle_counts_known_graph(spark):
    from blueflood_spark.operators.graph import triangle_counts

    # two triangles sharing edge (1,2): {1,2,3} and {1,2,4}; plus a chain 5-6
    edges = [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (5, 6)]
    pairs = _df(spark, edges, "doc_a long, doc_b long")
    out = {r["node"]: (r["degree"], r["n_triangles"]) for r in triangle_counts(pairs).collect()}
    assert out == {1: (3, 2), 2: (3, 2), 3: (2, 1), 4: (2, 1), 5: (1, 0), 6: (1, 0)}


def test_triangle_counts_random_vs_bruteforce(spark):
    import random

    from blueflood_spark.operators.graph import triangle_counts

    rng = random.Random(42)
    edges = sorted({tuple(sorted(rng.sample(range(30), 2))) for _ in range(120)})
    pairs = _df(spark, edges, "doc_a long, doc_b long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(pairs).collect()}
    want = _brute_triangles(edges)
    assert got == want


def test_triangle_counts_wedge_budget_trips_on_dense_graph(spark):
    """The executable wedge guard: a dense graph whose Σ outdeg² exceeds
    the budget must FAIL FAST with the measured count in the message,
    not schedule the wedge stage; an ample budget must leave results
    identical to the unguarded run."""
    import pytest
    from blueflood_spark.operators.graph import triangle_counts

    n = 40  # K_40: sum outdeg^2 under degree-ordering = sum j^2 ~ 20k
    edges = [(a, b) for a in range(n) for b in range(a + 1, n)]
    pairs = _df(spark, edges, "doc_a long, doc_b long")
    with pytest.raises(Exception, match="wedge budget exceeded"):
        triangle_counts(pairs, wedge_budget=1_000).collect()
    ok = {r["node"]: r["n_triangles"] for r in
          triangle_counts(pairs, wedge_budget=10**9).collect()}
    # every node of K_n corners C(n-1, 2) triangles
    assert ok == {i: (n - 1) * (n - 2) // 2 for i in range(n)}
    unguarded = {r["node"]: r["n_triangles"] for r in
                 triangle_counts(pairs, wedge_budget=None).collect()}
    assert unguarded == ok


def test_triangle_counts_skewed_star_has_none(spark):
    from blueflood_spark.operators.graph import triangle_counts

    # a star is triangle-free no matter how skewed the hub degree is
    edges = [(0, i) for i in range(1, 50)]
    pairs = _df(spark, edges, "doc_a long, doc_b long")
    out = triangle_counts(pairs).collect()
    assert all(r["n_triangles"] == 0 for r in out)
    assert {r["degree"] for r in out} == {1, 49}


# ---------------------------------------------------------------------------
# URL blocklist
# ---------------------------------------------------------------------------

def test_url_blocklist_verdicts(spark):
    from blueflood_spark.operators.dedup import url_blocklist_filter

    rows = [
        (1, "https://bad.example.com/x"),
        (2, "HTTPS://WWW.BAD.EXAMPLE.COM/y"),   # case + www alias still blocked
        (3, "http://good.example.com/spamword/z"),  # term hit
        (4, "good.example.com/clean?q=1"),       # schemeless, kept
        (5, "https://good.example.com/ok#frag"), # kept
        (6, "https://bad.example.com:8080/x"),   # port must not evade
        (7, "http://user@bad.example.com/x"),    # userinfo must not evade
        (8, "https://cdn.bad.example.com/x"),    # subdomain of blocked domain
        (9, "https://notbad.example.com/x"),     # suffix match is per-LABEL: kept
    ]
    out = {
        r["doc_id"]: r
        for r in url_blocklist_filter(
            _df(spark, rows, "doc_id long, url string"),
            blocked_domains=["bad.example.com"],
            blocked_path_terms=["spamword"],
        ).collect()
    }
    assert out[1]["blocked_domain"] and not out[1]["is_kept"]
    assert out[2]["blocked_domain"] and out[2]["domain"] == "bad.example.com"
    assert out[3]["blocked_term"] and not out[3]["is_kept"]
    assert out[4]["is_kept"] and out[4]["domain"] == "good.example.com"
    assert out[5]["is_kept"]
    assert out[6]["blocked_domain"] and out[6]["domain"] == "bad.example.com"
    assert out[7]["blocked_domain"] and out[7]["domain"] == "bad.example.com"
    assert out[8]["blocked_domain"] and out[8]["domain"] == "cdn.bad.example.com"
    assert out[9]["is_kept"] and out[9]["domain"] == "notbad.example.com"


def test_url_blocklist_sql_twin_edges(spark):
    """SQL-twin contract: empty blocklist must be valid SQL, and quoted
    terms/domains must be escaped."""
    import duckdb

    from blueflood_spark.operators.dedup import url_blocklist_filter_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'https://bad.example.com/x'), (2, 'https://ok.com/o''brien')"
        ") t(doc_id, url)"
    )
    empty = con.execute(
        url_blocklist_filter_sql("url", [], ["o'brien"])
    ).fetchdf().set_index("doc_id")
    assert not empty.loc[1, "blocked_domain"] and bool(empty.loc[2, "blocked_term"])
    sub = con.execute(
        url_blocklist_filter_sql("url", ["example.com"], [])
    ).fetchdf().set_index("doc_id")
    assert bool(sub.loc[1, "blocked_domain"]) and not bool(sub.loc[2, "blocked_domain"])


# ---------------------------------------------------------------------------
# Exponential histogram
# ---------------------------------------------------------------------------

def test_exp_histogram_bucket_boundaries(spark):
    from blueflood_spark.operators import granularity as G
    from blueflood_spark.operators.rollup import exp_histogram_from_raw

    # micro values: 1 -> bucket 1 (lo 1); 2 -> bucket 2 (lo 2); 3 -> bucket 2;
    # 4 -> bucket 3; 0 and negative -> bucket 0 (lo 0)
    rows = [
        ("t", "m", 0, 1e-6), ("t", "m", 1, 2e-6), ("t", "m", 2, 3e-6),
        ("t", "m", 3, 4e-6), ("t", "m", 4, 0.0), ("t", "m", 5, -5.0),
    ]
    df = _df(spark, rows, "tenant_id string, metric_name string, ts long, value double")
    out = {
        (r["bucket"], r["bucket_lo"]): r["n"]
        for r in exp_histogram_from_raw(df, G.MIN_5).collect()
    }
    assert out == {(1, 1): 1, (2, 2): 2, (3, 4): 1, (0, 0): 2}


def test_exp_histogram_merge_equals_direct(spark):
    import random

    from blueflood_spark.operators import granularity as G
    from blueflood_spark.operators.rollup import exp_histogram_from_raw, exp_histogram_merge

    rng = random.Random(7)
    rows = [
        ("t", f"m{i % 3}", rng.randrange(0, 3_600_000), rng.uniform(-1, 1000))
        for i in range(500)
    ]
    df = _df(spark, rows, "tenant_id string, metric_name string, ts long, value double")
    merged = exp_histogram_merge(exp_histogram_from_raw(df, G.MIN_5), G.MIN_20)
    direct = exp_histogram_from_raw(df, G.MIN_20)
    key = ["tenant_id", "metric_name", "window_start", "bucket", "n", "bucket_lo"]
    assert sorted(map(tuple, merged.select(*key).collect())) == sorted(
        map(tuple, direct.select(*key).collect())
    )


# ---------------------------------------------------------------------------
# LTTB
# ---------------------------------------------------------------------------

def test_lttb_contract_on_fixture(spark):
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    out = E.bf_lttb_downsample(spark, sf)
    rows = out.collect()
    assert len(rows) > 0
    # one selected point per (series, slot)
    keys = [(r["tenant_id"], r["metric_name"], r["slot_ms"]) for r in rows]
    assert len(keys) == len(set(keys))
    # selected ts falls inside its slot
    for r in rows:
        assert r["slot_ms"] <= r["sel_ts"] < r["slot_ms"] + 21_600_000


def test_lttb_middle_bucket_maximizes_area(spark):
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    raw = E._raw_metrics(spark, sf)
    pts = raw.select(
        "tenant_id", "metric_name", "ts",
        F.floor(F.col("value") * 1_000_000).cast("long").alias("v"),
        (F.col("ts") - F.pmod(F.col("ts"), F.lit(21_600_000))).alias("slot_ms"),
    ).collect()
    sel = {
        (r["tenant_id"], r["metric_name"], r["slot_ms"]): (r["sel_ts"], r["sel_value_micro"])
        for r in E.bf_lttb_downsample(spark, sf).collect()
    }
    # python re-derivation for one series
    series = {}
    for r in pts:
        series.setdefault((r["tenant_id"], r["metric_name"]), []).append(
            (r["ts"], r["v"], r["slot_ms"])
        )
    checked = 0
    for key, prs in series.items():
        shift = min(v for _, v, _ in prs)
        slots = sorted({s for _, _, s in prs})
        by_slot = {
            s: sorted((t, v - shift, v) for t, v, s2 in prs if s2 == s) for s in slots
        }
        anchors = {
            s: (
                sum(t for t, _, _ in by_slot[s]) // len(by_slot[s]),
                sum(v for _, v, _ in by_slot[s]) // len(by_slot[s]),
            )
            for s in slots
        }
        for i, s in enumerate(slots):
            if i == 0:
                want = min(by_slot[s])
            elif i == len(slots) - 1:
                want = max((t, v, vo) for t, v, vo in by_slot[s])
            else:
                ptx, pvy = anchors[slots[i - 1]]
                ntx, nvy = anchors[slots[i + 1]]
                want = max(
                    by_slot[s],
                    key=lambda p: (
                        abs((ptx - ntx) * (p[1] - pvy) - (ptx - p[0]) * (nvy - pvy)),
                        -p[0],
                    ),
                )
            assert sel[(key[0], key[1], s)] == (want[0], want[2]), (key, s)
            checked += 1
    assert checked > 10


# ---------------------------------------------------------------------------
# Fertility + packing report sanity on fixture
# ---------------------------------------------------------------------------

def test_fertility_ratios_consistent(spark):
    import __spark_entry__ as E

    rows = E.llm_tokenizer_fertility(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 1
    for r in rows:
        assert r["fertility"] == pytest.approx(r["total_tokens"] / r["total_words"])
        assert r["chars_per_token"] == pytest.approx(r["total_chars"] / r["total_tokens"])


def test_pack_report_conserves_docs_and_tokens(spark):
    import __spark_entry__ as E
    from blueflood_spark.operators import text as TX

    sf = "/root/testdata/sf0.001"
    packed = TX.pack_sequences(E._t(spark, sf, "documents"), budget=256, shard_size=64)
    rep = E.llm_pack_report(spark, sf)
    n_docs = packed.count()
    tok_total = packed.agg(F.sum("n_tokens")).collect()[0][0]
    agg = rep.agg(F.sum("n_docs_start"), F.sum("tokens_start")).collect()[0]
    assert agg[0] == n_docs
    assert agg[1] == tok_total


# ---------------------------------------------------------------------------
# Quality classifier + counter resets
# ---------------------------------------------------------------------------

def test_quality_classifier_features_exact(spark):
    from blueflood_spark.operators.text import QC_WEIGHTS, quality_classifier

    text = "the cat sat on of mat! with long whiskers"
    n_words = len(text.split(" "))  # 9
    n_stop = 2  # "the", "of" ("on" is not in the list)
    docs = _df(spark, [(1, text)], "doc_id long, text string")
    r = quality_classifier(docs).collect()[0]
    n_chars = len(text)
    assert r["stop_pm"] == n_stop * 1000 // n_words
    assert r["punct_pm"] == 1 * 1000 // n_chars
    assert r["wordlen_dev"] == abs(n_chars * 100 // n_words - 500)
    assert r["len_bucket"] == len(bin(n_words)) - 2
    W = QC_WEIGHTS
    want = (W["bias"] + W["stop_pm"] * r["stop_pm"] + W["punct_pm"] * r["punct_pm"]
            + W["wordlen_dev"] * r["wordlen_dev"] + W["len_bucket"] * r["len_bucket"])
    assert r["logit_micro"] == want
    assert r["is_kept"] == (want >= 0)


def test_quality_classifier_empty_text(spark):
    from blueflood_spark.operators.text import quality_classifier

    r = quality_classifier(_df(spark, [(1, "")], "doc_id long, text string")).collect()[0]
    # split('') = [''] so token count is 1, not 0; char count 0 guards punct
    assert r["punct_pm"] == 0 and r["stop_pm"] == 0
    assert r["len_bucket"] == 1


def test_quality_classifier_both_classes_on_fixture(spark):
    import __spark_entry__ as E

    rows = E.llm_quality_filter(spark, "/root/testdata/sf0.001").collect()
    kept = sum(1 for r in rows if r["is_kept"])
    assert 0 < kept < len(rows)


def test_counter_resets_known_series(spark):
    import __spark_entry__ as E
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    # one series: 10, 25, 5 (reset), 8, 2 (reset), 4
    rows = [("t", "m", i * 1000, 0, v) for i, v in enumerate([10.0, 25.0, 5.0, 8.0, 2.0, 4.0])]
    df = _df(spark, rows, "tenant_id string, metric_name string, ts long, user_id long, value double")
    # reuse the operator body via the registered query's internals
    w = Window.partitionBy("tenant_id", "metric_name").orderBy("ts", "user_id", "v")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v = F.floor(F.col("value") * 1_000_000).cast("long")
    lagged = df.select("tenant_id", "metric_name", "ts", "user_id", v.alias("v")).withColumn(
        "prev_v", F.lag("v").over(w)
    )
    flagged = lagged.withColumn(
        "is_reset", F.col("prev_v").isNotNull() & (F.col("v") < F.col("prev_v"))
    )
    out = flagged.select(
        "ts",
        F.col("v").alias("value_micro"),
        "is_reset",
        (F.col("v") + F.sum(F.when(F.col("is_reset"), F.col("prev_v")).otherwise(F.lit(0))).over(w_run)).alias("adj"),
    ).orderBy("ts").collect()
    adj = [r["adj"] for r in out]
    # adjusted: 10, 25, 5+25, 8+25, 2+25+8, 4+25+8 (in micro units)
    assert adj == [x * 1_000_000 for x in [10, 25, 30, 33, 35, 37]]
    assert [r["is_reset"] for r in out] == [False, False, True, False, True, False]
    # monotone non-decreasing
    assert all(a <= b for a, b in zip(adj, adj[1:]))


# ---------------------------------------------------------------------------
# Frame signatures
# ---------------------------------------------------------------------------

def test_frame_signatures_match_decoder(spark):
    import hashlib

    from blueflood_spark.operators import multimodal as MM

    media = MM.synthetic_media(spark, 24)
    rows = MM.frame_signatures(media).collect()
    assert rows, "video rows must decode"
    # python re-derivation: every decoded frame key/sum must match the
    # generative payload byte-for-byte
    for r in rows[:20]:
        i = r["media_id"]
        payload = MM.synthetic_y4m(i)
        meta = MM.decode_y4m(payload)
        assert (r["width"], r["height"]) == (meta["width"], meta["height"])
        w, h = meta["width"], meta["height"]
        luma = bytes((i * 31 + r["frame_idx"] * 17 + j * 7) % 256 for j in range(w * h))
        assert r["frame_key"] == hashlib.md5(",".join(str(v) for v in luma).encode()).hexdigest()
        assert r["y_sum"] == sum(luma)
    # frame count conservation: Σ frames == Σ n_frames of the video rows
    n_sig = len(rows)
    want = sum(2 + (i // 3) % 3 for i in range(24) if i % 3 == 2)
    assert n_sig == want


def test_frame_signatures_skip_non_video_and_corrupt(spark):
    from blueflood_spark.operators import multimodal as MM

    rows = [
        (1, "image", None, None, None, bytearray(b"P3\n1 1\n255\n0 0 0")),
        (2, "video", None, None, None, bytearray(b"garbage")),
        (3, "video", None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, kind string, width int, height int, duration_ms long, payload binary"
    )
    assert MM.frame_signatures(df).count() == 0


def test_native_histogram_quantile_brackets_exact_p95(spark):
    import math

    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    raw = E._raw_metrics(spark, sf).collect()
    # exact per-(series, 20m window) p95 rank value, micro-quantized
    series = {}
    for r in raw:
        key = (r["tenant_id"], r["metric_name"], r["ts"] // 1_200_000 * 1_200_000)
        series.setdefault(key, []).append(math.floor(r["value"] * 1_000_000))
    est = {
        (r["tenant_id"], r["metric_name"], r["window_start"]): r
        for r in E.bf_native_histogram_quantile(spark, sf).collect()
    }
    assert set(est) == set(series)
    for key, vals in series.items():
        vals.sort()
        n = len(vals)
        rank = (19 * n + 19) // 20
        v = vals[rank - 1]
        r = est[key]
        assert r["n_total"] == n and r["rank"] == rank
        # the estimate must land inside the exact rank value's bucket
        lo = 0 if v <= 0 else 1 << (v.bit_length() - 1)
        hi = 0 if v <= 0 else 1 << v.bit_length()
        assert lo <= r["p95_micro_est"] <= hi, (key, v, r["p95_micro_est"])


def test_nprobe_sweep_monotone_and_saturating(spark):
    import __spark_entry__ as E

    rows = {
        r["n_probe"]: r
        for r in E.llm_ann_nprobe_sweep(spark, "/root/testdata/sf0.001").collect()
    }
    assert set(rows) == {1, 2, 4, 8}
    # recall is non-decreasing in n_probe, and at n_probe = n_lists the
    # probe set covers every list -> recall 1.0 exactly
    rec = [rows[p]["mean_recall"] for p in (1, 2, 4, 8)]
    assert all(a <= b for a, b in zip(rec, rec[1:])), rec
    assert rec[-1] == 1.0
    for r in rows.values():
        assert r["total_hits"] == round(r["mean_recall"] * 10 * r["n_queries"])


def test_kmv_overlap_exact_when_k_covers(spark):
    """When k >= |union|, the KMV 'estimate' machinery must recover the
    EXACT intersection: n_both = |A∩B| and the union sketch is the whole
    union (h_k = max hash)."""
    from blueflood_spark.operators.sketches import kmv_pair_overlap

    rows = [("A", v) for v in range(30)] + [("B", v) for v in range(20, 50)]
    df = _df(spark, rows, "g string, v long")
    out = kmv_pair_overlap(df, "v", "g", k=1000).collect()
    assert len(out) == 1
    r = out[0]
    assert r["k_used"] == 50 and r["n_both"] == 10
    assert r["exact_intersection"] == 10
    # saturated sketch: est_union = k_used exactly, so the estimate IS
    # the exact intersection (not the biased (k-1)*2^32/h_k tail)
    assert abs(r["est_intersection"] - 10.0) < 1e-9, r["est_intersection"]


def test_kmv_estimate_reasonable(spark):
    """At k << n the estimator should land near the truth (loose bound:
    within a factor of 2 for a 50% overlap of 400-element sets — KMV's
    relative error at k=64 is ~12%)."""
    from blueflood_spark.operators.sketches import kmv_pair_overlap

    rows = [("A", v) for v in range(400)] + [("B", v) for v in range(200, 600)]
    df = _df(spark, rows, "g string, v long")
    r = kmv_pair_overlap(df, "v", "g", k=64).collect()[0]
    assert r["exact_intersection"] == 200
    assert 100 <= r["est_intersection"] <= 400, r["est_intersection"]


# ---------------------------------------------------------------------------
# BPE training (r6)
# ---------------------------------------------------------------------------

def test_bpe_train_known_corpus(spark):
    """Hand-computed BPE on the classic toy corpus: 'low' x5, 'lower' x2,
    'newest' x6, 'widest' x3 (Sennrich et al. 2016 example, </w>
    terminator). First merges: (e,s) 9, then (es,t) 9, then (est,</w>) 9,
    then (l,o) 7..."""
    from blueflood_spark.operators.text import bpe_train

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = _df(spark, [(1, text)], "doc_id long, text string")
    got = [(r.merge_rank, r.lhs, r.rhs, r.merged, r.pair_count)
           for r in bpe_train(docs, n_merges=4).orderBy("merge_rank").collect()]
    assert got == [
        (1, "e", "s", "es", 9),
        (2, "es", "t", "est", 9),
        (3, "est", "</w>", "est</w>", 9),
        (4, "l", "o", "lo", 7),
    ]


def test_bpe_train_sql_twin_matches(spark):
    """The DuckDB twin must learn the identical merge table (same greedy
    algorithm, same double-space replace encoding)."""
    import duckdb

    from blueflood_spark.operators.text import bpe_train, bpe_train_sql

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = _df(spark, [(1, text)], "doc_id long, text string")
    got = [(r.merge_rank, r.lhs, r.rhs, r.merged, r.pair_count)
           for r in bpe_train(docs, n_merges=6).orderBy("merge_rank").collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT 1 AS doc_id, '{text}' AS text")
    want = [tuple(r) for r in con.execute(
        bpe_train_sql(n_merges=6) + " ORDER BY merge_rank").fetchall()]
    assert got == want


def test_kmv_prefilter_fallback_exact(spark):
    """Force the pre-filter to cut EVERYTHING (margin=0 → bound=0 for
    every estimated-large group): the unfiltered fallback must recover
    the exact same sketch the default path produces — including groups
    the filter would otherwise drop entirely."""
    from blueflood_spark.operators.sketches import kmv_sketch

    rows = [(f"g{i % 3}", v) for i in range(3) for v in range(500)]
    df = _df(spark, rows, "g string, v long")
    want = {(r.g, r.rank, r.h) for r in kmv_sketch(df, "v", ["g"], k=16).collect()}
    got = {(r.g, r.rank, r.h)
           for r in kmv_sketch(df, "v", ["g"], k=16, prefilter_margin=0).collect()}
    assert got == want
    assert len({g for g, _, _ in got}) == 3  # no group silently dropped
