"""Round-6 property tests: the changed/new operators against
pure-Python references on randomized inputs (hypothesis)."""

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


# ---------------------------------------------------------------------------
# BPE trainer vs a pure-Python reference
# ---------------------------------------------------------------------------

def _py_bpe(words: list[str], n_merges: int):
    """Reference BPE: greedy most-frequent adjacent pair, ties broken
    (lhs, rhs) lexicographic, merge applied greedily left-to-right."""
    freq = Counter(words)
    seqs = {w: [*w, "</w>"] for w in freq}
    merges = []
    for rank in range(1, n_merges + 1):
        counts: Counter = Counter()
        for w, s in seqs.items():
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += freq[w]
        if not counts:
            break
        best_cnt = max(counts.values())
        a, b = min(p for p, c in counts.items() if c == best_cnt)
        merges.append((rank, a, b, a + b, best_cnt))
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=3,
        max_size=40,
    )
)
def test_bpe_train_matches_python_reference(spark, words):
    from blueflood_spark.operators.text import bpe_train

    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    got = [
        (r.merge_rank, r.lhs, r.rhs, r.merged, r.pair_count)
        for r in bpe_train(docs, n_merges=3).orderBy("merge_rank").collect()
    ]
    assert got == _py_bpe(words, 3)


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=3,
        max_size=40,
    )
)
def test_bpe_train_local_matches_distributed(spark, words):
    """The driver-local trainer (default path) and the distributed round
    loop (vocabularies past driver_vocab_limit) must agree bit-for-bit —
    driver_vocab_limit=0 forces every vocabulary down the distributed
    path."""
    from blueflood_spark.operators.text import bpe_train

    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")

    def rows(df):
        return [
            (r.merge_rank, r.lhs, r.rhs, r.merged, r.pair_count)
            for r in df.orderBy("merge_rank").collect()
        ]

    local = rows(bpe_train(docs, n_merges=3))
    dist = rows(bpe_train(docs, n_merges=3, driver_vocab_limit=0))
    assert local == dist


# ---------------------------------------------------------------------------
# KMV pre-filter is lossless
# ---------------------------------------------------------------------------

@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.sampled_from(["g0", "g1"]), st.integers(0, 3000)),
        min_size=10,
        max_size=300,
    )
)
def test_kmv_prefilter_lossless(spark, rows):
    """The count-derived pre-filter must never change the sketch: compare
    against prefilter_margin big enough that the bound is always FULL
    (the pure distinct+window path)."""
    from blueflood_spark.operators.sketches import kmv_sketch

    df = spark.createDataFrame(rows, "g string, v long")
    want = {(r.g, r.rank, r.h)
            for r in kmv_sketch(df, "v", ["g"], k=8, prefilter_margin=10**6).collect()}
    got = {(r.g, r.rank, r.h)
           for r in kmv_sketch(df, "v", ["g"], k=8, prefilter_margin=4).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# URL host extraction vs urllib
# ---------------------------------------------------------------------------

def test_url_host_matches_urllib(spark):
    """The regex host extraction must agree with urllib.parse for a
    corpus of awkward-but-wellformed URLs (userinfo, ports, case, www)."""
    from urllib.parse import urlparse

    from blueflood_spark.operators.dedup import url_blocklist_filter

    urls = [
        "https://A.B.example.com/x",
        "http://user:pw@deep.sub.example.org:8080/p?q=1#f",
        "ftp://www.files.example.net:21/a/b",
        "https://example.com",
        "http://x@www.example.io:443/",
        "https://a-b.c-d.example.co/x%20y",
    ]
    rows = [(i, u) for i, u in enumerate(urls)]
    out = {
        r["doc_id"]: r["domain"]
        for r in url_blocklist_filter(
            spark.createDataFrame(rows, "doc_id long, url string"), ["example.com"], []
        ).collect()
    }
    for i, u in enumerate(urls):
        p = urlparse(u.lower())
        want = (p.hostname or "").removeprefix("www.")
        assert out[i] == want, (u, out[i], want)


# ---------------------------------------------------------------------------
# train → encode composition
# ---------------------------------------------------------------------------

def test_bpe_train_feeds_encode(spark):
    """The learned merge table drives the encoder: applying bpe_train's
    word-internal merges (the </w>-terminator merges don't exist in the
    encoder's boundary encoding) must never grow any document's token
    count, and must shrink the corpus total — training actually
    compresses the corpus it trained on."""
    from blueflood_spark.operators.text import bpe_encode, bpe_train

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    learned = [
        (r.lhs, r.rhs)
        for r in bpe_train(docs, n_merges=8).orderBy("merge_rank").collect()
        if "</w>" not in (r.lhs, r.rhs)
    ]
    assert learned, "no word-internal merges learned"
    base = {r.doc_id: r.n_tokens_bpe for r in bpe_encode(docs, merges=[]).collect()}
    enc = {r.doc_id: r.n_tokens_bpe for r in bpe_encode(docs, merges=learned).collect()}
    assert all(enc[d] <= base[d] for d in base)
    assert sum(enc.values()) < sum(base.values())


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.floats(min_value=0.01, max_value=500.0, allow_nan=False),
        min_size=1,
        max_size=60,
    )
)
def test_histogram_quantile_matches_python_reference(spark, values):
    """r8 single-aggregation rewrite of bf_histogram_quantile: the
    array-expression bucket search + interpolation must match a direct
    Python transliteration of the Prometheus estimator on arbitrary
    value sets — including saturated slots (every value past the last
    bound) and exact-boundary targets."""
    import math

    import __spark_entry__ as E

    bounds = E._HIST_BOUNDS
    q = E._HQ_Q
    rows = [("t1", "m", 1_700_000_000_000 + i, float(v)) for i, v in enumerate(values)]
    raw = spark.createDataFrame(
        rows, "tenant_id string, metric_name string, ts long, value double"
    )
    got = E._hq_estimate(raw).collect()
    assert len(got) == 1
    r = got[0]

    # reference: cumulative counts, first bucket reaching q*n, linear
    # interpolation with lo=0 for the first bucket
    n = len(values)
    cum = [sum(1 for v in values if v <= b) for b in bounds]
    target = q * n
    idx = next((i for i, c in enumerate(cum) if c >= target), None)
    if idx is None:
        assert r.saturated is True
        assert r.p_est == bounds[-1]
    else:
        lo = 0.0 if idx == 0 else bounds[idx - 1]
        cum_lo = 0 if idx == 0 else cum[idx - 1]
        want = lo + (bounds[idx] - lo) * (target - cum_lo) / (cum[idx] - cum_lo)
        assert r.saturated is False
        assert math.isclose(r.p_est, want, rel_tol=0, abs_tol=0) or r.p_est == want
    assert r.n_total == n
