"""Tests for the north-star extension operators: dedup (exact / MinHash-LSH
/ SimHash / n-gram Jaccard), vector similarity, text analysis, multimodal
plumbing, and the Structured Streaming events plan."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- dedup
def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    from mistocksync_spark.operators.dedup import exact_dedup

    df = _docs(spark, [(1, "a b c"), (2, "a b c"), (3, "x y z")])
    got = {r.keep_id: r.occurrences for r in exact_dedup(df).collect()}
    assert got == {1: 2, 3: 1}


def test_word_shingles(spark):
    from mistocksync_spark.operators.dedup import shingle_table

    df = _docs(spark, [(1, "A b c d"), (2, "x y")])  # len<n -> no shingles
    rows = shingle_table(df, n=3).collect()
    got = {(r.doc_id, r.shingle) for r in rows}
    assert got == {(1, "a b c"), (1, "b c d")}


def test_minhash_lsh_finds_near_dups(spark):
    from mistocksync_spark.operators.dedup import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_table,
    )

    base = "один два три четыре пять шесть семь восемь девять десять"
    df = _docs(spark, [(1, base), (2, base + " хвост"), (3, "совсем другой текст про погоду и море")])
    pairs = lsh_candidate_pairs(lsh_bands(minhash_signatures(shingle_table(df), 8), 2))
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_ngram_jaccard_exact_value(spark):
    from mistocksync_spark.operators.dedup import ngram_jaccard_pairs, shingle_table

    df = _docs(spark, [(1, "a b c d"), (2, "a b c d e")])
    # shingles(1) = {abc, bcd}; shingles(2) = {abc, bcd, cde}; J = 2/3
    rows = ngram_jaccard_pairs(shingle_table(df), threshold=0.5).collect()
    assert len(rows) == 1
    assert rows[0].doc_a == 1 and rows[0].doc_b == 2
    assert abs(rows[0].jaccard - 2 / 3) < 1e-6


def test_simhash_exact_dup_hamming_zero(spark):
    from mistocksync_spark.operators.dedup import simhash, simhash_near_dup_pairs

    df = _docs(
        spark,
        [
            (1, "слово один два три"),
            (2, "слово один два три"),
            (3, "полностью непохожий набор редких токенов абракадабра"),
        ],
    )
    sigs = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert sigs[1] == sigs[2]
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_dup_pairs(simhash(df)).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs


def test_simhash_banding_is_exact(spark):
    """Banded candidate generation must equal the quadratic scan for
    max_hamming = bands - 1 (pigeonhole)."""
    from mistocksync_spark.operators.dedup import simhash, simhash_near_dup_pairs

    docs = _docs(
        spark,
        [(i, f"общий общий общий токен{i % 4} число{i}") for i in range(16)],
    )
    sigs = simhash(docs)
    banded = {(r.doc_a, r.doc_b, r.hamming) for r in simhash_near_dup_pairs(sigs).collect()}
    rows = sigs.collect()
    brute = set()
    for a in rows:
        for b in rows:
            if a.doc_id < b.doc_id:
                h = bin(a.simhash ^ b.simhash).count("1")
                if h <= 3:
                    brute.add((a.doc_id, b.doc_id, h))
    assert banded == brute


_HASH_DOCS = [
    (1, "один два три четыре"),
    (2, "Hello World foo bar baz"),
    (3, "Слово x y Слово z"),
    (4, "a b c d a b"),
]


def _py_simhash(text, nbits=60):
    votes = [0] * nbits
    for tok in set(text.lower().split()):
        h = hashlib.md5(tok.encode()).hexdigest()
        for b in range(nbits):
            votes[b] += ((int(h[b // 4], 16) >> (b % 4)) & 1) * 2 - 1
    return sum(1 << b for b in range(nbits) if votes[b] >= 0)


def _py_minhashes(text, num_hashes=8, n=3):
    toks = text.lower().split()
    grams = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    return [min(hashlib.md5(f"{s}|{g}".encode()).hexdigest() for g in grams) for s in range(num_hashes)]


def test_simhash_and_minhash_match_md5_reference(spark):
    """Signature VALUES equal a pure-Python md5 reference, so a wrong bit
    extraction fails here even where the relative properties above hold."""
    from mistocksync_spark.operators.dedup import minhash_signatures, shingle_table, simhash

    df = _docs(spark, _HASH_DOCS)
    assert {r.doc_id: r.simhash for r in simhash(df).collect()} == {
        i: _py_simhash(t) for i, t in _HASH_DOCS
    }
    got = {}
    for r in minhash_signatures(shingle_table(df), 8).collect():
        got.setdefault(r.doc_id, [None] * 8)[r.seed] = r.minhash
    assert got == {i: _py_minhashes(t) for i, t in _HASH_DOCS}


# ---------------------------------------------------------------- vectors
def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_orders_by_similarity(spark):
    from mistocksync_spark.operators.vectors import brute_force_topk

    df = _vecs(
        spark,
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
    )
    rows = brute_force_topk(df, [1.0, 0.0], k=3).collect()
    assert [r.vec_id for r in rows] == [0, 1, 2]
    assert rows[0].cos_sim == pytest.approx(1.0)
    assert rows[1].cos_sim == pytest.approx(0.9 / math.hypot(0.9, 0.1))


def test_lsh_bucket_topk_recalls_top1(spark):
    from mistocksync_spark.operators.vectors import lsh_bucket_topk

    q = [0.5] * 8
    near = [0.5] * 7 + [0.51]
    far = [-0.5] * 8
    df = _vecs(spark, [(0, q), (1, near), (2, far)])
    rows = lsh_bucket_topk(df, q, k=2, nbits=4)
    got = [r.vec_id for r in rows.collect()]
    assert got[0] == 0 and 1 in got


def test_knn_join_equals_per_query_brute_force(spark):
    """The batched two-phase k-NN join must equal a brute_force_topk loop
    per query (self-pair excluded), including ranks and tie-breaks."""
    import random

    from mistocksync_spark.operators.vectors import brute_force_topk, knn_join

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(40)]
    # inject an exact duplicate pair to force a cosine tie
    rows[11] = (11, list(rows[3][1]))
    corpus = _vecs(spark, rows).repartition(5)  # multiple partials per query
    queries = _vecs(spark, rows[:3]).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r.query_id, r.rnk): (r.vec_id, round(r.cos_sim, 10))
        for r in knn_join(corpus, queries, k=5).collect()
    }
    # brute-force with the FLOAT32-stored query vectors (what knn_join and
    # the parquet-backed registered query both see), not the raw literals
    stored = {r.vec_id: [float(x) for x in r.embedding] for r in corpus.collect()}
    want = {}
    for qid, _ in rows[:3]:
        top = brute_force_topk(
            _vecs(spark, [r for r in rows if r[0] != qid]), stored[qid], k=5
        ).collect()
        for rank, r in enumerate(top, start=1):
            want[(qid, rank)] = (r.vec_id, round(r.cos_sim, 10))
    assert got == want


def test_funnel_strict_ordering(spark):
    from mistocksync_spark.operators.temporal import funnel

    ev = spark.createDataFrame(
        [
            # u1 completes the funnel in order
            (1, "2024-01-01 10:00:00", "view"),
            (1, "2024-01-01 10:01:00", "click"),
            (1, "2024-01-01 10:02:00", "purchase"),
            # u2 clicks BEFORE viewing — click must not count; purchase
            # without a qualifying click must not count either
            (2, "2024-01-01 09:00:00", "click"),
            (2, "2024-01-01 09:30:00", "view"),
            (2, "2024-01-01 09:45:00", "purchase"),
            # u3 views only
            (3, "2024-01-01 08:00:00", "view"),
            # u4 never views — contributes to no step
            (4, "2024-01-01 08:00:00", "purchase"),
        ],
        "user_id long, ts string, event_type string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    got = {r.step: (r.n_users, r.conversion) for r in funnel(
        ev, ["view", "click", "purchase"]
    ).collect()}
    assert got["view"] == (3, 1.0)
    assert got["click"] == (1, pytest.approx(1 / 3))
    assert got["purchase"] == (1, pytest.approx(1 / 3))


def test_funnel_max_gap_bounds_each_hop(spark):
    from mistocksync_spark.operators.temporal import funnel

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", "view"),
            (1, "2024-01-01 10:30:00", "click"),      # within 1h of view
            (1, "2024-01-01 12:00:00", "purchase"),   # >1h after click → out
            (2, "2024-01-01 10:00:00", "view"),
            (2, "2024-01-01 11:30:00", "click"),      # >1h after view → out
        ],
        "user_id long, ts string, event_type string",
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type")
    got = {r.step: r.n_users for r in funnel(
        ev, ["view", "click", "purchase"], max_gap_seconds=3600
    ).collect()}
    assert got == {"view": 2, "click": 1, "purchase": 0}
    # and the exact boundary (gap == max) still counts
    got2 = {r.step: r.n_users for r in funnel(
        ev, ["view", "click"], max_gap_seconds=5400
    ).collect()}
    assert got2["click"] == 2


def test_ohlc_rollup_first_last_by_time(spark):
    from mistocksync_spark.operators.temporal import ohlc_rollup

    ev = spark.createDataFrame(
        [
            ("2024-01-01 10:05:00", "click", 5.0),
            ("2024-01-01 10:01:00", "click", 9.0),   # earliest → open
            ("2024-01-01 10:59:00", "click", 2.0),   # latest → close
            ("2024-01-01 10:01:00", "view", 7.0),
            ("2024-01-01 10:01:00", "view", 3.0),    # ts tie → min value opens
        ],
        "ts string, event_type string, value double",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "event_type", "value")
    got = {r.key: r for r in ohlc_rollup(ev).collect()}
    c = got["click"]
    assert (c.open, c.close, c.low, c.high, c.n_events) == (9.0, 2.0, 2.0, 9.0, 3)
    assert c.mean_value == pytest.approx(16.0 / 3)
    v = got["view"]
    # equal timestamps: open = smallest value, close = largest (total order)
    assert (v.open, v.close) == (3.0, 7.0)


def test_dedup_cluster_histogram_counts_singletons(spark):
    from mistocksync_spark.operators.dedup import dedup_cluster_histogram

    doc_ids = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # {0,1,2} a triangle, {3,4} a pair, 5 and 6 singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4)], "doc_a long, doc_b long"
    )
    got = {r.cluster_size: (r.n_clusters, r.n_docs) for r in dedup_cluster_histogram(
        doc_ids, pairs
    ).collect()}
    assert got == {1: (2, 2), 2: (1, 2), 3: (1, 3)}


def test_cosine_contamination_flags_only_leaked(spark):
    from mistocksync_spark.operators.vectors import cosine_contamination

    corpus = _vecs(
        spark,
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.5, 0.5, 0.0])],
    )
    probes = _vecs(
        spark,
        [
            (100, [2.0, 0.0, 0.0]),   # scaled copy of 0 → cos 1.0, leaked
            (101, [0.0, 0.0, 1.0]),   # orthogonal to everything → clean
        ],
    )
    got = {(r.eval_id, r.vec_id): r.cos_sim for r in cosine_contamination(
        corpus, probes, threshold=0.99
    ).collect()}
    assert got == {(100, 0): 1.0}


def test_mixture_plan_arithmetic(spark):
    from mistocksync_spark.operators.textual import mixture_plan

    docs = spark.createDataFrame(
        [(0, "a b c", "s1"), (1, "a b", "s1"), (2, "x " * 50, "s2"), (3, None, "s3")],
        "doc_id long, text string, source string",
    )
    got = {r.source: r for r in mixture_plan(docs, token_budget=60).collect()}
    assert got["s1"].docs == 2 and got["s1"].tokens == 5
    assert got["s2"].tokens == 50
    assert got["s3"].tokens == 0
    # target per stratum = 60/3 = 20: s1 capped at rate 1.0 (5 < 20),
    # s2 downsampled to 20/50
    assert got["s1"].sample_rate == 1.0
    assert got["s2"].sample_rate == pytest.approx(0.4)
    assert got["s2"].expected_tokens == pytest.approx(20.0)
    assert got["s1"].token_share == pytest.approx(5 / 55)


def test_cosine_near_dup_pairs_threshold(spark):
    from mistocksync_spark.operators.vectors import cosine_near_dup_pairs

    df = _vecs(
        spark,
        [(0, [1.0, 2.0, 3.0]), (1, [2.0, 4.0, 6.0]), (2, [3.0, -1.0, 0.0])],
    )
    rows = cosine_near_dup_pairs(df, threshold=0.99).collect()
    assert [(r.vec_a, r.vec_b) for r in rows] == [(0, 1)]
    assert rows[0].cos_sim == pytest.approx(1.0)


def test_cosine_near_dup_banded_matches_brute(spark):
    """Banded-LSH candidates + exact rescore reproduce the brute-force
    pair set on a corpus with planted exact, scaled, and perturbed dups."""
    import random

    from mistocksync_spark.operators.vectors import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_brute,
    )

    rng = random.Random(7)
    rows = []
    for i in range(120):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(16)]))
    for i in range(0, 120, 10):  # exact copies
        rows.append((1000 + i, list(rows[i][1])))
    for i in range(5, 120, 15):  # positively scaled copies
        rows.append((2000 + i, [3.0 * x for x in rows[i][1]]))
    for i in range(3, 120, 20):  # tiny perturbation — cos just under 1
        rows.append((3000 + i, [x + 0.001 for x in rows[i][1]]))
    df = _vecs(spark, rows)
    banded = {(r.vec_a, r.vec_b, r.cos_sim) for r in cosine_near_dup_pairs(df, threshold=0.99).collect()}
    brute = {(r.vec_a, r.vec_b, r.cos_sim) for r in cosine_near_dup_pairs_brute(df, threshold=0.99).collect()}
    assert banded == brute
    assert len(banded) >= 12 + 8 + 6  # all planted families found


def test_inferred_dim_rejects_ragged_vectors(spark):
    from mistocksync_spark.operators.vectors import cosine_near_dup_pairs

    df = _vecs(spark, [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])])
    with pytest.raises(ValueError, match="ragged"):
        cosine_near_dup_pairs(df, threshold=0.99)


def test_repetition_features(spark):
    from mistocksync_spark.operators.textual import repetition_features

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),   # 1 distinct of 4; bigram 'spam spam' = 3/3
            (2, "all words are unique"),  # no repetition
            (3, ""),                      # empty
            (4, "one"),                   # single token, no bigrams
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in repetition_features(df).collect()}
    assert got[1].dup_token_frac == 0.75 and got[1].top_bigram_frac == 1.0
    assert got[2].dup_token_frac == 0.0 and got[2].top_bigram_frac == 0.333333
    assert got[3].n_tokens == 0 and got[3].top_bigram_frac == 0.0
    assert got[4].n_tokens == 1 and got[4].top_bigram_frac == 0.0


def test_contamination_check_shingle_overlap(spark):
    from mistocksync_spark.operators.dedup import contamination_check

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),   # 2 shared shingles
            (2, "alpha beta gamma zz yy"),           # 1 shared shingle
            (3, "totally different words here now"), # 0
        ],
        ["doc_id", "text"],
    )
    eval_set = spark.createDataFrame(
        [(100, "alpha beta gamma delta qq")], ["doc_id", "text"]
    )
    got = {r.doc_id: r.n_hits for r in contamination_check(corpus, eval_set).collect()}
    assert got == {1: 2}  # 'alpha beta gamma' + 'beta gamma delta'


# ---------------------------------------------------------------- textual
def test_corpus_filter_first_failing_reason(spark):
    from mistocksync_spark.operators.textual import corpus_filter

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "en"),          # ok
            (2, "short text", "en"),                       # too_short (2 tokens)
            (3, "the cat sat on the mat", "xx"),           # lang (checked first)
            (4, "abcdefghijklmnopqrstuvwxyz " * 6, "en"),  # token_shape
            (5, "a. b, c! d? e; f: g.., h i j", "en"),     # punctuation
        ],
        ["doc_id", "text", "lang"],
    )
    got = {r.doc_id: (r.reason, r.keep) for r in corpus_filter(df).collect()}
    assert got[1] == ("ok", True)
    assert got[2] == ("too_short", False)
    assert got[3] == ("lang", False)
    assert got[4] == ("token_shape", False)
    assert got[5] == ("punctuation", False)


def test_vocab_topk_order_and_tiebreak(spark):
    from mistocksync_spark.operators.textual import vocab_topk

    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a z")], ["doc_id", "text"]
    )
    rows = [(r.token, r.cnt) for r in vocab_topk(df, k=3).collect()]
    assert rows == [("a", 3), ("b", 3), ("c", 1)]  # tie a/b -> token asc


def test_pack_documents_chunks_per_stratum(spark):
    from mistocksync_spark.operators.textual import pack_documents

    df = spark.createDataFrame(
        [(1, "en", 6), (2, "en", 6), (3, "en", 2), (10, "ru", 11)],
        ["doc_id", "lang", "n_tokens"],
    )
    got = {r.doc_id: (r.pack_id, r.pack_offset) for r in pack_documents(df, seq_len=10).collect()}
    # en stream: doc1 at 0, doc2 at 6 (straddles into pack 0), doc3 at 12 -> pack 1
    assert got[1] == (0, 0)
    assert got[2] == (0, 6)
    assert got[3] == (1, 2)
    assert got[10] == (0, 0)  # ru stream independent


def test_token_counts_and_quality(spark):
    from mistocksync_spark.operators.textual import quality_features

    df = _docs(spark, [(1, "The cat, the hat!"), (2, "")])
    rows = {r.doc_id: r for r in quality_features(df).collect()}
    assert rows[1].n_tokens == 4
    assert rows[1].punct_ratio == pytest.approx(2 / 17)
    assert rows[1].stopword_ratio == pytest.approx(0.5)  # 'the' x2 of 4
    assert rows[2].n_tokens == 0


def test_language_id_en_ru(spark):
    from mistocksync_spark.operators.textual import language_id

    df = _docs(
        spark,
        [
            (1, "the quick fox and the lazy dog in a field"),
            (2, "это не просто текст как бы он был на русском языке"),
        ],
    )
    rows = {r.doc_id: r.lang_pred for r in language_id(df).collect()}
    assert rows[1] == "en"
    assert rows[2] == "ru"


def test_fingerprint_stable_and_distinct(spark):
    from mistocksync_spark.operators.textual import fingerprint

    df = _docs(spark, [(1, "some document text body"), (2, "some document text body"), (3, "other")])
    rows = {r.doc_id: r for r in fingerprint(df).collect()}
    assert rows[1].full_hash == rows[2].full_hash
    assert rows[1].min_gram_hash == rows[2].min_gram_hash
    assert rows[1].full_hash != rows[3].full_hash


# ---------------------------------------------------------------- multimodal
def test_media_features_deterministic(spark):
    from mistocksync_spark.operators.multimodal import extract_features, media_from_documents

    docs = _docs(spark, [(0, "img payload"), (1, "audio payload"), (2, "video payload")])
    media = media_from_documents(docs)
    feats = {r.media_id: r for r in extract_features(media).collect()}
    assert feats[0].modality == "image" and feats[0].width is not None and feats[0].duration_sec is None
    assert feats[1].modality == "audio" and feats[1].duration_sec is not None and feats[1].width is None
    assert feats[2].modality == "video"
    import hashlib

    assert feats[0].payload_sha == hashlib.sha256(b"img payload").hexdigest()
    assert feats[0].payload_bytes == len(b"img payload")
    # rerun -> identical (seeded from sha, no RNG)
    again = {r.media_id: r for r in extract_features(media).collect()}
    assert again[0].width == feats[0].width and again[1].duration_sec == feats[1].duration_sec


def test_media_decode_stub_raises(spark):
    from mistocksync_spark.operators.multimodal import extract_features, media_from_documents

    docs = _docs(spark, [(0, "x")])
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        extract_features(media_from_documents(docs), deterministic_fake=False).collect()


# ---------------------------------------------------------------- streaming
def test_streaming_hourly_matches_batch(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    batch = {tuple(r) for r in QUERIES["events_hourly"](spark, sf_dir).collect()}
    stream = {tuple(r) for r in QUERIES["events_hourly_stream"](spark, sf_dir).collect()}
    assert stream == batch and len(batch) > 0


# ---------------------------------------------------------------- sessions
def test_sessionize_batch_gap_logic(spark):
    from mistocksync_spark.streaming.sessions import sessionize_batch

    ev = spark.createDataFrame(
        [
            (1, "2026-01-01 10:00:00", 7, 1.0),
            (2, "2026-01-01 10:10:00", 7, 2.0),
            (3, "2026-01-01 11:00:00", 7, 3.0),   # 50 min gap -> new session
            (4, "2026-01-01 10:05:00", 8, 4.0),
        ],
        "event_id long, ts_s string, user_id long, value double",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id", "value")
    rows = {(r.user_id, r.session_idx): r for r in sessionize_batch(ev).collect()}
    assert rows[(7, 1)].n_events == 2 and rows[(7, 1)].sum_value == 3.0
    assert rows[(7, 2)].n_events == 1 and rows[(7, 2)].session_start == "2026-01-01 11:00:00"
    assert rows[(8, 1)].n_events == 1


def test_stateful_sessions_equal_batch(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    batch = {tuple(r) for r in QUERIES["user_sessions"](spark, sf_dir).collect()}
    stream = {tuple(r) for r in QUERIES["user_sessions_stream"](spark, sf_dir).collect()}
    assert stream == batch and len(batch) > 0


def test_sliding_stream_equals_batch(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    batch = {tuple(r) for r in QUERIES["events_sliding"](spark, sf_dir).collect()}
    stream = {tuple(r) for r in QUERIES["events_sliding_stream"](spark, sf_dir).collect()}
    assert stream == batch and len(batch) > 0


def test_exact_dedup_stream_equals_batch(spark, sf_dir):
    """Complete-mode digest aggregation must equal the batch exact_dedup
    row-for-row (same min keep-id and counts)."""
    from mistocksync_spark.plans.queries import QUERIES

    batch = {tuple(r) for r in QUERIES["exact_dedup"](spark, sf_dir).collect()}
    stream = {tuple(r) for r in QUERIES["exact_dedup_stream"](spark, sf_dir).collect()}
    assert stream == batch and len(batch) > 0


def test_throttle_stream_key_set_equals_batch_distinct(spark, sf_dir):
    """dropDuplicatesWithinWatermark keeps an arrival-order-dependent
    representative, so parity is on the key set, not rows."""
    from mistocksync_spark.plans.queries import QUERIES
    from mistocksync_spark.sources.testdata import load_events

    out = QUERIES["events_throttle_stream"](spark, sf_dir)
    got = {(r.user_id, r.event_type, r.minute) for r in out.collect()}
    ev = load_events(spark, sf_dir)
    want = {
        (r.user_id, r.event_type, r.minute)
        for r in ev.select(
            "user_id",
            "event_type",
            F.date_format(F.date_trunc("minute", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "minute"
            ),
        )
        .distinct()
        .collect()
    }
    assert got == want and len(out.collect()) == len(got)  # exactly one row per key


# ---------------------------------------------------------------- dimi flow
def test_dimi_exact_match_string_keys(spark, sf_dir):
    from mistocksync_spark.plans.queries import _j1_dimi

    r = _j1_dimi(spark, sf_dir)
    m = r["matches"].limit(5).collect()
    assert all(row.article.startswith("XM-") for row in m)
    n = r["new_items"].limit(5).collect()
    assert all(row.article.startswith("XM-") for row in n)


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    from mistocksync_spark.operators.vectors import brute_force_topk, ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    exact = [r.vec_id for r in brute_force_topk(emb, q, k=10).collect()]
    approx = [r.vec_id for r in ivf_topk(emb, q, k=10, n_centroids=8, n_probe=4).collect()]
    assert approx[0] == exact[0] == 0  # the query vector itself
    assert len(set(exact) & set(approx)) >= 5  # >=50% recall with 4/8 probes


def test_ivf_train_improves_quantizer(spark, sf_dir):
    """Lloyd refinement must not worsen the quantization objective (mean
    max-cosine of vectors to their centroid), and trained top-k recall vs
    brute force should be at least the seed quantizer's."""
    import numpy as np

    from mistocksync_spark.operators.vectors import (
        brute_force_topk,
        deterministic_centroids,
        ivf_topk,
        ivf_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    V = np.asarray(
        [np.asarray(r["embedding"], dtype="float64") for r in emb.select("embedding").collect()]
    )
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)

    def objective(cents):
        C = np.asarray(cents, dtype="float64")
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
        return float((Vn @ Cn.T).max(axis=1).mean())

    seeds = deterministic_centroids(emb)
    trained = ivf_train(emb, iterations=3)
    assert objective(trained) >= objective(seeds) - 1e-9

    q = [float(x) for x in V[0]]
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    rec_seed = len(
        {r["vec_id"] for r in ivf_topk(emb, q, k=10).collect()} & exact
    )
    rec_trained = len(
        {r["vec_id"] for r in ivf_topk(emb, q, k=10, centroids=trained).collect()} & exact
    )
    assert rec_trained >= rec_seed - 1  # allow one-off probe-boundary noise
    assert rec_trained >= 5


def test_ivf_assign_partitions_corpus(spark, sf_dir):
    from mistocksync_spark.operators.vectors import deterministic_centroids, ivf_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").alias("__vec")
    )
    cents = deterministic_centroids(emb, 8, vec_col="__vec")
    a = ivf_assign(emb, cents, vec_col="__vec")
    assert a.count() == emb.count()
    n_buckets = a.select("centroid").distinct().count()
    assert 2 <= n_buckets <= 8


def test_salted_group_count_equals_plain(spark):
    from mistocksync_spark.operators.aggregates import salted_group_count

    # one pathologically hot key + a long tail
    rows = [("hot", float(i % 7)) for i in range(5000)] + [(f"k{i}", 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "key string, v double")
    plain = {r.key: (r.cnt, round(r.sv, 6)) for r in df.groupBy("key").agg(
        F.count("*").alias("cnt"), F.sum("v").alias("sv")).collect()}
    salted = {r.key: (r.cnt, round(r.sum_v, 6)) for r in salted_group_count(df, "key", agg_col="v").collect()}
    assert salted == plain


def test_incremental_price_merge_equals_batch(spark, sf_dir, tmp_path):
    from mistocksync_spark.plans.queries import QUERIES
    from mistocksync_spark.streaming.merge import incremental_price_merge

    out = str(tmp_path / "merged")
    incremental_price_merge(spark, sf_dir, out, str(tmp_path / "ckpt"))
    streamed = {tuple(r) for r in spark.read.parquet(out).collect()}
    batch = {tuple(r) for r in QUERIES["price_merge"](spark, sf_dir).collect()}
    assert streamed == batch and len(batch) > 0


def test_media_partitioned_write_prunes(spark, tmp_path):
    from mistocksync_spark.operators.multimodal import media_from_documents, write_media_partitioned

    docs = _docs(spark, [(i, f"doc {i}") for i in range(30)])
    p = write_media_partitioned(media_from_documents(docs), str(tmp_path / "media"))
    scan = spark.read.parquet(p).filter(F.col("modality") == "image").select("media_id")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(modality" in plan  # directory pruning
    assert "ReadSchema: struct<media_id:bigint>" in plan  # payload column pruned
    assert scan.count() == 10


def test_stateful_sessions_incremental_two_batches(spark, sf_dir, tmp_path):
    """flush_open=False over two time-ordered micro-batches: closed sessions
    stream out, each user's open tail stays in state (exercises the
    state-merge branch that single-batch AvailableNow never hits)."""
    from mistocksync_spark.sources.testdata import load_events
    from mistocksync_spark.streaming.sessions import sessionize_batch, sessionize_stateful

    ev = load_events(spark, sf_dir).select("event_id", "ts", "user_id", "value")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    cutoff = lo + (hi - lo) / 2
    src = str(tmp_path / "src")
    ev.filter(F.col("ts") < F.lit(cutoff)).coalesce(1).write.parquet(src)
    import time as _t

    _t.sleep(1.1)  # file-source orders batches by mod time
    ev.filter(F.col("ts") >= F.lit(cutoff)).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        sessionize_stateful(stream, flush_open=False)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_incr_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.user_id, r.session_idx): (r.session_start, r.session_end, r.n_events)
        for r in spark.table("sess_incr_sink").collect()
    }

    full = sessionize_batch(ev).collect()
    last_idx = {}
    for r in full:
        last_idx[r.user_id] = max(last_idx.get(r.user_id, 0), r.session_idx)
    expected = {
        (r.user_id, r.session_idx): (r.session_start, r.session_end, r.n_events)
        for r in full
        if r.session_idx != last_idx[r.user_id]
    }
    assert got == expected and len(expected) > 0


def test_tfidf_top_terms_values_and_ranking(spark):
    from math import log

    from mistocksync_spark.operators.textual import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "en", "apple apple banana"),
            (2, "en", "banana cherry"),
            (3, "en", "banana banana banana"),
            (4, "ru", "яблоко"),
        ],
        "doc_id long, lang string, text string",
    )
    out = {(r.stratum, r.term): r for r in tfidf_top_terms(docs, k=10).collect()}
    # 'apple': tf=2, df=1 of 3 en docs -> 2*ln(3)
    r = out[("en", "apple")]
    assert (r.tf, r.df) == (2, 1) and abs(r.tfidf - round(2 * log(3), 6)) < 1e-9
    # 'banana' in every en doc -> idf = ln(1) = 0, ranked below apple/cherry
    assert out[("en", "banana")].tfidf == 0.0
    en_rank = {r.term: r.rk for (s, _), r in out.items() if s == "en"}
    assert en_rank["apple"] == 1 and en_rank["banana"] == 3
    # single-doc stratum: tf*ln(1) = 0 but still emitted
    assert out[("ru", "яблоко")].tfidf == 0.0 and out[("ru", "яблоко")].rk == 1


# ------------------------------------------------------- text pipeline
def test_pii_redact_counts_and_replaces(spark):
    from mistocksync_spark.operators.textual import pii_redact

    df = _docs(
        spark,
        [
            (1, "mail a@b.io and c.d+x@e.org call +7 999 123-45-67 ip 10.0.0.1"),
            (2, "clean text only"),
        ],
    )
    rows = {r.doc_id: r for r in pii_redact(df).collect()}
    assert (rows[1].n_emails, rows[1].n_phones, rows[1].n_ips) == (2, 1, 1)
    assert rows[1].text_redacted == "mail [EMAIL] and [EMAIL] call [PHONE] ip [IP]"
    assert (rows[2].n_emails, rows[2].n_phones, rows[2].n_ips) == (0, 0, 0)
    assert rows[2].text_redacted == "clean text only"


def test_boilerplate_detect_and_strip_preserves_order(spark):
    from mistocksync_spark.operators.textual import boilerplate_paragraphs, boilerplate_strip

    df = _docs(
        spark,
        [
            (1, "footer\nunique one\nmiddle one"),
            (2, "unique two\nfooter"),
            (3, "footer\nunique three"),
            (4, "footer"),  # becomes empty after stripping
        ],
    )
    boiler = {r.para: r.n_docs for r in boilerplate_paragraphs(df, min_docs=3).collect()}
    assert boiler == {"footer": 4}
    out = {r.doc_id: r.text_clean for r in boilerplate_strip(df, min_docs=3).collect()}
    # paragraph order inside each doc is preserved; all-boilerplate doc
    # survives as an empty row (row count parity with the input)
    assert out == {
        1: "unique one\nmiddle one",
        2: "unique two",
        3: "unique three",
        4: "",
    }


def test_doc_chunks_overlap_and_tail(spark):
    from mistocksync_spark.operators.textual import doc_chunks

    words = " ".join(f"w{i}" for i in range(10))
    df = _docs(spark, [(1, words), (2, "short text")])
    rows = sorted(
        doc_chunks(df, chunk_size=4, stride=3).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.n_tokens, r.chunk_text))
    # 10 tokens, stride 3 -> starts 0,3,6,9; chunk k covers [3k, 3k+4)
    assert by_doc[1] == [
        (0, 4, "w0 w1 w2 w3"),
        (1, 4, "w3 w4 w5 w6"),
        (2, 4, "w6 w7 w8 w9"),
        (3, 1, "w9"),
    ]
    assert by_doc[2] == [(0, 2, "short text")]


# ------------------------------------------------------ journey analytics
def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_transition_matrix_counts_and_probs(spark):
    from datetime import datetime

    from mistocksync_spark.operators.temporal import transition_matrix

    t = lambda s: datetime(2026, 1, 1, 0, 0, s)
    df = _ev(
        spark,
        [
            (1, t(0), 1, "view", 0.0),
            (2, t(1), 1, "click", 0.0),
            (3, t(2), 1, "view", 0.0),
            (4, t(3), 1, "click", 0.0),
            (5, t(0), 2, "view", 0.0),
            (6, t(1), 2, "buy", 0.0),
            # user 3: single event -> no transition
            (7, t(0), 3, "view", 0.0),
        ],
    )
    got = {(r.from_type, r.to_type): (r.cnt, r.prob) for r in transition_matrix(df).collect()}
    assert got == {
        ("view", "click"): (2, round(2 / 3, 6)),
        ("click", "view"): (1, 1.0),
        ("view", "buy"): (1, round(1 / 3, 6)),
    }


def test_transition_matrix_tie_break_on_event_id(spark):
    from datetime import datetime

    from mistocksync_spark.operators.temporal import transition_matrix

    ts = datetime(2026, 1, 1)
    # identical timestamps: order falls back to event_id, so a->b->c
    df = _ev(spark, [(1, ts, 1, "a", 0.0), (2, ts, 1, "b", 0.0), (3, ts, 1, "c", 0.0)])
    got = {(r.from_type, r.to_type) for r in transition_matrix(df).collect()}
    assert got == {("a", "b"), ("b", "c")}


def test_retention_cohorts_matrix(spark):
    from datetime import datetime

    from mistocksync_spark.operators.temporal import retention_cohorts

    d = lambda day, u: (day * 10 + u, datetime(2026, 1, day, 12), u, "view", 0.0)
    # cohort Jan-1: users 1,2 (day0), user 1 back on day2
    # cohort Jan-2: user 3 only
    df = _ev(spark, [d(1, 1), d(1, 2), d(3, 1), d(2, 3)])
    got = {
        (r.cohort_day, r.day_offset): (r.n_users, r.cohort_size, r.retention)
        for r in retention_cohorts(df).collect()
    }
    assert got == {
        ("2026-01-01", 0): (2, 2, 1.0),
        ("2026-01-01", 2): (1, 2, 0.5),
        ("2026-01-02", 0): (1, 1, 1.0),
    }


def test_gapfill_locf_fills_missing_hours(spark):
    from datetime import datetime

    from mistocksync_spark.operators.temporal import gapfill_locf

    df = _ev(
        spark,
        [
            (1, datetime(2026, 1, 1, 0, 30), 1, "a", 10.0),
            (2, datetime(2026, 1, 1, 0, 45), 1, "a", 20.0),
            # hour 1 and 2 empty for 'a'
            (3, datetime(2026, 1, 1, 3, 0), 1, "a", 7.0),
            (4, datetime(2026, 1, 1, 5, 0), 1, "b", 1.0),
        ],
    )
    rows = {(r.key, r.bucket): r for r in gapfill_locf(df).collect()}
    assert len(rows) == 5  # a: hours 0..3 inclusive, b: hour 5 only
    a1 = rows[("a", "2026-01-01 01:00:00")]
    assert a1.avg_value is None and a1.value_locf == 15.0 and a1.is_gap == 1
    a3 = rows[("a", "2026-01-01 03:00:00")]
    assert a3.avg_value == 7.0 and a3.value_locf == 7.0 and a3.is_gap == 0
    assert rows[("b", "2026-01-01 05:00:00")].value_locf == 1.0


def test_zscore_outliers_flags_planted_spike(spark):
    from datetime import datetime

    from mistocksync_spark.operators.aggregates import zscore_outliers

    ts = datetime(2026, 1, 1)
    rows = [(i, ts, 1, "a", float(v)) for i, v in enumerate([10.0] * 20 + [11.0] * 20)]
    rows.append((99, ts, 1, "a", 1000.0))  # the spike
    rows.append((100, ts, 1, "b", 5.0))  # zero-variance group: no outliers
    out = zscore_outliers(_ev(spark, rows)).collect()
    assert [r.event_id for r in out] == [99]
    assert out[0].zscore > 3.0 and out[0].value_r == 1000.0


# ---------------------------------------------------------- quality gates
def test_gopher_rules_planted_cases(spark):
    from mistocksync_spark.operators.textual import gopher_rules

    good = " ".join(f"word{i}" for i in range(60))  # 60 words, mean len ~6
    short = "tiny doc"
    bullets = "\n".join(f"- item {i}" for i in range(10)) + "\npadding " * 1
    symbols = " ".join(["###"] * 50 + ["plain"] * 10)
    df = _docs(spark, [(1, good), (2, short), (3, bullets), (4, symbols)])
    got = {r.doc_id: r for r in gopher_rules(df).collect()}
    assert got[1].pass_gopher == 1
    assert got[2].pass_gopher == 0 and got[2].n_words == 2
    # 10 of 11 lines are bullets -> bullet_frac > 0.9 (and too few words)
    assert got[3].bullet_frac > 0.9 and got[3].pass_gopher == 0
    assert got[4].symbol_ratio > 0.1 and got[4].pass_gopher == 0


def test_gopher_rules_empty_and_null_text(spark):
    from mistocksync_spark.operators.textual import gopher_rules

    df = _docs(spark, [(1, ""), (2, None), (3, "   ")])
    got = {r.doc_id: r for r in gopher_rules(df).collect()}
    for i in (1, 2, 3):
        assert got[i].n_words == 0 and got[i].pass_gopher == 0
        assert got[i].mean_word_len == 0.0 and got[i].symbol_ratio == 0.0


def test_rare_token_score_vocab_threshold(spark):
    from mistocksync_spark.operators.textual import rare_token_score

    # 10 docs of "common", 1 doc with "common rare": total 21 tokens.
    # rel_threshold 0.1 -> vocab needs >= ceil(2.1) = 3 occurrences.
    rows = [(i, "common common") for i in range(10)]
    rows.append((10, "common rareword"))
    out = {r.doc_id: r for r in rare_token_score(_docs(spark, rows), rel_threshold=0.1).collect()}
    assert out[0].oov_fraction == 0.0 and out[0].n_tokens == 2
    assert out[10].n_in_vocab == 1 and out[10].oov_fraction == 0.5


def test_rare_token_score_drops_empty_docs(spark):
    from mistocksync_spark.operators.textual import rare_token_score

    df = _docs(spark, [(1, "a a a a"), (2, ""), (3, None)])
    out = rare_token_score(df, rel_threshold=0.5).collect()
    assert [r.doc_id for r in out] == [1]
    assert out[0].oov_fraction == 0.0


def test_transitions_stream_equals_batch(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    got = {
        (r.from_type, r.to_type): (r.cnt, r.prob)
        for r in QUERIES["event_transitions_stream"](spark, sf_dir).collect()
    }
    want = {
        (r.from_type, r.to_type): (r.cnt, r.prob)
        for r in QUERIES["event_transitions"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 0


def test_transitions_stream_incremental_two_batches(spark, sf_dir, tmp_path):
    """Two time-ordered micro-batches: the cross-batch pair (last event of
    batch 1 → first event of batch 2 per user) must come from carried
    state — the branch a single AvailableNow batch never hits."""
    from mistocksync_spark.operators.temporal import transition_counts, transition_matrix
    from mistocksync_spark.sources.testdata import load_events
    from mistocksync_spark.streaming.transitions import transition_pairs_stateful

    ev = load_events(spark, sf_dir).select("event_id", "ts", "user_id", "event_type")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    cutoff = lo + (hi - lo) / 2
    src = str(tmp_path / "src")
    ev.filter(F.col("ts") < F.lit(cutoff)).coalesce(1).write.parquet(src)
    import time as _t

    _t.sleep(1.1)  # file-source orders batches by mod time
    ev.filter(F.col("ts") >= F.lit(cutoff)).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        transition_pairs_stateful(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("trans_incr_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    got = {
        (r.from_type, r.to_type): (r.cnt, r.prob)
        for r in transition_counts(spark.table("trans_incr_sink")).collect()
    }
    want = {
        (r.from_type, r.to_type): (r.cnt, r.prob)
        for r in transition_matrix(load_events(spark, sf_dir)).collect()
    }
    assert got == want and len(want) > 0


def test_quantize_int8_exact_values(spark):
    from mistocksync_spark.operators.vectors import quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0]), (3, [2.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r for r in quantize_int8(df).collect()}
    # vec 1: scale 127, codes [127, -64 (round(-63.5) away from zero), 32]
    assert got[1].scale_r == 127.0 and got[1].sum_q == 127 - 64 + 32
    assert got[1].recon_err_r == round((0.25 - 32 / 127.0) ** 2 + (0.5 - 64 / 127.0) ** 2, 9)
    # all-zero vector: scale 0, codes 0, error 0
    assert (got[2].scale_r, got[2].sum_q, got[2].recon_err_r) == (0.0, 0, 0.0)
    assert got[3].scale_r == 63.5 and got[3].sum_q == 127 and got[3].recon_err_r == 0.0


def test_value_histogram_buckets_and_max_edge(spark):
    from mistocksync_spark.operators.aggregates import value_histogram

    df = spark.createDataFrame([(float(v),) for v in range(10)], "value double")
    got = {r.bin: r for r in value_histogram(df, nbins=5).collect()}
    # range [0,9], width 1.8: bins 0..4 get 2 each; v=9 (the max) stays in bin 4
    assert {b: r.cnt for b, r in got.items()} == {0: 2, 1: 2, 2: 2, 3: 2, 4: 2}
    assert got[0].bin_lo == 0.0 and got[4].bin_hi == 9.0


def test_value_histogram_degenerate_single_value(spark):
    from mistocksync_spark.operators.aggregates import value_histogram

    df = spark.createDataFrame([(5.0,), (5.0,), (5.0,)], "value double")
    rows = value_histogram(df, nbins=4).collect()
    assert len(rows) == 1 and rows[0].bin == 0 and rows[0].cnt == 3


def test_numeric_profile_counts_nulls_and_stats(spark):
    from mistocksync_spark.operators.aggregates import numeric_profile

    df = spark.createDataFrame(
        [(1.0, 10.0), (3.0, None), (None, 30.0)], "a double, b double"
    )
    got = {r.column_name: r for r in numeric_profile(df, ["a", "b"]).collect()}
    assert (got["a"].n_values, got["a"].n_nulls) == (2, 1)
    assert (got["a"].min_v, got["a"].max_v) == (1.0, 3.0)
    # exact integer micro-mean / centi-sum (floor semantics)
    assert (got["a"].avg_micro, got["a"].sum_centi) == (2_000_000, 400)
    assert (got["b"].n_values, got["b"].avg_micro) == (2, 20_000_000)


def test_pq_topk_recall_vs_brute_force(spark, sf_dir):
    from mistocksync_spark.operators.vectors import brute_force_topk, pq_topk, pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    books = pq_train(emb, m=32, k=32, iterations=2)
    exact = [r.vec_id for r in brute_force_topk(emb, q, k=10).collect()]
    approx = [r.vec_id for r in pq_topk(emb, q, books, k=10).collect()]
    # 32×32 codebooks (dsub=2, 8× compression) on 64-dim vectors:
    # self-match survives compression and most true neighbors rank in
    # the ADC top-10 (measured 8/10 at sf0.001; gate at >=5)
    assert approx[0] == 0
    assert len(set(exact) & set(approx)) >= 5


def test_pq_train_reduces_quantization_error(spark, sf_dir):
    """Lloyd refinement must not worsen the PQ reconstruction error
    (mean squared distance of normalized sub-vectors to their codeword)."""
    import numpy as np

    from mistocksync_spark.operators.vectors import pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    V = np.asarray(
        [np.asarray(r["embedding"], dtype="float64") for r in emb.select("embedding").collect()]
    )
    V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)

    def mse(books):
        B = np.asarray(books)
        m, _, dsub = B.shape
        err = 0.0
        for s in range(m):
            Vs = V[:, s * dsub : (s + 1) * dsub]
            d = ((Vs[:, None, :] - B[s][None, :, :]) ** 2).sum(axis=2)
            err += d.min(axis=1).mean()
        return err

    seed_books = pq_train(emb, m=8, k=16, iterations=0)
    trained = pq_train(emb, m=8, k=16, iterations=2)
    assert mse(trained) <= mse(seed_books) + 1e-12


def test_url_audit_counts_and_blocklist(spark):
    from mistocksync_spark.operators.textual import url_audit

    df = _docs(
        spark,
        [
            (1, "see https://a.example.org/x and http://tracker.blocked.example.com/c?id=1"),
            (2, "no links here"),
            (3, "https://b.example.org/"),
        ],
    )
    got = {r.doc_id: r for r in url_audit(df, blocklist=("tracker.blocked.example.com",)).collect()}
    assert (got[1].n_urls, got[1].n_blocked, got[1].keep) == (2, 1, 0)
    assert (got[2].n_urls, got[2].keep) == (0, 1)
    assert (got[3].n_urls, got[3].n_blocked, got[3].keep) == (1, 0, 1)


def test_domain_histogram_distinct_docs_vs_mentions(spark):
    from mistocksync_spark.operators.textual import domain_histogram

    df = _docs(
        spark,
        [
            (1, "https://a.org/1 https://a.org/2"),
            (2, "https://a.org/3"),
            (3, "https://b.org/"),
        ],
    )
    got = {r.domain: (r.n_docs, r.n_mentions) for r in domain_histogram(df).collect()}
    assert got == {"a.org": (2, 3), "b.org": (1, 1)}


def test_q3_plan_executes_and_orders(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["q3_shipping_priority"](spark, sf_dir).collect()
    assert len(rows) <= 10
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_similarity_graph_degrees_counts(spark):
    from mistocksync_spark.operators.dedup import similarity_graph_degrees

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    # docs 1,2,3 each have degree 2; docs 4,5 degree 1
    got = {r.degree: r.n_docs for r in similarity_graph_degrees(pairs).collect()}
    assert got == {2: 3, 1: 2}


def test_discrete_quantiles_rank_selection(spark):
    """Type-1 quantiles select ACTUAL data values at ceil(n*p) ranks —
    no interpolation (the cross-engine 1-ulp divergence surface) — and
    the SQL twin replays the identical selection in DuckDB."""
    import duckdb

    from mistocksync_spark.operators.aggregates import (
        discrete_quantiles,
        sql_discrete_quantiles,
    )

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 11)] + [("b", 7.5), ("b", 2.5)],
        "k string, v double",
    )
    probs = {"q50": (1, 2), "q99": (99, 100)}
    got = {r.k: r for r in discrete_quantiles(df, "k", "v", probs).collect()}
    # n=10: median rank ceil(5.0)=5 -> 5.0 (not the interpolated 5.5);
    # p99 rank ceil(9.9)=10 -> 10.0
    assert (got["a"].q50, got["a"].q99) == (5.0, 10.0)
    # n=2: ceil(1.0)=1 -> 2.5; ceil(1.98)=2 -> 7.5
    assert (got["b"].q50, got["b"].q99) == (2.5, 7.5)

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, v DOUBLE)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)",
        [(r.k, r.v) for r in df.collect()],
    )
    orows = {
        r[0]: r[1:]
        for r in con.execute(
            sql_discrete_quantiles("t", "k", "v", probs)
        ).fetchall()
    }
    assert orows == {"a": (5.0, 10.0), "b": (2.5, 7.5)}


def test_oracle_outputs_never_hugeint_or_decimal(spark, sf_dir):
    """CORRECTNESS_r07 root-cause regression: DuckDB SUM(BIGINT) returns
    HUGEINT, which a pandas-path fetch (the driver's compare) renders as
    float64 ('0.0' vs Spark's '0') while fetchall() hides it.  The four
    repaired oracles must plan to BIGINT/DOUBLE outputs only."""
    import duckdb

    from mistocksync_spark.plans.queries import ORACLES

    con = duckdb.connect()
    for t in ["lineitem", "events", "documents"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    for name in (
        "lineitem_profile",
        "events_winsorized",
        "chunk_dup_rate",
        "events_mad_outliers",
    ):
        rel = con.sql(ORACLES[name])
        for col, typ in zip(rel.columns, rel.types):
            assert str(typ).upper() not in ("HUGEINT", "UHUGEINT") and not str(
                typ
            ).upper().startswith("DECIMAL"), f"{name}.{col} is {typ}"


def test_winsorized_stats_clips_planted_outlier(spark):
    from datetime import datetime

    from mistocksync_spark.operators.aggregates import winsorized_stats

    ts = datetime(2026, 1, 1)
    rows = [(i, ts, 1, "a", float(i)) for i in range(1, 100)]  # 1..99
    rows.append((100, ts, 1, "a", 1_000_000.0))  # the tail that lies
    got = winsorized_stats(_ev(spark, rows)).collect()[0]
    assert got.n == 100 and got.n_clipped_high >= 1
    # the discrete p99 is the 99th of 100 sorted values (=99.0), so the
    # winsorized mean lands near the bulk (~50) instead of the raw ~10050
    assert got.mean_winsorized_micro < 200_000_000


def test_frame_sample_manifest_schedule(spark):
    from mistocksync_spark.operators.multimodal import frame_sample_manifest

    media = spark.createDataFrame(
        [
            (1, "video", 10.0),   # 10s / 2s stride -> 5 samples
            (2, "video", 100.0),  # capped at 16, stride stretches to 6.25
            (3, "image", None),   # single t=0 sample
        ],
        "media_id long, modality string, duration_sec double",
    )
    rows = frame_sample_manifest(media, stride_sec=2.0, max_frames=16).collect()
    by = {}
    for r in rows:
        by.setdefault(r.media_id, []).append((r.sample_idx, r.sample_t_sec, r.n_samples))
    assert len(by[1]) == 5 and by[1][0][2] == 5
    assert sorted(t for _, t, _ in by[1]) == [0.0, 2.0, 4.0, 6.0, 8.0]
    assert len(by[2]) == 16 and sorted(t for _, t, _ in by[2])[1] == 6.25
    assert by[3] == [(0, 0.0, 1)]


def test_referential_audit_counts_planted_orphans(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    got = {r.check_name: r.n_violations for r in QUERIES["orders_referential_audit"](spark, sf_dir).collect()}
    # the synthetic star is referentially clean — every audit row exists and reads 0
    assert set(got) == {
        "orders_without_customer",
        "lineitems_without_order",
        "customers_without_nation",
    }
    assert all(v == 0 for v in got.values())


def test_pivot_daily_matrix_counts(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES
    from mistocksync_spark.sources.testdata import load_events

    rows = QUERIES["events_pivot_daily"](spark, sf_dir).collect()
    total = sum(r.click + r.error + r.purchase + r.signup + r.view for r in rows)
    assert total == load_events(spark, sf_dir).count()


def test_rollup_grand_total_and_subtotals(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES
    from mistocksync_spark.sources.testdata import load_events

    rows = QUERIES["events_rollup"](spark, sf_dir).collect()
    n = load_events(spark, sf_dir).count()
    grand = [r for r in rows if r.event_type is None and r.day is None]
    assert len(grand) == 1 and grand[0].cnt == n
    subtotals = {r.event_type: r.cnt for r in rows if r.event_type is not None and r.day is None}
    cells = {}
    for r in rows:
        if r.event_type is not None and r.day is not None:
            cells[r.event_type] = cells.get(r.event_type, 0) + r.cnt
    assert subtotals == cells and sum(subtotals.values()) == n


def test_corpus_prepare_gate_order_and_reasons(spark):
    from mistocksync_spark.operators.textual import corpus_prepare

    good = " ".join(f"word{i}" for i in range(60))
    df = _docs(
        spark,
        [
            (1, good),          # keeper (also dedup representative)
            (2, good),          # exact duplicate -> 'duplicate' wins over any gate
            (3, "tiny"),        # fails gopher word count
            (4, good + " zz"),  # near-identical but distinct digest -> keeper
        ],
    )
    got = {r.doc_id: (r.reason, r.keep) for r in corpus_prepare(df).collect()}
    assert got[1] == ("ok", 1)
    assert got[2] == ("duplicate", 0)
    assert got[3] == ("gopher", 0)
    assert got[4] == ("ok", 1)


def test_corpus_prepare_rare_token_gate(spark):
    from mistocksync_spark.operators.textual import corpus_prepare

    # 60-word docs passing gopher; doc 9's tokens each appear once, far
    # below the 2% mass threshold (vocab floor = 12 of 600 tokens)
    common = " ".join(["alpha beta gamma delta epsilon zeta"] * 10)
    rare = " ".join(f"xq{i}z" for i in range(60))
    rows = [(i, common) for i in range(9)]
    rows.append((9, rare))
    got = {r.doc_id: r.reason for r in corpus_prepare(
        _docs(spark, rows), oov_threshold=0.5, rel_threshold=0.02).collect()}
    assert got[9] == "rare_tokens"
    # the identical common docs: one representative keeps, the rest are dups
    assert sorted(got[i] for i in range(9)) == ["duplicate"] * 8 + ["ok"]


def test_value_deciles_partition_and_sizes(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES
    from mistocksync_spark.sources.testdata import load_events

    rows = QUERIES["events_value_deciles"](spark, sf_dir).collect()
    per_type = {}
    for r in rows:
        per_type.setdefault(r.event_type, []).append(r)
    counts = load_events(spark, sf_dir).groupBy("event_type").count().collect()
    for c in counts:
        ds = sorted(per_type[c.event_type], key=lambda r: r.decile)
        assert [d.decile for d in ds] == list(range(1, 11))
        assert sum(d.n for d in ds) == c["count"]
        # ntile: bucket sizes differ by at most one, larger buckets first
        sizes = [d.n for d in ds]
        assert max(sizes) - min(sizes) <= 1 and sizes == sorted(sizes, reverse=True)
        # deciles partition the value range in order
        for a, b in zip(ds, ds[1:]):
            assert a.hi <= b.lo


def test_seasonal_naive_forecast_shifts_last_day(spark):
    from datetime import datetime

    from mistocksync_spark.operators.temporal import seasonal_naive_forecast

    rows = [
        (1, datetime(2026, 1, 1, 10, 0), 1, "a", 5.0),
        (2, datetime(2026, 1, 2, 9, 0), 1, "a", 7.0),
        (3, datetime(2026, 1, 2, 10, 0), 1, "a", 9.0),  # anchor bucket
    ]
    got = {r.bucket: (r.pred_value, r.basis_bucket) for r in
           seasonal_naive_forecast(_ev(spark, rows)).collect()}
    # horizon = buckets within 24h of the anchor, shifted one day forward;
    # the day-1 10:00 bucket is exactly 24h before the anchor -> excluded
    assert got == {
        "2026-01-03 09:00:00": (7.0, "2026-01-02 09:00:00"),
        "2026-01-03 10:00:00": (9.0, "2026-01-02 10:00:00"),
    }


def test_mad_outliers_resist_mean_drag(spark):
    from datetime import datetime

    from mistocksync_spark.operators.aggregates import mad_outliers, zscore_outliers

    ts = datetime(2026, 1, 1)
    # ten huge outliers drag mean/stddev enough that plain z misses some;
    # median/MAD stays anchored at the bulk and flags all ten
    rows = [(i, ts, 1, "a", float(100 + (i % 7))) for i in range(200)]
    rows += [(1000 + i, ts, 1, "a", 50_000.0) for i in range(10)]
    df = _ev(spark, rows)
    mad_ids = {r.event_id for r in mad_outliers(df, k=5.0).collect()}
    assert mad_ids == {1000 + i for i in range(10)}
    z_ids = {r.event_id for r in zscore_outliers(df, threshold=3.0).collect()}
    assert z_ids <= mad_ids  # z never flags more than MAD here


def test_mixture_apply_rates_and_determinism(spark):
    from mistocksync_spark.operators.textual import mixture_apply, mixture_plan

    rows = [(i, "w " * 100, "en", "big") for i in range(200)]
    rows += [(1000 + i, "w " * 10, "en", "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    plan = mixture_plan(df, token_budget=2000)  # 1000/stratum: big downsamples ~5%
    out1 = {r.doc_id for r in mixture_apply(df, plan).collect()}
    out2 = {r.doc_id for r in mixture_apply(df, plan).collect()}
    assert out1 == out2  # deterministic coin
    small = {d for d in out1 if d >= 1000}
    big = out1 - small
    assert small == {1000 + i for i in range(10)}  # rate 1.0 keeps ALL rows
    assert 0 < len(big) < 200  # the big stratum actually downsampled


def test_forecast_backtest_scores_known_series(spark):
    from datetime import datetime, timedelta

    from mistocksync_spark.operators.temporal import seasonal_naive_backtest

    t0 = datetime(2026, 1, 1)
    rows = []
    # 48 hourly points: day 1 = 10.0 constant, day 2 = 12.0 constant
    for h in range(48):
        rows.append((h, t0 + timedelta(hours=h), 1, "a", 10.0 if h < 24 else 12.0))
    got = seasonal_naive_backtest(_ev(spark, rows)).collect()
    assert len(got) == 1
    r = got[0]
    # every day-2 bucket predicted from day 1: |12-10| = 2 everywhere
    assert r.n_scored == 24 and r.mae == 2.0
    assert r.smape == round(2 / 11, 6)


def test_stickiness_rolling_distinct(spark):
    from datetime import datetime

    from mistocksync_spark.operators.temporal import stickiness

    d = lambda day, u: (day * 100 + u, datetime(2026, 1, day), u, "view", 0.0)
    # user 1 active days 1 and 3; user 2 active day 2 only
    df = _ev(spark, [d(1, 1), d(3, 1), d(2, 2)])
    got = {r.day: (r.dau, r.wau, r.stickiness) for r in stickiness(df, window_days=7).collect()}
    # trailing-7d distinct users: day1 {1}, day2 {1,2}, day3 {1,2}
    assert got == {
        "2026-01-01": (1, 1, 1.0),
        "2026-01-02": (1, 2, 0.5),
        "2026-01-03": (1, 2, 0.5),
    }


def test_rfm_scores_partition_customers(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["customer_rfm"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 1 <= r.r_score <= 4 and 1 <= r.f_score <= 4 and 1 <= r.m_score <= 4
    # quartile scoring: no single score bucket swallows everything
    from collections import Counter

    m_counts = Counter(r.m_score for r in rows)
    assert len(m_counts) >= 3 and max(m_counts.values()) < len(rows)


def test_chunk_dup_rate_detects_partial_copy(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["chunk_dup_rate"](spark, sf_dir).collect()
    assert len(rows) == 500
    for r in rows:
        assert 0 <= r.dup_rate_ppm <= 1_000_000 and r.n_dup_chunks <= r.n_chunks


def test_containment_catches_subset_copy_jaccard_misses(spark):
    from mistocksync_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
        shingle_table,
    )

    short = "один два три четыре пять"
    long = short + " " + " ".join(f"слово{i}" for i in range(40))
    df = _docs(spark, [(1, short), (2, long)])
    sh = shingle_table(df)
    # short doc fully contained -> containment 1.0, but Jaccard tiny
    cont = containment_pairs(sh, threshold=0.9).collect()
    assert len(cont) == 1 and cont[0].containment == 1.0
    assert ngram_jaccard_pairs(sh, threshold=0.5).collect() == []


def test_triangle_count_closed_vs_open(spark):
    from mistocksync_spark.operators.dedup import triangle_count

    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "doc_a long, doc_b long"
    )  # one triangle (1,2,3); edge (3,4) closes nothing
    assert triangle_count(tri).collect()[0].n_triangles == 1
    chain = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    assert triangle_count(chain).collect()[0].n_triangles == 0


def test_clustering_coefficient_extremes(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    r = QUERIES["dedup_graph_clustering"](spark, sf_dir).collect()[0]
    assert r.n_wedges >= r.n_triangles >= 0
    assert 0.0 <= r.clustering_coeff <= 1.0


def test_event_trigrams_counts(spark):
    from datetime import datetime

    from mistocksync_spark.plans.queries import QUERIES  # noqa: F401 (registry import)
    from mistocksync_spark.sources.testdata import load_events  # noqa: F401

    # direct small-fixture check of the double-lag shape via SQL-free path
    from pyspark.sql import Window
    from pyspark.sql import functions as F2

    t = lambda s: datetime(2026, 1, 1, 0, 0, s)
    df = _ev(
        spark,
        [(1, t(0), 1, "a", 0.0), (2, t(1), 1, "b", 0.0), (3, t(2), 1, "c", 0.0), (4, t(3), 1, "a", 0.0)],
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = df.select(
        F2.lag("event_type", 2).over(w).alias("e1"),
        F2.lag("event_type", 1).over(w).alias("e2"),
        F2.col("event_type").alias("e3"),
    ).filter(F2.col("e1").isNotNull())
    got = {(r.e1, r.e2, r.e3) for r in seq.collect()}
    assert got == {("a", "b", "c"), ("b", "c", "a")}


def test_yoy_growth_no_single_partition(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    df = QUERIES["orders_yoy_growth"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    rows = df.collect()
    by_month = {}
    for r in rows:
        by_month.setdefault(r.month_num, []).append(r)
    for month, rs in by_month.items():
        rs.sort(key=lambda r: r.year)
        assert rs[0].prev_year_orders is None  # first year has no YoY
        for a, b in zip(rs, rs[1:]):
            assert b.prev_year_orders == a.n_orders


def test_source_mix_drift_planted_shift(spark):
    from mistocksync_spark.plans.queries import QUERIES  # noqa: F401
    from pyspark.sql import functions as F2

    # plant a drifted corpus: source 'x' only on even ids, 'y' only on odd
    rows = [(i, "t", "en", "x" if i % 2 == 0 else "y") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    counts = df.groupBy("source").agg(
        F2.count(F2.when(F2.col("doc_id") % 2 == 0, 1)).alias("n_a"),
        F2.count(F2.when(F2.col("doc_id") % 2 != 0, 1)).alias("n_b"),
    ).collect()
    got = {r.source: (r.n_a, r.n_b) for r in counts}
    assert got == {"x": (50, 0), "y": (0, 50)}  # maximal drift fixture holds


def test_interarrival_gap_values(spark):
    from datetime import datetime, timedelta

    from mistocksync_spark.plans.queries import QUERIES
    import tempfile, os

    t0 = datetime(2026, 1, 1)
    rows = [(i, t0 + timedelta(seconds=10 * i), 1, "a", 0.0) for i in range(4)]
    rows += [(10, t0, 2, "a", 0.0), (11, t0 + timedelta(seconds=5), 2, "a", 0.0)]
    df = _ev(spark, rows)
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "events.parquet")
        df.write.parquet(path)
        out = {r.event_type: r for r in QUERIES["events_interarrival"](spark, d).collect()}
    a = out["a"]
    # gaps (exact integer us): user1 -> 10s x3; user2 -> 5s; discrete
    # median of [5,10,10,10] = value at rank ceil(4/2)=2 -> 10s
    assert a.n_gaps == 4 and a.median_gap_us == 10_000_000
    assert a.min_gap_us == 5_000_000 and a.max_gap_us == 10_000_000


def test_prefix_filter_jaccard_parity_and_pruning(spark, sf_dir):
    from mistocksync_spark.operators.dedup import (
        jaccard_prefix_pairs,
        ngram_jaccard_pairs,
        shingle_table,
    )
    from mistocksync_spark.plans.feeds import docs_aug

    sh = shingle_table(docs_aug(spark, sf_dir))
    plain = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard_pairs(sh, 0.5).collect()}
    pref = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_prefix_pairs(sh, 0.5).collect()}
    assert pref == plain and len(plain) > 0  # 100% recall, identical scores


def test_gapfill_interp_linear_values_and_edges(spark):
    from datetime import datetime

    from mistocksync_spark.operators.temporal import gapfill_interp

    df = _ev(
        spark,
        [
            (1, datetime(2026, 1, 1, 0, 30), 1, "a", 10.0),
            # hours 1, 2 missing -> interpolate toward 16 at hour 3
            (2, datetime(2026, 1, 1, 3, 0), 1, "a", 16.0),
        ],
    )
    rows = {r.bucket: r for r in gapfill_interp(df).collect()}
    assert rows["2026-01-01 01:00:00"].value_interp == 12.0
    assert rows["2026-01-01 02:00:00"].value_interp == 14.0
    assert rows["2026-01-01 00:00:00"].value_interp == 10.0  # observed passthrough
    assert rows["2026-01-01 03:00:00"].is_gap == 0


def test_session_purchases_attribution(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES
    from mistocksync_spark.sources.testdata import load_events

    rows = QUERIES["session_purchases"](spark, sf_dir).collect()
    ev = load_events(spark, sf_dir)
    total_purchases = ev.filter(F.col("event_type") == "purchase").count()
    # every session appears once; every purchase attributed exactly once
    assert len({(r.user_id, r.session_idx) for r in rows}) == len(rows)
    assert sum(r.n_purchases for r in rows) == total_purchases
    assert any(r.n_purchases == 0 for r in rows)  # purchase-less sessions kept


def test_stickiness_approx_within_sketch_error(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    exact = {r.day: (r.dau, r.wau) for r in QUERIES["events_stickiness"](spark, sf_dir).collect()}
    est = {r.day: (r.dau_est, r.wau_est) for r in QUERIES["events_stickiness_approx"](spark, sf_dir).collect()}
    assert set(exact) == set(est)
    for day, (dau, wau) in exact.items():
        de, we = est[day]
        assert abs(de - dau) <= max(3, 0.1 * dau)  # HLL++ rsd=2%, slack 10%
        assert abs(we - wau) <= max(3, 0.1 * wau)


def test_brand_inventory_first_brand_wins(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["brand_capacity_inventory"](spark, sf_dir).collect()
    assert len(rows) > 0
    brands = {r.brand for r in rows}
    assert "UNBRANDED" in brands or len(brands) > 1
    assert all(r.n_items > 0 for r in rows)


def test_dow_hour_heatmap_covers_and_conserves(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES
    from mistocksync_spark.sources.testdata import load_events

    rows = QUERIES["events_dow_hour_heatmap"](spark, sf_dir).collect()
    assert all(1 <= r.dow <= 7 and 0 <= r.hour <= 23 for r in rows)
    assert sum(r.cnt for r in rows) == load_events(spark, sf_dir).count()


def test_ivf_train_partition_order_independent(spark, sf_dir):
    """The micro-int accumulation contract: trained centroids must be
    bit-identical under any partitioning (the property the
    embedding_topk_ivf_trained_recall oracle relies on)."""
    from mistocksync_spark.operators.vectors import ivf_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = ivf_train(emb.repartition(1), n_centroids=8, iterations=2)
    b = ivf_train(emb.repartition(7), n_centroids=8, iterations=2)
    assert a == b  # exact float equality, not approx


def test_pq_train_partition_order_independent(spark, sf_dir):
    from mistocksync_spark.operators.vectors import pq_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = pq_train(emb.repartition(1), m=8, k=8, iterations=2)
    b = pq_train(emb.repartition(5), m=8, k=8, iterations=2)
    assert a == b


def test_ann_recall_queries_scalar_shape(spark, sf_dir):
    """The three graded ANN recall scalars: full-k result sets on both
    sides and a recall quotient in [0, 1]; brute self-recall is exactly 1
    so any tier reporting > 1 or short sets is broken plumbing."""
    from mistocksync_spark.plans.queries import QUERIES

    for name in (
        "embedding_topk_ivf_recall",
        "embedding_topk_ivf_trained_recall",
        "embedding_topk_pq_recall",
    ):
        (r,) = QUERIES[name](spark, sf_dir).collect()
        assert r.n_exact == 20 and r.n_ann == 20, name
        assert 0 <= r.n_hits <= 20, name
        assert abs(r.recall_at_k - r.n_hits / 20.0) < 1e-12, name


# ---------------------------------------------------------------------------
# Round 6: TPC-H breadth (Q4/Q6/Q10/Q13/Q14/Q18/Q19/Q22 shapes)
# ---------------------------------------------------------------------------


def test_q4_semi_join_no_duplicate_orders(spark, sf_dir):
    """The EXISTS must be a semi join: priority counts can never exceed
    the raw filtered order counts (an inner join would double-count
    orders with several late lineitems)."""
    from pyspark.sql import functions as F2

    from mistocksync_spark.plans.queries import QUERIES

    df = QUERIES["q4_order_priority"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    got = {r.orderpriority: r.order_count for r in df.collect()}
    raw = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(
            (F2.col("o_orderdate") >= F2.lit("1997-01-01").cast("timestamp"))
            & (F2.col("o_orderdate") < F2.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("o_orderpriority")
        .count()
    )
    raw_counts = {r.o_orderpriority: r["count"] for r in raw.collect()}
    assert got and all(got[k] <= raw_counts[k] for k in got)


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    df = QUERIES["q6_revenue_forecast"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:300]
    (r,) = df.collect()
    assert r.n_rows > 0 and r.revenue > 0


def test_q10_top20_ordered_and_bounded(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["q10_returned_items"](spark, sf_dir).collect()
    assert len(rows) == 20
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_q13_histogram_accounts_every_customer(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["q13_order_count_histogram"](spark, sf_dir).collect()
    n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(r.custdist for r in rows) == n_cust  # zero-order bucket included


def test_q14_share_consistent_with_sums(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    (r,) = QUERIES["q14_promo_revenue_share"](spark, sf_dir).collect()
    assert 0.0 < r.promo_share_pct < 100.0
    assert abs(r.promo_share_pct - 100.0 * r.promo_revenue / r.total_revenue) < 1e-9


def test_q18_threshold_and_order(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["q18_large_volume_customers"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 100
    assert all(r.sum_qty > 210.0 for r in rows)
    prices = [r.o_totalprice for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_q19_disjunction_stays_equi_join(spark, sf_dir):
    """The OR-of-ANDs must not degrade the plan to a nested loop."""
    from mistocksync_spark.plans.queries import QUERIES

    df = QUERIES["q19_bracketed_revenue"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    (r,) = df.collect()
    assert r.n_rows > 0 and r.revenue > 0


def test_q22_dormant_excludes_recent_orderers(spark, sf_dir):
    from pyspark.sql import functions as F2

    from mistocksync_spark.plans.queries import QUERIES

    df = QUERIES["q22_dormant_high_balance"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    rows = df.collect()
    assert rows and all(r.numcust > 0 for r in rows)
    # nation count bounded by the dim size
    n_nations = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    assert len(rows) <= n_nations


# ---------------------- bloom, char-LM, quality logit and KS drift operators
def test_bloom_bits_no_false_negatives(spark):
    """Every document's own k probe positions must be set in the filter
    built over it — false negatives are impossible by construction."""
    from mistocksync_spark.operators.dedup import bloom_bits

    df = _docs(spark, [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")])
    bits = {r.bit for r in bloom_bits(df, m=1024, k=3).collect()}
    assert bits and len(bits) <= 6  # ≤ docs×k, duplicates collapse
    assert all(0 <= b < 1024 for b in bits)


def test_bloom_contamination_exact_subset_of_bloom(spark):
    from mistocksync_spark.operators.dedup import bloom_contamination

    eval_set = _docs(spark, [(100, "the quick brown fox"), (101, "lorem ipsum")])
    corpus = _docs(
        spark,
        [(1, "the quick brown fox"), (2, "clean unrelated text"), (3, "lorem ipsum")],
    )
    (r,) = bloom_contamination(corpus, eval_set, m=4096, k=3).collect()
    assert r.n_probed == 3
    assert r.n_exact_hits == 2
    assert r.n_false_neg == 0  # bloom can never miss a true member
    assert r.n_bloom_hits >= r.n_exact_hits
    assert r.fp_rate == r.n_false_pos / r.n_probed


def test_bloom_contamination_probe_join_broadcasts(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    df = QUERIES["bloom_contamination"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # bit frame + digest set broadcast


def test_charlm_score_exact_trigram_ratios(spark):
    """Corpus: 'ababab' (trigrams aba,bab,aba,bab) + 'abax' (aba,bax).
    Counts: aba:3 bab:2 bax:1; prefixes ab:3 ba:3.  p(aba)=1,
    p(bab)=2/3→666667µ, p(bax)=1/3→333333µ.  The doc using the minority
    continuation of a SHARED prefix scores lower — the CCNet signal (a
    self-trained tiny model can't score unique-prefix gibberish low,
    since an unseen prefix has conditional probability 1)."""
    from mistocksync_spark.operators.textual import charlm_score

    rows = [(1, "ababab", "en"), (2, "abax", "en"), (3, "ab", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r.doc_id: r for r in charlm_score(df).collect()}
    assert 3 not in got  # <3 chars: no trigram, no row
    assert got[1].n_trigrams == 4 and got[2].n_trigrams == 2
    assert got[1].lm_score == pytest.approx((1e6 + 666667 + 1e6 + 666667) / 1e6 / 4)
    assert got[2].lm_score == pytest.approx((1e6 + 333333) / 1e6 / 2)
    assert got[2].lm_score < got[1].lm_score


def test_charlm_score_partition_order_independent(spark):
    from mistocksync_spark.operators.textual import charlm_score

    rows = [(i, f"some repeated text body number {i % 3}", "en") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    a = {(r.doc_id, r.lm_score) for r in charlm_score(df.repartition(1)).collect()}
    b = {(r.doc_id, r.lm_score) for r in charlm_score(df.repartition(13)).collect()}
    assert a == b


def test_hashed_quality_logit_shape_and_determinism(spark):
    from mistocksync_spark.operators.textual import hashed_quality_logit

    rows = [(1, "Alpha beta GAMMA alpha"), (2, ""), (3, "один два три")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in hashed_quality_logit(df).collect()}
    assert 2 not in got  # zero tokens -> no row
    assert got[1].n_tokens == 4 and got[3].n_tokens == 3
    for r in got.values():
        assert r.keep == int(r.quality_logit > 0)
    again = {r.doc_id: r.quality_logit
             for r in hashed_quality_logit(df.repartition(7)).collect()}
    assert again == {k: v.quality_logit for k, v in got.items()}


def test_source_length_ks_zero_for_identical_and_flags_shift(spark):
    from mistocksync_spark.operators.textual import source_length_ks

    rows = (
        [(i, None, "a", 100 + (i % 5)) for i in range(50)]
        + [(100 + i, None, "b", 100 + (i % 5)) for i in range(50)]
        + [(200 + i, None, "c", 900 + (i % 5)) for i in range(50)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string, n_chars long")
    got = {r.source: r for r in source_length_ks(df).collect()}
    assert got["a"].n_docs == 50
    # a and b match each other; c is shifted far away, so a/b differ from
    # the GLOBAL cdf by c's third of the mass, and c by the other two thirds
    assert got["a"].ks_stat == pytest.approx(got["b"].ks_stat)
    assert got["c"].ks_stat > got["a"].ks_stat
    for r in got.values():
        assert 0.0 <= r.ks_stat <= 1.0


def test_q2_min_join_decorrelated_and_bounded(spark, sf_dir):
    """The correlated min must run as aggregate + equality join (no
    per-part rescan), every row's cost must equal its part's minimum,
    and the result is capped at 100."""
    from mistocksync_spark.plans.queries import QUERIES

    df = QUERIES["q2_min_cost_supplier"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # dims + part filter broadcast
    rows = df.collect()
    assert 0 < len(rows) <= 100
    by_part = {}
    for r in rows:
        by_part.setdefault(r.p_partkey, set()).add(r.unit_cost)
    assert all(len(v) == 1 for v in by_part.values())  # one min cost per part


def test_q15_all_rows_share_the_max(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["q15_top_supplier"](spark, sf_dir).collect()
    assert rows
    revs = {r.total_revenue for r in rows}
    assert len(revs) == 1  # only max-revenue suppliers (ties all surface)


def test_q21_semi_and_anti_joins_in_plan(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    df = QUERIES["q21_waiting_supplier"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan
    rows = df.collect()
    assert rows and all(r.numwait > 0 for r in rows)


def test_q7_symmetric_nation_pairs(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["q7_nation_volume"](spark, sf_dir).collect()
    assert rows
    bloc_a = {f"NATION_{i}" for i in range(5)}
    bloc_b = {f"NATION_{i}" for i in range(5, 10)}
    for r in rows:
        assert (r.supp_nation in bloc_a and r.cust_nation in bloc_b) or (
            r.supp_nation in bloc_b and r.cust_nation in bloc_a
        )
    assert all(r.l_year in (1996, 1997) for r in rows)


def test_q8_share_is_ratio_of_reported_sums(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["q8_market_share"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.mkt_share <= 1.0
        expect = math.floor(r.nation_volume / r.total_volume * 1e6 + 0.5) / 1e6
        assert r.mkt_share == pytest.approx(expect)


def test_q9_profit_grouped_by_nation_year(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    df = QUERIES["q9_product_profit"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # part + supplier-nation dims
    rows = df.collect()
    assert rows and len({(r.nation, r.o_year) for r in rows}) == len(rows)


def test_q11_gate_against_global_mean(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["q11_important_stock"](spark, sf_dir).collect()
    assert rows
    # every surviving part's value strictly exceeds 1.5x the mean value
    import pyspark.sql.functions as F2

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    total = li.agg(
        F2.sum(F2.col("l_extendedprice") * (1 - F2.col("l_discount")))
    ).collect()[0][0]
    n_parts = li.select("l_partkey").distinct().count()
    thr = total / n_parts * 1.5
    assert all(r.value > thr * 0.99 for r in rows)


def test_q12_counts_partition_the_year(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["q12_priority_by_status"](spark, sf_dir).collect()
    assert rows
    import pyspark.sql.functions as F2

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        (F2.col("l_shipdate") >= F2.lit("1997-01-01").cast("timestamp"))
        & (F2.col("l_shipdate") < F2.lit("1998-01-01").cast("timestamp"))
    )
    assert sum(r.high_line_count + r.low_line_count for r in rows) == li.count()


def test_q16_excludes_negative_balance_suppliers(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    df = QUERIES["q16_supplier_breadth"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    rows = df.collect()
    assert rows and all(r.supplier_cnt > 0 for r in rows)
    assert all(r.p_brand != "Brand#1" and r.p_size in (5, 10, 15, 20, 25) for r in rows)


def test_q17_single_row_and_nonnegative(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    (r,) = QUERIES["q17_small_quantity_revenue"](spark, sf_dir).collect()
    assert r.n_small_lines >= 0 and r.avg_yearly >= 0.0


def test_q20_semi_join_and_fair_share_gate(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    df = QUERIES["q20_dominant_supplier"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    rows = df.collect()
    assert rows and len({r.s_suppkey for r in rows}) == len(rows)


def test_semantic_dedup_drops_planted_duplicates(spark):
    """Exact copies and scaled copies (cosine 1.0) of a lower-id vector
    must be dropped; unrelated vectors survive."""
    from mistocksync_spark.operators.vectors import semantic_dedup

    base = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
        (10, [1.0, 0.0, 0.0, 0.0]),   # exact copy of 0
        (11, [0.0, 2.0, 0.0, 0.0]),   # scaled copy of 1
    ]
    df = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.keep for r in semantic_dedup(df, n_clusters=3).collect()}
    assert got[0] == 1 and got[1] == 1 and got[2] == 1
    assert got[10] == 0 and got[11] == 0


def test_semantic_dedup_pairs_only_within_cluster(spark, sf_dir):
    """Total kept + dropped equals the corpus; every vector gets exactly
    one cluster."""
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["semantic_dedup"](spark, sf_dir).collect()
    assert len({r.vec_id for r in rows}) == len(rows)
    assert all(0 <= r.centroid < 16 for r in rows)
    assert any(r.keep == 0 for r in rows)  # the planted dups are caught


def test_dsir_weights_prefers_target_like_docs(spark):
    """Docs sharing the target slice's bigrams outscore alien docs."""
    from pyspark.sql import functions as F2

    from mistocksync_spark.operators.textual import dsir_weights

    rows = (
        [(i, "alpha beta gamma delta", "t") for i in range(10)]
        + [(100 + i, "omega psi chi phi", "c") for i in range(10)]
        + [(200, "alpha beta gamma delta", "c"), (201, "omega psi chi phi", "x")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # dim=64: with the tiny test corpus the default 4096-bucket Laplace
    # smoothing would dwarf the counts and pull every ratio under parity
    got = {
        r.doc_id: r
        for r in dsir_weights(df, target_pred=F2.col("source") == "t", dim=64).collect()
    }
    assert got[200].dsir_score > got[201].dsir_score
    assert got[200].selected == 1 and got[201].selected == 0
    assert got[200].n_bigrams == 3


def test_dsir_weights_partition_order_independent(spark):
    from mistocksync_spark.operators.textual import dsir_weights

    rows = [(i, f"w{i % 7} w{(i + 1) % 7} w{(i + 2) % 5}", f"src{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    from pyspark.sql import functions as F2

    pred = F2.col("source") == "src0"
    a = {(r.doc_id, r.dsir_score) for r in dsir_weights(df.repartition(1), target_pred=pred).collect()}
    b = {(r.doc_id, r.dsir_score) for r in dsir_weights(df.repartition(17), target_pred=pred).collect()}
    assert a == b


def test_event_feed_disorder_within_join_watermark(spark, sf_dir):
    """purchase_view_join_stream's batch-equality rests on cross-file
    event-time disorder staying under its 24 h watermark: beyond it, the
    stream-stream inner join silently DROPS matched pairs and the hash
    grade fails nondeterministically.  Check the margin instead of
    assuming it: replay the files in the
    FileStreamSource's path order, track the running max event time, and
    bound (running_max − next file's min) + the 1 h join range under
    24 h."""
    import glob as _glob
    from datetime import timedelta

    from pyspark.sql import functions as F2

    from mistocksync_spark.sources.testdata import normalize_event_ts

    paths = sorted(_glob.glob(f"{sf_dir.rstrip('/')}/events.parq*"))
    assert paths, "event feed missing"
    running_max = None
    worst = timedelta(0)
    for p in paths:
        ev = normalize_event_ts(spark, spark.read.parquet(p))
        lo, hi = ev.agg(F2.min("ts"), F2.max("ts")).collect()[0]
        if running_max is not None and running_max - lo > worst:
            worst = running_max - lo
        running_max = hi if running_max is None else max(running_max, hi)
    assert worst + timedelta(hours=1) < timedelta(hours=24), (
        f"cross-file event-time disorder {worst} + 1h join range breaches "
        "the 24h watermark: matched pairs would be silently dropped"
    )


def test_purchase_view_join_stream_matches_batch(spark, sf_dir):
    """The streaming interval join must equal the batch interval join on
    the same data (availableNow drains everything), and every pair must
    respect the 1-hour window."""
    from pyspark.sql import functions as F2

    from mistocksync_spark.plans.queries import QUERIES
    from mistocksync_spark.sources.testdata import load_events

    got = {
        (r.view_id, r.purchase_id)
        for r in QUERIES["purchase_view_join_stream"](spark, sf_dir).collect()
    }
    ev = load_events(spark, sf_dir)
    v = ev.filter(F2.col("event_type") == "view").select(
        F2.col("user_id").alias("vu"), F2.col("ts").alias("vt"), F2.col("event_id").alias("vid")
    )
    p = ev.filter(F2.col("event_type") == "purchase").select(
        F2.col("user_id").alias("pu"), F2.col("ts").alias("pt"), F2.col("event_id").alias("pid")
    )
    batch = {
        (r.vid, r.pid)
        for r in v.join(
            p,
            (F2.col("vu") == F2.col("pu"))
            & (F2.col("vt") >= F2.col("pt") - F2.expr("INTERVAL 1 HOUR"))
            & (F2.col("vt") <= F2.col("pt")),
        ).collect()
    }
    assert got == batch and got


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    from mistocksync_spark.operators.textual import bpe_pair_counts

    df = spark.createDataFrame(
        [(1, "aba aba cd"), (2, "aba x")], "doc_id long, text string"
    )
    got = [(r.pair, r.cnt) for r in bpe_pair_counts(df, top_k=5).collect()]
    # 'aba' occurs 3x -> pairs ab,ba weighted 3; 'cd' once; 'x' has no pair
    assert got == [("ab", 3), ("ba", 3), ("cd", 1)]


def test_bpe_pair_counts_total_order_at_cutoff(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = [(r.pair, r.cnt) for r in QUERIES["bpe_pair_counts"](spark, sf_dir).collect()]
    assert len(rows) == 50
    assert rows == sorted(rows, key=lambda t: (-t[1], t[0]))


def test_token_cms_estimate_never_undershoots(spark, sf_dir):
    from mistocksync_spark.plans.queries import QUERIES

    rows = QUERIES["token_cms_estimate"](spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.cms_est >= r.exact_cnt          # CMS can only overestimate
        assert r.overshoot == r.cms_est - r.exact_cnt


def test_token_cms_exact_on_tiny_vocab(spark):
    """With vocabulary << width there are no collisions, so the estimate
    equals the exact count."""
    from mistocksync_spark.operators.textual import token_cms_estimate

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    got = {r.tok: (r.exact_cnt, r.cms_est) for r in token_cms_estimate(df, top_k=5).collect()}
    assert got["a"] == (3, 3) and got["b"] == (1, 1) and got["c"] == (1, 1)


def test_new_ops_broadcast_their_bounded_frames(spark, sf_dir):
    """The dim-bounded side frames (DSIR bucket table, CMS sketch, bloom
    bits, semantic-dedup drop set) must attach by broadcast — a shuffle
    there would scale with the bounded table, not the corpus, but AQE
    can't always infer that from a fresh aggregate."""
    from mistocksync_spark.plans.queries import QUERIES

    for name in ("dsir_weights", "token_cms_estimate", "bloom_contamination"):
        plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, name


def test_new_ops_no_cartesian_or_bnlj(spark, sf_dir):
    """None of the bloom / char-LM / quality-logit / KS operators may plan
    a CartesianProduct.  The operators with NO scalar attach must plan zero
    BroadcastNestedLoopJoins; the rest (dsir totals, KS totals/grid) are
    allowed only their known 1-row/bounded-frame cross-join attaches."""
    from mistocksync_spark.plans.queries import QUERIES

    bnlj_budget = {
        "semantic_dedup": 0,
        "bpe_pair_counts": 0,
        "charlm_score": 0,
        "hashed_quality_logit": 0,
        "bloom_bits": 0,
        "bloom_contamination": 0,
        "token_cms_estimate": 0,
        "dsir_weights": 1,      # 1-row totals attach
        "source_length_ks": 2,  # 1-row total + sources×lengths grid
    }
    for name, budget in bnlj_budget.items():
        plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        got = plan.count("BroadcastNestedLoopJoin")
        assert got <= budget, f"{name}: {got} BNLJ > budget {budget}"


def test_numeric_correlations_exact_and_bounded(spark):
    """Perfectly correlated / anti-correlated / constant columns hit the
    exact endpoints; all r in [-1, 1]; constant column yields NULL."""
    from mistocksync_spark.operators.aggregates import numeric_correlations

    rows = [(float(i), float(2 * i + 1), float(-3 * i), 7.0) for i in range(50)]
    df = spark.createDataFrame(rows, "x double, y double, z double, c double")
    got = {(r.col_a, r.col_b): r.pearson_r for r in
           numeric_correlations(df, ["x", "y", "z", "c"]).collect()}
    assert got[("x", "y")] == pytest.approx(1.0)
    assert got[("x", "z")] == pytest.approx(-1.0)
    assert got[("x", "c")] is None  # zero variance
    for v in got.values():
        assert v is None or -1.0 <= v <= 1.0


def test_numeric_correlations_partition_order_independent(spark):
    from mistocksync_spark.operators.aggregates import numeric_correlations

    rows = [(float(i % 13), float((i * 7) % 11)) for i in range(200)]
    df = spark.createDataFrame(rows, "x double, y double")
    a = numeric_correlations(df.repartition(1), ["x", "y"]).collect()[0].pearson_r
    b = numeric_correlations(df.repartition(23), ["x", "y"]).collect()[0].pearson_r
    assert a == b  # bit-identical, not approx


def test_cuped_reduces_variance_and_preserves_means(spark):
    """With post = pre + noise + effect, CUPED must (a) keep each
    variant's adjusted mean finite and close to its raw mean shifted by
    the global correction, and (b) shrink the spread of adjusted values
    vs raw post values; theta must be shared across variants."""
    import datetime as dt

    from mistocksync_spark.operators.aggregates import cuped_adjusted_means

    rows = []
    eid = 0
    for u in range(40):
        base = 100.0 + (u % 10) * 50.0   # user-level heterogeneity
        for period, day in (("pre", 1), ("post", 20)):
            eid += 1
            v = base if period == "pre" else base + (5.0 if u % 2 else 0.0)
            rows.append((eid, u, dt.datetime(2024, 1, day), v))
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    got = {r.variant: r for r in cuped_adjusted_means(df, "2024-01-10").collect()}
    assert set(got) == {0, 1}
    assert got[0].theta == got[1].theta
    # post == pre + effect -> theta ~= 1 (the u%2 assignment correlates
    # slightly with the u%10 covariate, so not exactly 1), and the
    # adjusted difference recovers the +5 effect far better than the raw
    # post difference (which carries the 50-point covariate imbalance)
    assert got[0].theta == pytest.approx(1.0, abs=0.05)
    raw_diff = got[1].mean_post - got[0].mean_post
    adj_diff = got[1].mean_adjusted - got[0].mean_adjusted
    assert abs(adj_diff - 5.0) < 1.0
    assert abs(adj_diff - 5.0) < abs(raw_diff - 5.0)


def test_cuped_zero_pre_variance_falls_back_to_plain_means(spark):
    import datetime as dt

    from mistocksync_spark.operators.aggregates import cuped_adjusted_means

    rows = []
    for u in range(10):
        rows.append((u * 2, u, dt.datetime(2024, 1, 1), 7.0))       # constant pre
        rows.append((u * 2 + 1, u, dt.datetime(2024, 1, 20), float(u)))
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    got = {r.variant: r for r in cuped_adjusted_means(df, "2024-01-10").collect()}
    for r in got.values():
        assert r.theta == 0.0
        assert r.mean_adjusted == pytest.approx(r.mean_post)


# ------------------------------------------------ data-quality rule engine
def test_data_quality_report_counts_violations(spark):
    from mistocksync_spark.operators.quality import Rule, data_quality_report

    df = spark.createDataFrame(
        [
            (1, 5.0, "A"),
            (2, -1.0, "A"),      # range violation
            (3, None, "B"),      # null (not a range violation)
            (3, 150.0, "X"),     # range + isin violations, dup id
        ],
        "id long, qty double, flag string",
    )
    got = {
        r.rule_name: r
        for r in data_quality_report(
            df,
            [
                Rule("qty_not_null", "qty", "not_null"),
                Rule("qty_range", "qty", "range", {"lo": 0, "hi": 100}),
                Rule("flag_domain", "flag", "isin", {"values": ["A", "B"]}),
                Rule("id_unique", "id", "unique"),
            ],
        ).collect()
    }
    assert got["qty_not_null"].n_violations == 1
    assert got["qty_range"].n_violations == 2          # -1 and 150, null exempt
    assert got["flag_domain"].n_violations == 1        # X
    assert got["id_unique"].n_violations == 1          # one dup beyond first
    assert got["qty_range"].n_rows == 4
    assert got["qty_range"].violation_ppm == 500_000
    assert not got["qty_range"].passed and got["qty_not_null"].n_violations == 1


def test_data_quality_report_single_scan(spark):
    """Scan sharing: all row-level rules must collapse into ONE aggregate
    over ONE scan — the plan may not contain more scans than rules need."""
    from mistocksync_spark.operators.quality import Rule, data_quality_report

    df = spark.createDataFrame([(1, 2.0)], "id long, qty double")
    plan = data_quality_report(
        df,
        [
            Rule("a", "qty", "not_null"),
            Rule("b", "qty", "range", {"lo": 0, "hi": 10}),
            Rule("c", "id", "not_null"),
        ],
    )._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LocalRelation") + plan.count("LogicalRDD") == 1


def test_data_quality_report_empty_input(spark):
    """n = 0 must yield NULL ppm (not a cross-engine divide-by-zero:
    Spark non-ANSI div returns NULL, DuckDB // raises) and passed=True."""
    from mistocksync_spark.operators.quality import Rule, data_quality_report

    df = spark.createDataFrame([], "id long, qty double")
    got = data_quality_report(
        df,
        [
            Rule("qty_not_null", "qty", "not_null"),
            Rule("id_unique", "id", "unique"),
        ],
    ).collect()
    assert len(got) == 2
    for r in got:
        assert r.n_rows == 0 and r.n_violations == 0
        assert r.violation_ppm is None
        assert r.passed


def test_data_quality_report_multi_unique_plan(spark):
    """Scale story for k > 1 unique rules: the exact path pays Catalyst's
    multi-distinct Expand (documented), the approx path must NOT —
    approx_count_distinct sketches ride the one shared aggregate."""
    from mistocksync_spark.operators.quality import Rule, data_quality_report

    df = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 5.0), (2, 11, None)],
        "id long, grp long, qty double",
    )
    rules = [
        Rule("qty_not_null", "qty", "not_null"),
        Rule("id_unique", "id", "unique"),
        Rule("grp_unique", "grp", "unique"),
    ]

    exact_plan = (
        data_quality_report(df, rules)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in exact_plan  # the documented k-distinct cost

    approx = data_quality_report(df, rules, approx=True)
    approx_plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in approx_plan  # single-pass at any unique count

    # at this tiny cardinality HLL is exact — values must agree
    got = {r.rule_name: r for r in approx.collect()}
    assert got["id_unique"].n_violations == 1
    assert got["grp_unique"].n_violations == 1
    assert got["qty_not_null"].n_violations == 1
    # sketch verdicts must be distinguishable from exact ones (advisory
    # marker), while non-unique rules keep their exact kind
    assert got["id_unique"].kind == "unique_approx"
    assert got["grp_unique"].kind == "unique_approx"
    assert got["qty_not_null"].kind == "not_null"
    exact_got = {
        r.rule_name: r for r in data_quality_report(df, rules).collect()
    }
    assert exact_got["id_unique"].kind == "unique"
    # rsd is a passthrough to approx_count_distinct — a tighter sketch
    # must still run and stay exact at this cardinality
    tight = {
        r.rule_name: r
        for r in data_quality_report(
            df, rules, approx=True, rsd=0.01
        ).collect()
    }
    assert tight["id_unique"].n_violations == 1


def test_join_skew_profile_math(spark):
    from mistocksync_spark.operators.quality import join_skew_profile

    rows = [("hot",)] * 6 + [("a",), ("b",)]
    df = spark.createDataFrame(rows, "k string")
    got = join_skew_profile(df, "k", top_k=2).collect()
    assert [r.key_value for r in got] == ["hot", "a"]  # ties: key asc
    hot = got[0]
    # 6 of 8 rows, 3 keys: share 750000 ppm, skew 6*3/8 = 2.25e6 ppm
    assert hot.cnt == 6 and hot.share_ppm == 750_000
    assert hot.skew_ratio_ppm == 2_250_000


def test_hash_split_group_coherence_and_weights(spark):
    from pyspark.sql import functions as F2

    from mistocksync_spark.operators.quality import hash_split

    df = spark.range(0, 5000).select(
        F.col("id"), F.expr("id div 10").alias("grp")
    )
    out = hash_split(df, "grp", {"train": 8, "val": 1, "test": 1})
    # leakage-safety: every group lands in exactly one split
    assert (
        out.groupBy("grp")
        .agg(F2.count_distinct("split").alias("ns"))
        .filter(F2.col("ns") > 1)
        .count()
        == 0
    )
    shares = {r.split: r.n for r in out.groupBy("split").agg(F2.count("*").alias("n")).collect()}
    assert set(shares) == {"train", "val", "test"}
    assert 0.7 < shares["train"] / 5000 < 0.9  # md5-uniform near 80%
    # determinism: same assignment on re-run
    again = {r.grp: r.split for r in hash_split(df, "grp", {"train": 8, "val": 1, "test": 1}).select("grp", "split").distinct().collect()}
    first = {r.grp: r.split for r in out.select("grp", "split").distinct().collect()}
    assert first == again


def test_lsh_pair_quality_counts(spark):
    from mistocksync_spark.operators.dedup import lsh_pair_quality

    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "doc_a long, doc_b long"
    )
    exact = spark.createDataFrame(
        [(1, 2), (4, 5), (6, 7)], "doc_a long, doc_b long"
    )
    r = lsh_pair_quality(cand, exact).collect()[0]
    assert (r.n_lsh, r.n_exact, r.n_both) == (3, 3, 2)
    assert r.precision_ppm == 666_666 and r.recall_ppm == 666_666
    # empty exact set: recall NULL (guarded), never a divide error
    r2 = lsh_pair_quality(cand, exact.limit(0)).collect()[0]
    assert r2.n_exact == 0 and r2.recall_ppm is None and r2.precision_ppm == 0


def test_vector_pair_quality_counts_and_recommendation(spark):
    from mistocksync_spark.operators.vectors import vector_pair_quality

    def pairs(*ps):
        return spark.createDataFrame(list(ps), "vec_a long, vec_b long")

    exact = pairs((1, 2), (3, 4))
    # both lossless -> fewer candidates wins (banded here)
    r = vector_pair_quality(
        pairs((1, 2), (3, 4), (5, 6)),
        pairs((1, 2), (3, 4), (5, 6), (7, 8)),
        exact,
    ).collect()[0]
    assert (r.n_exact_pairs, r.n_banded_cand, r.n_ivf_cand) == (2, 3, 4)
    assert (r.banded_missed, r.ivf_missed) == (0, 0)
    assert r.banded_recall_ppm == 1_000_000 and r.ivf_recall_ppm == 1_000_000
    assert r.recommended_generator == "banded"
    # only IVF lossless -> ivf wins even with more candidates
    r2 = vector_pair_quality(
        pairs((1, 2)),
        pairs((1, 2), (3, 4), (5, 6), (7, 8)),
        exact,
    ).collect()[0]
    assert (r2.banded_missed, r2.ivf_missed) == (1, 0)
    assert r2.banded_recall_ppm == 500_000
    assert r2.recommended_generator == "ivf"
    # both lossy -> higher recall wins; empty exact -> NULL ppm, no error
    r3 = vector_pair_quality(pairs((1, 2)), pairs((9, 10)), exact).collect()[0]
    assert (r3.banded_recall_ppm, r3.ivf_recall_ppm) == (500_000, 0)
    assert r3.recommended_generator == "banded"
    r4 = vector_pair_quality(
        pairs((1, 2)), pairs((1, 2)), exact.limit(0)
    ).collect()[0]
    assert r4.banded_recall_ppm is None and r4.recommended_generator == "banded"


def test_run_stream_restores_shuffle_partitions_on_failure(spark):
    """_run_stream scopes spark.sql.shuffle.partitions down for the
    stream and must restore the session value even when starting the
    stream raises (a batch frame has no writeStream plan)."""
    import pytest as _pytest

    from mistocksync_spark.plans.queries import _run_stream

    before = spark.conf.get("spark.sql.shuffle.partitions")
    batch_df = spark.range(3)
    with _pytest.raises(Exception):
        _run_stream(spark, batch_df, "bogus_sink", "append")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_poisson_bootstrap_ci_brackets_mean_and_is_stable(spark):
    from mistocksync_spark.operators.aggregates import poisson_bootstrap_ci

    df = spark.createDataFrame(
        [(i, 10.0 + (i % 7)) for i in range(500)], "uid long, v double"
    )
    r = poisson_bootstrap_ci(df, "v", "uid", n_replicas=100).collect()[0]
    assert r.n_rows == 500 and r.n_replicas == 100
    # the 95% CI must bracket the point estimate, with nonzero width on
    # non-constant data, and stay within the data's own range
    assert r.ci_lo_micro <= r.mean_micro <= r.ci_hi_micro
    assert r.ci_lo_micro < r.ci_hi_micro
    assert 10_000_000 <= r.ci_lo_micro and r.ci_hi_micro <= 17_000_000
    # deterministic: identical weights regardless of partitioning
    r2 = poisson_bootstrap_ci(
        df.repartition(13), "v", "uid", n_replicas=100
    ).collect()[0]
    assert (r.ci_lo_micro, r.ci_hi_micro, r.mean_micro) == (
        r2.ci_lo_micro, r2.ci_hi_micro, r2.mean_micro,
    )


# --------------------------------------------------------------------------
# Incremental corpus dedup MERGE (the production ingest tick)
# --------------------------------------------------------------------------
def _incr_fixture(spark):
    """Corpus + batch covering every verdict path: near-dup-of-corpus,
    exact-copy-of-corpus, fresh, dup-of-accepted-arrival, and
    dup-of-REJECTED-arrival (the seen-set rule's distinguishing case)."""
    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "red green blue cyan magenta yellow black white"),
        ],
    )
    batch = _docs(
        spark,
        [
            # near-dup of corpus doc 1 (one token appended) -> rejected
            (10, "alpha beta gamma delta epsilon zeta eta theta extra"),
            # exact copy of corpus doc 2 -> rejected
            (11, "one two three four five six seven eight nine ten"),
            # fresh -> accepted
            (12, "totally different words nothing shared here at all ok"),
            # near-dup of ACCEPTED arrival 12 -> rejected (intra-batch)
            (13, "totally different words nothing shared here at all ok tail"),
            # near-dup of REJECTED arrival 10 (and of corpus 1) -> rejected
            (14, "alpha beta gamma delta epsilon zeta eta theta extra more"),
        ],
    )
    return corpus, batch


def test_incremental_dedup_merge_verdict_paths(spark):
    from mistocksync_spark.operators.dedup import incremental_dedup_merge

    corpus, batch = _incr_fixture(spark)
    got = {(r.doc_id, r.origin) for r in incremental_dedup_merge(corpus, batch).collect()}
    assert got == {
        (1, "corpus"), (2, "corpus"), (3, "corpus"), (12, "batch"),
    }


def test_incremental_dedup_seen_set_includes_rejected(spark):
    """A doc whose only near-dup partner was itself REJECTED must still be
    rejected — the prefix-decomposable rule that makes the streaming twin
    bit-identical."""
    from mistocksync_spark.operators.dedup import incremental_dedup_merge

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")  # 20 tokens, 18 shingles
    tail8 = "x1 x2 x3 x4 x5 x6 x7 x8"
    tail12 = "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12"
    corpus = _docs(spark, [(1, base)])
    batch = _docs(
        spark,
        [
            # jaccard vs corpus = 18/26 = 0.692 -> rejected
            (10, base + " " + tail8),
            # jaccard vs corpus = 18/38 = 0.474 (< 0.5, NOT a corpus dup)
            # but vs the REJECTED doc 10 = 26/38 = 0.684 -> must still be
            # rejected because the seen set keeps rejected arrivals
            (11, base + " " + tail8 + " " + tail12),
        ],
    )
    got = {r.doc_id for r in
           incremental_dedup_merge(corpus, batch).filter("origin = 'batch'").collect()}
    assert got == set()


def test_incremental_dedup_summary_accounting(spark):
    from mistocksync_spark.operators.dedup import (
        incremental_dedup_merge,
        incremental_dedup_summary,
    )

    corpus, batch = _incr_fixture(spark)
    merged = incremental_dedup_merge(corpus, batch)
    row = incremental_dedup_summary(merged, batch).collect()[0]
    assert (row.n_corpus, row.n_batch, row.n_accepted, row.n_rejected) == (3, 5, 1, 4)


def test_incremental_corpus_dedup_stream_equals_batch(spark, tmp_path):
    """Two id-ordered micro-batches through the foreachBatch MERGE must
    produce the same accepted corpus as the one-shot batch operator."""
    from mistocksync_spark.operators.dedup import incremental_dedup_merge
    from mistocksync_spark.streaming.merge import (
        incremental_corpus_dedup,
        stage_arrivals,
    )

    corpus, batch = _incr_fixture(spark)
    arrivals = stage_arrivals(
        batch,
        [F.col("doc_id").isin(*ids) for ids in [(10, 11, 12), (13, 14)]],
        str(tmp_path / "arrivals"),
    )
    streamed = incremental_corpus_dedup(
        spark, corpus, arrivals, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    got = {(r.doc_id, r.origin) for r in streamed.collect()}
    want = {(r.doc_id, r.origin) for r in incremental_dedup_merge(corpus, batch).collect()}
    assert got == want and (12, "batch") in got


def test_incremental_dedup_stateful_path_matches_self_contained(spark, tmp_path):
    """The gate on STORED band state (a corpus_signature_state table
    written to parquet and read back, as a tick reads it) must be
    bit-identical to the one-shot merge, which derives that state in
    memory — band keys are deterministic per document."""
    from mistocksync_spark.operators.dedup import (
        corpus_signature_state,
        incremental_dedup_merge,
        near_dup_gate,
        seen_set_merge,
    )

    corpus, batch = _incr_fixture(spark)
    corpus_signature_state(corpus).write.parquet(str(tmp_path / "bands"))
    rejected = near_dup_gate(
        batch,
        spark.read.parquet(str(tmp_path / "bands")),
        corpus_signature_state(batch),
        lambda ids: corpus,
    )
    got = {(r.doc_id, r.origin)
           for r in seen_set_merge(corpus, batch, rejected, "doc_id").collect()}
    want = {(r.doc_id, r.origin)
            for r in incremental_dedup_merge(corpus, batch).collect()}
    assert got == want and (12, "batch") in got


def test_corpus_signature_state_schema_and_determinism(spark):
    from mistocksync_spark.operators.dedup import corpus_signature_state

    corpus, _ = _incr_fixture(spark)
    s1 = corpus_signature_state(corpus)
    assert set(s1.columns) == {"doc_id", "band", "band_key"}
    rows1 = {tuple(r) for r in s1.collect()}
    rows2 = {tuple(r) for r in corpus_signature_state(corpus.repartition(7)).collect()}
    assert rows1 == rows2 and len(rows1) == 3 * 4  # 3 docs x 4 bands


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_incremental_embedding_dedup_verdict_paths(spark):
    from mistocksync_spark.operators.vectors import incremental_embedding_dedup

    corpus = _emb(spark, [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])])
    batch = _emb(
        spark,
        [
            (10, [2.0, 0.0, 0.0, 0.0]),    # scaled copy of corpus 1 -> rejected
            (11, [0.0, 1.0, 0.0, 0.0]),    # exact copy of corpus 2 -> rejected
            (12, [0.0, 0.0, 1.0, 0.0]),    # orthogonal -> fresh, accepted
            (13, [0.0, 0.0, 3.0, 0.0]),    # scaled copy of ACCEPTED 12 -> rejected
            (14, [-1.0, 0.0, 0.0, 0.0]),   # negated corpus 1 (cos=-1) -> accepted
            (15, [-5.0, 0.0, 0.0, 0.0]),   # scaled copy of accepted 14 -> rejected
        ],
    )
    got = {(r.vec_id, r.origin)
           for r in incremental_embedding_dedup(corpus, batch).collect()}
    assert got == {(1, "corpus"), (2, "corpus"), (12, "batch"), (14, "batch")}


def test_incremental_embedding_dedup_stateful_matches(spark, tmp_path):
    """The embedding gate on STORED signature bands (parquet round trip)
    must be bit-identical to the one-shot merge's in-memory bands."""
    from mistocksync_spark.operators.dedup import seen_set_merge
    from mistocksync_spark.operators.vectors import (
        embedding_gate,
        incremental_embedding_dedup,
        signature_bands,
    )

    corpus = _emb(spark, [(1, [1.0, 0.0, 0.5, 0.0]), (2, [0.0, 1.0, 0.0, 0.25])])
    batch = _emb(spark, [(10, [2.0, 0.0, 1.0, 0.0]), (11, [0.0, 0.0, 0.0, 1.0])])
    signature_bands(corpus, 4).write.parquet(str(tmp_path / "bands"))
    rejected = embedding_gate(
        batch,
        spark.read.parquet(str(tmp_path / "bands")),
        signature_bands(batch, 4),
        lambda ids: corpus,
        4,
    )
    got = {(r.vec_id, r.origin) for r in
           seen_set_merge(corpus, batch, rejected, "vec_id").collect()}
    want = {(r.vec_id, r.origin) for r in
            incremental_embedding_dedup(corpus, batch).collect()}
    assert got == want == {(1, "corpus"), (2, "corpus"), (11, "batch")}


def test_incremental_dedup_five_ticks_persisted_state(spark, tmp_path):
    """N=5 sequential ticks of the production tick driver against
    PERSISTED keyed state (every tick re-reads its state from disk,
    nothing is carried in memory, and one compaction runs between two
    ticks) must be bit-identical to the one-shot MERGE over the same
    arrivals — the prefix-decomposable seen-set rule beyond the 2-batch
    streaming twin.  The fixture plants a cross-TICK rejected-dup chain
    (doc 31 dups doc 21; 21 was itself rejected in an earlier tick as a
    dup of corpus doc 1), the case where a non-decomposable rule would
    flip a verdict between the ticked and one-shot runs."""
    from mistocksync_spark.operators.dedup import incremental_dedup_merge
    from mistocksync_spark.sinks.layout import compact_keyed_state, keyed_state_read
    from mistocksync_spark.streaming.merge import (
        corpus_dedup_tick_against_state,
        prime_corpus_dedup_state,
    )

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    tail8 = "x1 x2 x3 x4 x5 x6 x7 x8"
    tail12 = "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12"
    corpus = _docs(spark, [
        (1, base),
        (2, "one two three four five six seven eight nine ten"),
    ])
    arrivals = [
        (11, "fresh first words nothing shared here at all ok one"),       # accept
        (21, base + " " + tail8),                                          # reject: dup of corpus 1
        (22, "one two three four five six seven eight nine ten"),          # reject: exact corpus 2
        (31, base + " " + tail8 + " " + tail12),                           # reject: dup of REJECTED 21
        (41, "fresh first words nothing shared here at all ok one too"),   # reject: dup of accepted 11
        (51, "completely novel closing sentence with unique tokens only"), # accept
    ]
    ticks = [arrivals[0:1], arrivals[1:3], arrivals[3:4], arrivals[4:5], arrivals[5:6]]

    state = str(tmp_path / "state")
    prime_corpus_dedup_state(corpus, state)
    for k, rows in enumerate(ticks):
        if k == 3:  # the stream's tick-start compaction, between ticks 3 and 4
            for table in ("docs", "bands"):
                compact_keyed_state(spark, f"{state}/{table}", current_batch=k)
        corpus_dedup_tick_against_state(_docs(spark, rows), k, state)
    docs = keyed_state_read(spark, f"{state}/docs")
    accepted = {
        r.doc_id
        for r in docs.filter("accepted AND origin = 'batch'").collect()
    }
    oneshot = {
        r.doc_id
        for r in incremental_dedup_merge(corpus, _docs(spark, arrivals))
        .filter("origin = 'batch'")
        .collect()
    }
    assert accepted == oneshot == {11, 51}
    # state grew by exactly the arrivals (every arrival joins the seen set)
    assert docs.count() == 2 + len(arrivals)


def test_ivf_stored_index_matches_trained_probe(spark, sf_dir, tmp_path):
    """Round-11: the persisted-index serving path (centroids + inverted
    lists written to parquet, probed from the tables) must be bit-identical
    to the in-memory trained probe, and the probe plan must contain NO
    Python stage (the assignment pass lives at index-build time, not
    serving time)."""
    from mistocksync_spark.operators.vectors import (
        ivf_index_tables,
        ivf_topk,
        ivf_topk_stored,
        ivf_train,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]

    cents_df, inverted = ivf_index_tables(emb, iterations=2)
    cents_df.write.parquet(str(tmp_path / "centroids"))
    inverted.write.parquet(str(tmp_path / "inverted"))
    stored = ivf_topk_stored(
        emb,
        spark.read.parquet(str(tmp_path / "centroids")),
        spark.read.parquet(str(tmp_path / "inverted")),
        q,
        k=10,
    )
    trained = ivf_topk(emb, q, k=10, centroids=ivf_train(emb, iterations=2))
    assert [tuple(r) for r in stored.collect()] == [tuple(r) for r in trained.collect()]
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan  # candidate-id build side broadcast


def test_ivf_index_rebuild_lifecycle(spark, sf_dir, tmp_path):
    """Round-12: the index-REBUILD tick must (1) fully cover the grown
    corpus in the rewritten inverted table (one row per vector under
    n_assign=1), (2) account for every arrival in the cell-population
    diff (sum of n_new - sum of n_old == arrival count), (3) round-trip
    the rewritten tables losslessly (stored probe == in-memory probe on
    the grown corpus), and (4) never lose recall vs the STALE index on
    the drift fixture — the recall-drift gate's invariant."""
    from mistocksync_spark.operators.vectors import (
        brute_force_topk,
        ivf_index_rebuild,
        ivf_index_tables,
        ivf_topk,
        ivf_topk_stored,
        ivf_train,
    )
    from mistocksync_spark.plans.feeds import emb_drift_arrivals, emb_drift_corpus

    corpus = emb_drift_corpus(spark, sf_dir)
    arrivals = emb_drift_arrivals(spark, sf_dir)
    grown = corpus.unionByName(arrivals)
    n_corpus, n_arrivals = corpus.count(), arrivals.count()
    q = [
        float(x)
        for x in corpus.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]

    cents_v1, inv_v1 = ivf_index_tables(corpus, iterations=2)
    inv_v1.write.parquet(str(tmp_path / "v1_inv"))
    cents_v1.write.parquet(str(tmp_path / "v1_cents"))
    old_inv = spark.read.parquet(str(tmp_path / "v1_inv"))

    cents_v2, inv_v2, diff = ivf_index_rebuild(grown, old_inv, iterations=2)
    inv_v2.write.parquet(str(tmp_path / "v2_inv"))
    cents_v2.write.parquet(str(tmp_path / "v2_cents"))

    assert spark.read.parquet(str(tmp_path / "v2_inv")).count() == n_corpus + n_arrivals
    totals = diff.agg(
        F.sum("n_old").alias("o"), F.sum("n_new").alias("n"), F.sum("n_delta").alias("d")
    ).collect()[0]
    assert (totals.o, totals.n, totals.d) == (
        n_corpus,
        n_corpus + n_arrivals,
        n_arrivals,
    )

    # rewritten tables serve bit-identically to the in-memory rebuild
    k_new = max(16, int(n_corpus + n_arrivals) // 200)
    stored = ivf_topk_stored(
        grown,
        spark.read.parquet(str(tmp_path / "v2_cents")),
        spark.read.parquet(str(tmp_path / "v2_inv")),
        q,
        k=10,
    )
    mem = ivf_topk(
        grown, q, k=10, centroids=ivf_train(grown, n_centroids=k_new, iterations=2)
    )
    assert [tuple(r) for r in stored.collect()] == [tuple(r) for r in mem.collect()]

    # drift gate invariant: rebuilt recall >= stale recall on this fixture
    brute = {r.vec_id for r in brute_force_topk(grown, q, k=10).collect()}
    stale_ids = {
        r.vec_id
        for r in ivf_topk_stored(
            grown,
            spark.read.parquet(str(tmp_path / "v1_cents")),
            old_inv,
            q,
            k=10,
        ).collect()
    }
    rebuilt_ids = {r.vec_id for r in stored.collect()}
    assert len(brute & rebuilt_ids) >= len(brute & stale_ids)


def test_ivf_near_dup_matches_banded_and_brute(spark, sf_dir):
    """Round-11: the cluster-restricted near-dup candidate generator must
    find exactly the same verified pairs as the banded-SimHash plan and
    the exact brute baseline (candidates propose, cosine decides), and its
    candidate join must be an equi-join on the cell id — no nested loop."""
    from mistocksync_spark.operators.vectors import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_brute,
        cosine_near_dup_pairs_ivf,
    )
    from mistocksync_spark.plans.feeds import emb_aug

    emb = emb_aug(spark, sf_dir)
    ivf = {(r.vec_a, r.vec_b, r.cos_sim) for r in cosine_near_dup_pairs_ivf(emb).collect()}
    banded = {(r.vec_a, r.vec_b, r.cos_sim) for r in cosine_near_dup_pairs(emb).collect()}
    brute = {(r.vec_a, r.vec_b, r.cos_sim) for r in cosine_near_dup_pairs_brute(emb).collect()}
    assert ivf == banded == brute and len(ivf) > 0
    plan = cosine_near_dup_pairs_ivf(emb)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_ivf_assign_multi_covers_top_n(spark, sf_dir):
    from mistocksync_spark.operators.vectors import deterministic_centroids, ivf_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = deterministic_centroids(emb, 8)
    one = ivf_assign(emb, cents, n_assign=1)
    two = ivf_assign(emb, cents, n_assign=2)
    n = emb.count()
    assert one.count() == n and two.count() == 2 * n
    # the single assignment is always among the top-2 set
    only_one = one.withColumnRenamed("centroid", "c1")
    joined = only_one.join(two, (only_one.vec_id == two.vec_id) & (F.col("c1") == two.centroid))
    assert joined.count() == n


def test_incremental_embedding_dedup_stream_equals_batch(spark, tmp_path):
    """Round-12: the streaming vector ingest (two id-ordered micro-batches,
    versioned (vecs, cells) state, frozen quantizer) must reproduce the
    one-shot IVF tick bit-for-bit, INCLUDING the cross-tick chain — vector
    15 (dup of tick-0's accepted 14) arrives in tick 1 and must reject
    against persisted state, and 13 (dup of REJECTED-in-tick-0's... of
    accepted 12) likewise."""
    from mistocksync_spark.operators.vectors import (
        incremental_embedding_dedup_ivf,
        ivf_train,
    )
    from mistocksync_spark.streaming.merge import (
        incremental_embedding_dedup_stream,
        stage_arrivals,
    )

    corpus = _emb(spark, [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])])
    batch = _emb(
        spark,
        [
            (10, [2.0, 0.0, 0.0, 0.0]),   # tick 0: dup of corpus 1 -> reject
            (11, [0.0, 1.0, 0.0, 0.0]),   # tick 0: dup of corpus 2 -> reject
            (12, [0.0, 0.0, 1.0, 0.0]),   # tick 0: fresh -> accept
            (14, [-1.0, 0.0, 0.0, 0.0]),  # tick 0: fresh (negated) -> accept
            (13, [0.0, 0.0, 3.0, 0.0]),   # tick 1: dup of ACCEPTED 12 -> reject
            (15, [-5.0, 0.0, 0.0, 0.0]),  # tick 1: dup of ACCEPTED 14 -> reject
        ],
    )
    cents = ivf_train(corpus, n_centroids=2, iterations=2)
    want = {
        (r.vec_id, r.origin)
        for r in incremental_embedding_dedup_ivf(corpus, batch, cents).collect()
    }
    arrivals = stage_arrivals(
        batch,
        [F.col("vec_id").isin(list(ids)) for ids in [(10, 11, 12, 14), (13, 15)]],
        str(tmp_path / "arrivals"),
    )
    got = {
        (r.vec_id, r.origin)
        for r in incremental_embedding_dedup_stream(
            spark,
            corpus,
            arrivals,
            str(tmp_path / "state"),
            str(tmp_path / "ckpt"),
            cents,
            dim=4,
        ).collect()
    }
    assert got == want == {(1, "corpus"), (2, "corpus"), (12, "batch"), (14, "batch")}


def test_incremental_embedding_dedup_ivf_matches_banded(spark, tmp_path):
    """The IVF-cell tick under a frozen quantizer must reproduce
    the banded tick's verdicts on every fixture path (scaled corpus dup,
    exact corpus dup, fresh, dup-of-accepted, negated, dup-of-accepted-
    negated), and the gate on stored cells (parquet round-trip, and the
    pruned keyed-state read) must be bit-identical to the one-shot."""
    from mistocksync_spark.operators.dedup import seen_set_merge
    from mistocksync_spark.operators.vectors import (
        embedding_gate,
        incremental_embedding_dedup,
        incremental_embedding_dedup_ivf,
        ivf_assign,
        ivf_train,
    )
    from mistocksync_spark.sinks.layout import (
        keyed_state_append,
        keyed_state_read,
        touched_buckets,
    )

    corpus = _emb(spark, [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])])
    batch = _emb(
        spark,
        [
            (10, [2.0, 0.0, 0.0, 0.0]),
            (11, [0.0, 1.0, 0.0, 0.0]),
            (12, [0.0, 0.0, 1.0, 0.0]),
            (13, [0.0, 0.0, 3.0, 0.0]),
            (14, [-1.0, 0.0, 0.0, 0.0]),
            (15, [-5.0, 0.0, 0.0, 0.0]),
        ],
    )
    cents = ivf_train(corpus, n_centroids=2, iterations=2, vec_col="embedding")
    want = {(r.vec_id, r.origin)
            for r in incremental_embedding_dedup(corpus, batch).collect()}
    got = {(r.vec_id, r.origin)
           for r in incremental_embedding_dedup_ivf(corpus, batch, cents).collect()}
    assert got == want == {(1, "corpus"), (2, "corpus"), (12, "batch"), (14, "batch")}

    def gated(cells):
        rejected = embedding_gate(
            batch, cells, ivf_assign(batch, cents, n_assign=2), lambda ids: corpus, 4
        )
        return {(r.vec_id, r.origin)
                for r in seen_set_merge(corpus, batch, rejected, "vec_id").collect()}

    ivf_assign(corpus, cents, n_assign=2).write.parquet(str(tmp_path / "cells"))
    assert gated(spark.read.parquet(str(tmp_path / "cells"))) == got

    # the cells as keyed state (batch=/bucket= layout, keyed on centroid),
    # read PRUNED to the buckets the batch's assigned cells hash to
    # (lossless — candidates are a centroid equi-join) — verdicts
    # identical, and the pruned scan is partition-pruned in plan
    cells_path = str(tmp_path / "cells_state")
    keyed_state_append(
        ivf_assign(corpus, cents, n_assign=2), cells_path, ["centroid"], batch_id=-1
    )
    pruned_cells = keyed_state_read(
        spark,
        cells_path,
        touched_buckets(ivf_assign(batch, cents, n_assign=2), cells_path),
    )
    assert gated(pruned_cells) == got
    plan = pruned_cells._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_gates_reuse_batch_rows_with_identical_verdicts(spark):
    """Both dedup gates, handed the batch rows a tick's probe has already
    derived and checkpointed (the batch's bands / cell assignments),
    reject exactly the batch ids the one-shot merges reject."""
    from mistocksync_spark.operators.dedup import (
        corpus_signature_state,
        incremental_dedup_merge,
        near_dup_gate,
    )
    from mistocksync_spark.operators.vectors import (
        embedding_gate,
        incremental_embedding_dedup_ivf,
        ivf_assign,
        ivf_train,
    )

    def one_shot_rejected(merged, batch, key):
        accepted = {r[0] for r in merged.filter("origin = 'batch'").select(key).collect()}
        return {r[0] for r in batch.select(key).collect()} - accepted

    corpus, batch = _incr_fixture(spark)
    derived = {
        r.doc_id
        for r in near_dup_gate(
            batch,
            corpus_signature_state(corpus),
            corpus_signature_state(batch).localCheckpoint(eager=False),
            lambda ids: corpus,
        ).collect()
    }
    assert derived == one_shot_rejected(incremental_dedup_merge(corpus, batch), batch, "doc_id")
    assert 12 not in derived and {10, 11, 13} <= derived

    vcorpus = _emb(spark, [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0])])
    vbatch = _emb(
        spark,
        [
            (10, [2.0, 0.0, 0.0, 0.0]),
            (11, [0.0, 1.0, 0.0, 0.0]),
            (12, [0.0, 0.0, 1.0, 0.0]),
            (13, [0.0, 0.0, 3.0, 0.0]),
        ],
    )
    cents = ivf_train(vcorpus, n_centroids=2, iterations=2, vec_col="embedding")
    derived = {
        r.vec_id
        for r in embedding_gate(
            vbatch,
            ivf_assign(vcorpus, cents, n_assign=2),
            ivf_assign(vbatch, cents, n_assign=2).localCheckpoint(eager=False),
            lambda ids: vcorpus,
            4,
        ).collect()
    }
    assert derived == one_shot_rejected(
        incremental_embedding_dedup_ivf(vcorpus, vbatch, cents), vbatch, "vec_id"
    )
    assert derived == {10, 11, 13}


def test_seen_set_gates_have_one_path():
    """Each seen-set gate takes its stored state, its content fetch and
    the batch's derived rows as REQUIRED arguments — no defaulted stand-in
    that would select a second, self-contained implementation — and the
    switches that used to select between the two paths are gone from the
    package, the tools and the tests."""
    import inspect
    from pathlib import Path

    from mistocksync_spark.operators.dedup import near_dup_gate
    from mistocksync_spark.operators.textual import prepare_gate
    from mistocksync_spark.operators.vectors import embedding_gate

    for gate, required in (
        (near_dup_gate, {"corpus_bands", "batch_bands", "corpus_fetch"}),
        (embedding_gate, {"corpus_keys", "batch_keys", "corpus_fetch"}),
        (
            prepare_gate,
            {"corpus_bands", "batch_bands", "corpus_digests", "corpus_grams",
             "vocab", "corpus_fetch", "holdout_shingles"},
        ),
    ):
        params = inspect.signature(gate).parameters
        assert required <= set(params), gate.__name__
        defaulted = {p for p in required if params[p].default is not inspect.Parameter.empty}
        assert not defaulted, (gate.__name__, defaulted)

    root = Path(__file__).resolve().parents[1]
    switches = ("return_" + "rejected", "allow_corpus_" + "derived_state")
    hits = [
        (str(f.relative_to(root)), w)
        for d in ("mistocksync_spark", "tools", "tests")
        for f in (root / d).rglob("*.py")
        for w in switches
        if w in f.read_text(encoding="utf-8")
    ]
    assert not hits, hits


def test_corpus_prepare_v2_invariants(spark, sf_dir):
    """corpus_prepare_v2 contract: one decision row per doc; reasons from
    the five-gate vocabulary; cluster/sampled/token accounting present
    exactly for kept docs; the balanced sample takes <= 20 per cluster
    (and exactly min(20, cluster size))."""
    from mistocksync_spark.plans.queries import QUERIES

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = QUERIES["corpus_prepare_v2"](spark, sf_dir).cache()
    try:
        assert out.count() == docs.count()
        reasons = {r.reason for r in out.select("reason").distinct().collect()}
        assert reasons <= {"exact_dup", "near_dup", "span_dup", "gopher",
                           "rare_tokens", "ok"}
        ok = out.filter(F.col("reason") == "ok")
        dropped = out.filter(F.col("reason") != "ok")
        assert dropped.filter(F.col("cluster").isNotNull()).count() == 0
        assert dropped.filter(F.col("sampled").isNotNull()).count() == 0
        assert dropped.filter(F.col("n_bpe_tokens").isNotNull()).count() == 0
        # every kept doc passed Gopher => has words => vector + tokens
        assert ok.filter(F.col("cluster").isNull()).count() == 0
        assert ok.filter(F.col("n_bpe_tokens").isNull()).count() == 0
        per = ok.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n"), F.sum("sampled").alias("s")
        )
        bad = per.filter(
            F.col("s") != F.least(F.lit(20), F.col("n"))
        ).count()
        assert bad == 0
    finally:
        out.unpersist()


def test_v3_tick_contaminated_gate_fires_on_true_positive(spark):
    """The graded incr feeds never reach the 'contaminated' arm (their
    holdout-overlapping arrivals are prefix copies, so span_dup wins
    first) — this pins the arm with a constructed TRUE positive: an
    arrival sharing exactly 2 word trigrams with a holdout doc (< 30
    chars, so zero char-30-gram span coverage), all tokens in-vocab,
    gopher-passing, no verified near-dup — and a control arrival that
    must come out 'ok'.  The one-shot tick probes the frozen
    holdout_shingle_state the v3 stream primes."""
    from mistocksync_spark.operators.textual import incremental_prepare_tick

    words = [f"word{i:02d}x" for i in range(60)]
    hold = [f"hold{i:02d}q" for i in range(60)]
    corpus = spark.createDataFrame(
        [
            (1, " ".join(words)),
            (2, " ".join(reversed(words))),
            (3, " ".join(words[i] for i in range(0, 60, 3))
                + " " + " ".join(words[i] for i in range(1, 60, 3))
                + " " + " ".join(words[i] for i in range(2, 60, 3))),
            (50, " ".join(hold)),  # the holdout doc (50 % 50 == 0)
        ],
        "doc_id long, text string",
    )
    perm_a = [words[(7 * i + 1) % 60] for i in range(56)]
    perm_b = [words[(11 * i + 5) % 60] for i in range(60)]
    batch = spark.createDataFrame(
        [
            # 2 shared holdout trigrams (hold00..hold03 = 23 chars), then
            # in-vocab filler in an order matching no corpus 30-char run
            (1001, " ".join(hold[:4]) + " " + " ".join(perm_a)),
            (1002, " ".join(perm_b)),  # control: every gate passes
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.reason
        for r in incremental_prepare_tick(corpus, batch, holdout_mod=50).collect()
    }
    assert got == {1001: "contaminated", 1002: "ok"}


def test_incremental_prepare_tick_consistent_with_merge(spark, sf_dir):
    """The tick's dedup reasons must tie out EXACTLY with the graded
    merge: identical text is always a verified near-dup of its earlier
    twin, so {exact_dup} ∪ {near_dup} == the merge's rejected set, i.e.
    merge-accepted batch ids == tick ids with a non-dedup reason."""
    from mistocksync_spark.plans.queries import QUERIES

    merged = QUERIES["incremental_dedup_merge"](spark, sf_dir)
    accepted = {
        r.doc_id for r in merged.filter(F.col("origin") == "batch").collect()
    }
    tick = QUERIES["incremental_prepare_tick"](spark, sf_dir).collect()
    non_dedup = {
        r.doc_id for r in tick if r.reason not in ("exact_dup", "near_dup")
    }
    assert non_dedup == accepted
    reasons = {r.reason for r in tick}
    assert reasons <= {
        "exact_dup", "near_dup", "span_dup", "gopher", "rare_tokens", "ok",
    }
    # the %9=2 prefix-dup feed tier exists so the span gate is non-vacuous
    assert "span_dup" in reasons
