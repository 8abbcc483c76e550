"""Operator-level tests for the pipeline toolkit (dedup/similarity/text/
multimodal) at sf0.001, plus cross-checks between exact and approximate
variants."""

import pytest
from pyspark.sql import functions as F

from delta_rs_spark.operators import dedup, multimodal, similarity, text, timeseries
from delta_rs_spark.sources.tables import load_table


@pytest.fixture()
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture()
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_exact_dedup_no_dupes(spark, docs):
    out = dedup.exact_dedup(docs, ["text"])
    assert out.count() == docs.select("text").distinct().count()
    # idempotent: dedup of dedup output is a no-op
    assert out.count() == out.groupBy("key_hash").count().count()


def test_exact_dedup_synthetic(spark):
    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], "doc_id long, text string"
    )
    out = dedup.exact_dedup(df, ["text"]).orderBy("doc_id").collect()
    assert [r.doc_id for r in out] == [1, 3]


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),
            (3, "completely different words here now ok yes no"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.8).collect()
    assert len(pairs) == 1
    assert (pairs[0].doc_a, pairs[0].doc_b) == (1, 2)
    assert pairs[0].jaccard == 1.0


def test_minhash_recall_vs_exact(spark, docs):
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_dedup(docs, threshold=0.8).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    # verification step guarantees precision; banding should catch ~all at 0.9+
    assert approx <= exact
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"minhash recall too low: {recall}"


def test_minhash_signature_deterministic(spark, docs):
    s1 = dedup.minhash_signatures(docs.limit(20)).orderBy("doc_id").collect()
    s2 = dedup.minhash_signatures(docs.limit(20)).orderBy("doc_id").collect()
    assert [r.signature for r in s1] == [r.signature for r in s2]


def test_simhash_identical_and_distinct(spark):
    df = spark.createDataFrame(
        [
            (1, "spark delta table query engine fast columnar scan"),
            (2, "spark delta table query engine fast columnar scan"),
            (3, "entirely unrelated text about gardening tulips soil water sun"),
        ],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_pairs(df, max_hamming=3).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(1, 2)}
    assert pairs[0].hamming == 0


def test_embedding_cosine_pairs_self_similarity(spark, emb):
    # every vector has cosine 1.0 with itself — pairs exclude self, so make a
    # dupe of a deterministic row (limit() order is arbitrary once the load
    # path repartitions)
    base = emb.filter(F.col("vec_id") < 50)
    dup = base.filter(F.col("vec_id") == 0).withColumn("vec_id", F.lit(999_999))
    out = dedup.embedding_cosine_pairs(base.union(dup), threshold=0.999)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0].cosine == pytest.approx(1.0, abs=1e-3)


def test_cosine_topk_shape_and_order(spark, emb):
    out = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5).collect()
    assert len(out) == 15
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        ranks = [r.rank for r in rows]
        assert ranks == [1, 2, 3, 4, 5]
        cosines = [r.cosine for r in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_lsh_topk_subset_of_exact_topn(spark, emb):
    """LSH neighbors must be genuine vectors with correct cosines (a subset
    of brute-force candidates), even when recall < 1."""
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=500).collect()
    }
    approx = similarity.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=5, n_planes=4
    ).collect()
    for r in approx:
        assert exact[(r.query_id, r.neighbor_id)] == r.cosine


def test_ivf_topk_shape_and_cosines_match_exact(spark, emb):
    """IVF results are genuine vectors with exact cosines; full probing
    (n_probe == n_list) degenerates to the exact answer."""
    queries = emb.filter(F.col("vec_id") < 3)
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.cosine_topk(emb, queries, k=500).collect()
    }
    approx = similarity.ivf_topk(emb, queries, k=5, n_list=8, n_probe=2).collect()
    assert len(approx) > 0
    for r in approx:
        assert exact[(r.query_id, r.neighbor_id)] == pytest.approx(r.cosine, abs=2e-6)

    full = similarity.ivf_topk(emb, queries, k=5, n_list=8, n_probe=8).collect()
    exact5 = similarity.cosine_topk(emb, queries, k=5).collect()
    assert {(r.query_id, r.neighbor_id) for r in full} == {
        (r.query_id, r.neighbor_id) for r in exact5
    }


def test_ivf_centroids_deterministic(spark, emb):
    c1 = similarity.train_ivf_centroids(emb, n_list=4, iters=1)
    c2 = similarity.train_ivf_centroids(emb, n_list=4, iters=1)
    assert len(c1) == 4
    assert c1 == c2


def test_asof_join_basic_ties_and_missing(spark):
    left = spark.createDataFrame(
        [(1, "u", 10.0), (2, "u", 20.0), (3, "u", 5.0), (4, "v", 10.0)],
        "id LONG, k STRING, t DOUBLE",
    )
    right = spark.createDataFrame(
        [("u", 10.0, "a"), ("u", 15.0, "b"), ("w", 1.0, "z")],
        "k STRING, t DOUBLE, tag STRING",
    )
    out = {
        r.id: (r.t_right, r.tag_right)
        for r in timeseries.asof_join(left, right, on="t", by="k").collect()
    }
    assert out[1] == (10.0, "a")  # exact-time tie matches
    assert out[2] == (15.0, "b")  # latest prior
    assert out[3] == (None, None)  # nothing at or before t=5
    assert out[4] == (None, None)  # key with no right rows


def test_asof_join_null_right_attr_not_blended(spark):
    """A matched right row with a null attribute must yield null, not an
    older row's value."""
    left = spark.createDataFrame([(1, 30.0)], "id LONG, t DOUBLE")
    right = spark.createDataFrame([(10.0, "old"), (20.0, None)], "t DOUBLE, tag STRING")
    r = timeseries.asof_join(left, right, on="t").collect()[0]
    assert r.t_right == 20.0
    assert r.tag_right is None


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame([(1, 100.0), (2, 200.0)], "id LONG, t DOUBLE")
    right = spark.createDataFrame([(95.0, "x")], "t DOUBLE, tag STRING")
    out = {
        r.id: (r.t_right, r.tag_right)
        for r in timeseries.asof_join(left, right, on="t", tolerance=F.lit(10.0)).collect()
    }
    assert out[1] == (95.0, "x")
    assert out[2] == (None, None)  # match is 105 units stale, > tolerance


def test_lang_id_deterministic_and_total(spark, docs):
    out = text.lang_id(docs)
    assert out.count() == docs.count()
    langs = {r.lang_guess for r in out.select("lang_guess").distinct().collect()}
    assert langs <= set(text.LANG_PROFILES) | {"und"}


def test_quality_score_range(spark, docs):
    out = text.quality_score(docs)
    rows = out.collect()
    assert all(0 <= r.quality_score <= 4 for r in rows)
    assert all(r.n_words > 0 for r in rows)


def test_token_count_simple(spark):
    df = spark.createDataFrame([(1, "hello world, foo-bar!")], "doc_id long, text string")
    r = text.token_count(df).collect()[0]
    assert r.ws_tokens == 3
    # hello, world, ',', foo, '-', bar, '!'
    assert r.regex_tokens == 7


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "  HELLO WORLD  ")],
        "doc_id long, text string",
    )
    out = text.fingerprint(df).collect()
    assert len({r.fingerprint for r in out}) == 1
    assert all(r.fingerprint64 > 0 for r in out)


def test_multimodal_features_deterministic(spark, docs):
    payloads = multimodal.attach_binary_payload(docs.limit(10))
    feats = multimodal.extract_features(payloads).orderBy("doc_id").collect()
    assert len(feats) == 10
    for r in feats:
        assert 1 <= r.fake_width <= 640
        assert 1 <= r.fake_height <= 480
        assert r.n_bytes > 0
    # driver-side recompute agrees (same stub, same bytes)
    row = payloads.orderBy("doc_id").first()
    expected = multimodal.decode_stub(bytes(row.payload))
    assert feats[0].checksum32 == expected["checksum32"]


def test_multimodal_unknown_codec_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_stub(b"bytes", codec="jpeg")


def test_range_join_bucket_boundaries(spark):
    """Pairs must match exactly the half-open predicate regardless of where
    intervals sit relative to bucket edges."""
    points = spark.createDataFrame([(float(t),) for t in range(0, 100, 7)], "ts DOUBLE")
    intervals = spark.createDataFrame(
        [(0.0, 10.0), (9.5, 30.0), (95.0, 200.0), (40.0, 40.0)],  # incl. empty interval
        "start DOUBLE, end DOUBLE",
    )
    got = {
        (r.ts, r.start, r.end)
        for r in timeseries.range_join(
            points, intervals, on="ts", bucket_width=10.0
        ).collect()
    }
    expected = {
        (float(t), s, e)
        for t in range(0, 100, 7)
        for s, e in [(0.0, 10.0), (9.5, 30.0), (95.0, 200.0), (40.0, 40.0)]
        if s <= t < e
    }
    assert got == expected


def test_range_join_timestamp_columns(spark):
    """Timestamp-typed points/intervals bucket via epoch seconds (no direct
    numeric cast exists for TIMESTAMP_NTZ); results must match the half-open
    predicate exactly."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    points = spark.createDataFrame(
        [(base + dt.timedelta(minutes=m),) for m in range(0, 180, 13)],
        "ts TIMESTAMP",
    )
    intervals = spark.createDataFrame(
        [
            (base, base + dt.timedelta(hours=1)),
            (base + dt.timedelta(minutes=45), base + dt.timedelta(hours=2)),
        ],
        "start TIMESTAMP, end TIMESTAMP",
    )
    got = {
        (r.ts, r.start)
        for r in timeseries.range_join(
            points, intervals, on="ts", bucket_width=3600.0
        ).collect()
    }
    expected = {
        (base + dt.timedelta(minutes=m), s)
        for m in range(0, 180, 13)
        for s, e in [
            (base, base + dt.timedelta(hours=1)),
            (base + dt.timedelta(minutes=45), base + dt.timedelta(hours=2)),
        ]
        if s <= base + dt.timedelta(minutes=m) < e
    }
    assert got == expected


def test_multimodal_resize_and_frame_sample(spark, docs):
    payloads = multimodal.attach_binary_payload(docs.limit(20))
    resized = multimodal.resize(payloads, 32, 32).collect()
    assert len(resized) == 20
    orig = {r.doc_id: r.payload for r in payloads.collect()}
    for r in resized:
        assert (r.target_width, r.target_height) == (32, 32)
        assert 1 <= len(r.payload) <= len(orig[r.doc_id])

    frames = multimodal.frame_sample(payloads, every_n_bytes=64, max_frames=4)
    rows = frames.collect()
    assert len(rows) > 20  # 1→N expansion happened
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, fs in by_doc.items():
        assert [f.frame_no for f in sorted(fs, key=lambda x: x.frame_no)] == list(range(len(fs)))
        assert len(fs) <= 4
        # frames re-concatenate to a prefix of the original payload
        joined = b"".join(f.frame for f in sorted(fs, key=lambda x: x.frame_no))
        assert orig[doc_id][: len(joined)] == joined


def test_salted_count_distinct_exact(spark):
    from delta_rs_spark.operators import skew

    df = spark.createDataFrame(
        [(i % 2, f"v{i % 37}") for i in range(1000)] + [(0, None)], "k LONG, v STRING"
    )
    got = {r.k: r.v_distinct for r in skew.salted_count_distinct(df, ["k"], "v").collect()}
    exact = {
        r.k: r.n
        for r in df.groupBy("k").agg(F.count_distinct("v").alias("n")).collect()
    }
    assert got == exact


def test_salt_join_key_preserves_join_result(spark):
    from delta_rs_spark.operators import skew

    facts = spark.createDataFrame([(i, i % 3) for i in range(300)], "id LONG, k LONG")
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k LONG, tag STRING")
    sf, sd = skew.salt_join_key(facts, dim, "k", n_salts=8)
    salted = sf.join(sd, ["k", "_salt"]).select("id", "k", "tag")
    plain = facts.join(dim, "k").select("id", "k", "tag")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_split_deterministic_and_partition_invariant(spark, docs):
    from delta_rs_spark.operators import sampling

    s1 = {(r.doc_id, r.split) for r in sampling.train_val_test_split(docs).select("doc_id", "split").collect()}
    s2 = {
        (r.doc_id, r.split)
        for r in sampling.train_val_test_split(docs.repartition(7)).select("doc_id", "split").collect()
    }
    assert s1 == s2
    by_split = {}
    for _, sp in s1:
        by_split[sp] = by_split.get(sp, 0) + 1
    n = len(s1)
    assert 0.7 < by_split["train"] / n < 0.9
    assert set(by_split) == {"train", "val", "test"}


def test_deterministic_sample_is_stable_and_nested(spark, docs):
    from delta_rs_spark.operators import sampling

    ten = {r.doc_id for r in sampling.deterministic_sample(docs, 0.1).select("doc_id").collect()}
    thirty = {r.doc_id for r in sampling.deterministic_sample(docs, 0.3).select("doc_id").collect()}
    again = {r.doc_id for r in sampling.deterministic_sample(docs, 0.1).select("doc_id").collect()}
    assert ten == again
    assert ten <= thirty  # smaller fraction is a subset of the larger
    assert 0.03 < len(ten) / docs.count() < 0.2


# ---------------------------------------------------------------------------
# Connected components / corpus stats / repetition
# ---------------------------------------------------------------------------

def test_connected_components_chain_and_islands(spark):
    from delta_rs_spark.operators import clustering

    # chain 1-2-3-4 (diameter 3, forces multiple propagation rounds),
    # pair {10,11}, triangle {20,21,22}; 99 is a singleton (absent from edges)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    out = {
        r.node: r.cluster_id
        for r in clustering.connected_components(edges).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_empty_edges(spark):
    from delta_rs_spark.operators import clustering

    edges = spark.createDataFrame([], "doc_a long, doc_b long")
    assert clustering.connected_components(edges).count() == 0


def test_connected_components_long_chain_converges(spark):
    """VERDICT r8 #2: a 30-node chain (diameter 29 > the old max_iter=25)
    — progressive near-dup edits / templated boilerplate produce exactly
    this shape — must still collapse to ONE cluster. Plain min-label
    propagation needs diameter rounds and silently returned split labels;
    the pointer-jumping shortcut converges in O(log diameter) rounds."""
    from delta_rs_spark.operators import clustering

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "doc_a long, doc_b long"
    )
    out = {
        r.node: r.cluster_id
        for r in clustering.connected_components(edges).collect()
    }
    assert out == {i: 0 for i in range(31)}


def test_connected_components_raises_on_exhausted_iterations(spark):
    """If the round cap is exhausted short of the fixed point the labels are
    WRONG (one component split into several) — the function must raise, not
    return them: every keeplist sits on this."""
    import pytest as _pytest

    from delta_rs_spark.operators import clustering

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        clustering.connected_components(edges, max_iter=2)


def test_contamination_rates_synthetic(spark):
    from delta_rs_spark.operators import corpus

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox", "bench"),
            (2, "the quick brown fox jumps", "train"),  # 3 trigrams, 2 in bench
            (3, "entirely different words here", "train"),  # 0 overlap
            (4, "xy", "train"),  # < 3 words: excluded
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r.doc_id: (r.n_shingles, r.n_contaminated, r.contamination_rate)
        for r in corpus.contamination_rates(df, F.col("source") == "bench").collect()
    }
    assert out == {2: (3, 2, 0.666667), 3: (2, 0, 0.0)}


def test_top_ngrams_counts_occurrences(spark):
    from delta_rs_spark.operators import corpus

    df = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b c d")],
        "doc_id long, text string",
    )
    rows = corpus.top_ngrams(df, n=3, k=2).collect()
    # "a b c" occurs twice in doc 1 (positions 0 and 3 wrap? no — occurrences
    # are [a b c, b c a, c a b, a b c] → 2) plus once in doc 2 → 3 total
    assert (rows[0].shingle, rows[0].occurrences) == ("a b c", 3)
    assert rows[0].occurrences > rows[1].occurrences


def test_repetition_score_synthetic(spark):
    out = text.repetition_score(
        spark.createDataFrame(
            [(1, "spam spam spam eggs"), (2, "all words differ here")],
            "doc_id long, text string",
        )
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n_words == 4
    assert by_id[1].n_distinct_words == 2
    assert by_id[1].top_word_count == 3
    assert by_id[1].repetition_ratio == 0.75
    assert by_id[2].repetition_ratio == 0.25
    assert by_id[2].distinct_ratio == 1.0


def test_tfidf_top_terms_synthetic(spark):
    from delta_rs_spark.operators import corpus

    # "rare" appears twice in doc 1 only (tf=2, df=1); "common" is in all docs
    df = spark.createDataFrame(
        [(1, "rare rare common stuff"), (2, "common other"), (3, "common thing")],
        "doc_id long, text string",
    )
    out = corpus.tfidf_top_terms(df, k=1).collect()
    top = {r.doc_id: r for r in out}
    assert top[1].term == "rare" and top[1].tf == 2 and top[1].df == 1
    # idf of an everywhere-term is ln(4/4) = 0 → never tops a doc with a rarer term
    assert all(r.term != "common" for r in out if r.doc_id == 1)


def test_numeric_histogram_clamps_and_counts(spark):
    from delta_rs_spark.operators import profiling

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.9,), (10.0,), (95.0,), (200.0,), (None,)],
        "x double",
    )
    out = {r.bin: r.n for r in profiling.numeric_histogram(df, "x", 0.0, 100.0, 10).collect()}
    # -5 clamps to bin 0; 0 and 9.9 are bin 0; 10.0 opens bin 1; 200 clamps to bin 9
    assert out == {0: 3, 1: 1, 9: 2}


def test_column_profile_single_scan(spark):
    from delta_rs_spark.operators import profiling

    df = spark.createDataFrame(
        [(1.0, None), (2.0, 5.0), (2.0, 7.0)], "a double, b double"
    )
    out = {r.column: r for r in profiling.column_profile(df, ["a", "b"]).collect()}
    assert (out["a"].n_rows, out["a"].n_nulls, out["a"].n_distinct) == (3, 0, 2)
    assert (out["b"].n_rows, out["b"].n_nulls, out["b"].n_distinct) == (2, 1, 2)
    assert out["b"].min_value == 5.0 and out["b"].max_value == 7.0


def test_connected_components_matches_union_find(spark):
    """Randomized cross-check: Spark min-label propagation must agree with a
    driver-side union-find on arbitrary small graphs (including long chains,
    which need several propagation rounds)."""
    import random

    rng = random.Random(7)
    from delta_rs_spark.operators import clustering

    for trial in range(4):
        n_nodes = rng.randint(2, 30)
        n_edges = rng.randint(1, 40)
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes)) for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b] or [(0, 1)]

        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for e in edges for x in e}
        expected = {x: find(x) for x in touched}
        # canonical label = min member of the component
        comp_min: dict[int, int] = {}
        for x, r in expected.items():
            comp_min[r] = min(comp_min.get(r, x), x)
        expected = {x: comp_min[find(x)] for x in touched}

        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r.node: r.cluster_id
            for r in clustering.connected_components(df).collect()
        }
        assert got == expected, f"trial {trial}: {got} != {expected}"


def test_grouped_split_is_group_coherent(spark, docs):
    from delta_rs_spark.operators.sampling import grouped_split

    out = grouped_split(docs, "source")
    # every source maps to exactly one split
    per_source = out.groupBy("source").agg(
        F.count_distinct("split").alias("k")
    ).collect()
    assert all(r.k == 1 for r in per_source)


def test_mixture_sample_rates_and_determinism(spark, docs):
    from delta_rs_spark.operators.sampling import mixture_sample

    rates = {"src0": 1.0, "src1": 0.0}
    kept = mixture_sample(docs, rates, default_rate=0.5)
    by_src = {r.source: r.n for r in kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r.source: r.n for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_src["src0"] == totals["src0"]      # rate 1.0 keeps everything
    assert "src1" not in by_src                   # rate 0.0 keeps nothing
    # deterministic: second run identical
    again = {r.source: r.n for r in mixture_sample(docs, rates, default_rate=0.5)
             .groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert again == by_src


def test_resample_locf_fills_gaps(spark):
    from delta_rs_spark.operators import timeseries

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:30", 10.0),
            (1, "2024-01-01 00:03:10", 20.0),   # lands in bucket 00:03
            (2, "2024-01-01 00:01:00", 5.0),
        ],
        "user_id long, ts_s string, value double",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    out = timeseries.resample_locf(
        df, "user_id", "ts", "value", 60, "2024-01-01 00:00:00", "2024-01-01 00:04:00"
    ).collect()
    grid = {(r.user_id, r.bucket_ts.minute): (r.value, r.observed) for r in out}
    assert len(out) == 10  # 2 keys × 5 buckets
    assert grid[(1, 0)] == (10.0, True)
    assert grid[(1, 1)] == (10.0, False)  # carried forward
    assert grid[(1, 2)] == (10.0, False)
    assert grid[(1, 3)] == (20.0, True)
    assert grid[(2, 0)] == (None, False)  # before first obs: no value yet
    assert grid[(2, 1)] == (5.0, True)
    assert grid[(2, 4)] == (5.0, False)


def test_chunk_documents_overlap_and_tail(spark):
    out = text.chunk_documents(
        spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(10))), (2, "tiny doc")],
            "doc_id long, text string",
        ),
        chunk_tokens=4,
        overlap=2,
    ).collect()
    by = {(r.doc_id, r.chunk_id): r for r in out}
    # doc 1: 10 tokens, stride 2 → ceil((10-2)/2) = 4 chunks
    assert max(c for d, c in by if d == 1) == 3
    assert by[(1, 0)].chunk_text == "w0 w1 w2 w3"
    assert by[(1, 1)].chunk_text == "w2 w3 w4 w5"   # 2-token overlap
    assert by[(1, 3)].chunk_text == "w6 w7 w8 w9"
    assert by[(1, 3)].n_tokens == 4
    # doc 2 shorter than one chunk → exactly one (short) chunk
    assert by[(2, 0)].chunk_text == "tiny doc" and by[(2, 0)].n_tokens == 2
    assert (2, 1) not in by
    import pytest as _pytest
    with _pytest.raises(ValueError):
        text.chunk_documents(spark.range(1).selectExpr("id as doc_id", "'x' as text"),
                             chunk_tokens=4, overlap=4)


def test_pack_sequences_budget_and_order(spark):
    # single bucket (n_buckets=1) → one global fill order by (doc, chunk)
    chunks = spark.createDataFrame(
        [(1, 0, 100), (1, 1, 100), (2, 0, 100), (3, 0, 50)],
        "doc_id long, chunk_id int, n_tokens int",
    )
    out = text.pack_sequences(chunks, token_budget=256, n_buckets=1).collect()
    by = {(r.doc_id, r.chunk_id): r.seq_in_bucket for r in out}
    # cum_before: 0, 100, 200, 300 → seqs 0,0,0,1
    assert by == {(1, 0): 0, (1, 1): 0, (2, 0): 0, (3, 0): 1}
    # seq_key is globally unique across buckets
    keys = {r.seq_key for r in out}
    assert len(keys) == 2


def test_stratified_take_exact_counts_and_determinism(spark, sf_dir):
    import os

    from delta_rs_spark.operators import sampling

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out = sampling.stratified_take(docs, "source", 5, id_col="doc_id")
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    n_sources = docs.select("source").distinct().count()
    assert len(counts) == n_sources
    assert all(n == 5 for n in counts.values())
    # deterministic under repartitioning: same rows regardless of layout
    ids1 = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    out2 = sampling.stratified_take(docs.repartition(13), "source", 5, id_col="doc_id")
    ids2 = sorted(r["doc_id"] for r in out2.select("doc_id").collect())
    assert ids1 == ids2


def test_pii_redact_patterns(spark):
    from delta_rs_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "server at 192.168.1.254 down"),
            (3, "call +1 (555) 123-4567 today"),
            (4, "clean text, no identifiers here"),
            (5, "a@b.io and 10.0.0.1 and +44 20 7946 0958"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r.text_redacted for r in pii_redact(df).collect()}
    assert out[1] == "mail <EMAIL> now"
    assert out[2] == "server at <IP> down"
    assert out[3] == "call <PHONE> today"
    assert out[4] == "clean text, no identifiers here"
    assert out[5] == "<EMAIL> and <IP> and <PHONE>"


def test_contamination_bloom_matches_exact(spark):
    from delta_rs_spark.operators.corpus import (
        contamination_rates,
        contamination_rates_bloom,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "bench"),
            (2, "the quick brown fox sat still all day long", "train"),
            (3, "completely unrelated words about maritime law", "train"),
            (4, "the quick brown fox jumps over the lazy dog", "train"),
        ],
        ["doc_id", "text", "source"],
    )
    cond = F.col("source") == "bench"
    exact = sorted(map(tuple, contamination_rates(df, cond).collect()))
    bloom = sorted(map(tuple, contamination_rates_bloom(spark, df, cond).collect()))
    assert exact == bloom
    by_id = {r[0]: r for r in bloom}
    assert by_id[4][2] == by_id[4][1]  # verbatim copy: fully contaminated
    assert by_id[3][2] == 0  # unrelated doc: zero hits survive the verify join


def test_quantized_topk_recovers_exact_topk(spark, sf_dir):
    """int8 candidate scoring + exact rerank: with 4x oversampling the
    recovered top-k matches the exact brute force on the test embeddings."""
    import os

    from delta_rs_spark.operators.similarity import cosine_topk, quantized_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    probes = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.rank): r.neighbor_id for r in cosine_topk(emb, probes, k=10).collect()}
    quant = {(r.query_id, r.rank): r.neighbor_id for r in quantized_topk(emb, probes, k=10).collect()}
    assert quant == exact


def test_lsh_bucketed_pairs_high_threshold_near_dups(spark):
    """The realistic near-dup regime (threshold 0.9, genuinely close pairs):
    banded-LSH pairs == brute force on seeded random vectors with planted
    near-duplicates — exercising the few-bands/many-rows parameter branch."""
    import numpy as np

    from delta_rs_spark.operators.dedup import embedding_cosine_pairs
    from delta_rs_spark.operators.similarity import _band_params

    r, b = _band_params(0.9)
    assert r >= 4  # high threshold earns real per-band pruning

    rng = np.random.default_rng(7)
    base = rng.normal(size=(100, 32))
    near = base[:12] + 0.08 * rng.normal(size=(12, 32))  # planted near-dups
    vecs = np.vstack([base, near])
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id INT, embedding ARRAY<FLOAT>",
    )
    brute = sorted(
        map(tuple, embedding_cosine_pairs(df, 0.9, method="brute", dim=32).collect())
    )
    lsh = sorted(
        map(tuple, embedding_cosine_pairs(df, 0.9, method="lsh", dim=32).collect())
    )
    assert len(brute) >= 10  # the planted pairs are actually above threshold
    assert lsh == brute


def _mk_png(width, height, rows, filters):
    """Tiny PNG encoder for tests: 8-bit RGB, per-row forward filtering."""
    import struct
    import zlib

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    bpp = 3
    raw = b""
    prev = bytes(width * bpp)
    for line, f in zip(rows, filters):
        line = bytes(line)
        filt = bytearray(line)
        if f == 1:  # Sub
            for x in range(len(line) - 1, bpp - 1, -1):
                filt[x] = (line[x] - line[x - bpp]) & 255
        elif f == 2:  # Up
            for x in range(len(line)):
                filt[x] = (line[x] - prev[x]) & 255
        elif f == 3:  # Average
            for x in range(len(line)):
                a = line[x - bpp] if x >= bpp else 0
                filt[x] = (line[x] - ((a + prev[x]) >> 1)) & 255
        elif f == 4:  # Paeth
            for x in range(len(line)):
                a = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[x] = (line[x] - pred) & 255
        raw += bytes([f]) + bytes(filt)
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib_compress(raw))
        + chunk(b"IEND", b"")
    )


def zlib_compress(raw):
    import zlib

    return zlib.compress(raw)


def _mk_wav(n_samples=800, rate=8000, amp=10000):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        frames = b"".join(
            struct.pack("<h", int(amp * math.sin(2 * math.pi * 440 * i / rate)))
            for i in range(n_samples)
        )
        wf.writeframes(frames)
    return buf.getvalue()


def test_png_decode_all_filters():
    import random

    from delta_rs_spark.operators.multimodal import _decode_png

    rng = random.Random(3)
    w, h = 9, 5
    rows = [[rng.randrange(256) for _ in range(w * 3)] for _ in range(h)]
    for filters in ([0] * h, [1] * h, [2] * h, [3] * h, [4] * h, [0, 1, 2, 3, 4]):
        png = _mk_png(w, h, rows, filters)
        d = _decode_png(png)
        assert (d["width"], d["height"], d["channels"]) == (w, h, 3)
        expected_mean = sum(sum(r) for r in rows) / (w * h * 3)
        assert abs(d["mean_pixel"] - expected_mean) < 1e-3, filters


def test_wav_decode_properties():
    import math

    from delta_rs_spark.operators.multimodal import _decode_wav

    d = _decode_wav(_mk_wav(n_samples=800, rate=8000, amp=10000))
    assert d["sample_rate"] == 8000
    assert d["n_samples"] == 800
    assert abs(d["duration_s"] - 0.1) < 1e-9
    # full cycles of a sine: RMS ~ amp/sqrt(2)
    assert abs(d["rms"] - 10000 / math.sqrt(2)) / (10000 / math.sqrt(2)) < 0.01


def test_extract_media_features_mixed_codecs(spark):
    from delta_rs_spark.operators.multimodal import extract_media_features

    png = _mk_png(4, 3, [[10] * 12] * 3, [0, 0, 0])
    wav = _mk_wav(n_samples=400)
    df = spark.createDataFrame(
        [(1, bytearray(png), ("png",)), (2, bytearray(wav), ("wav",))],
        "doc_id LONG, payload BINARY, media_meta STRUCT<codec: STRING>",
    )
    out = {r.doc_id: r for r in extract_media_features(df).collect()}
    assert (out[1].width, out[1].height, out[1].channels) == (4, 3, 3)
    assert out[1].mean_pixel == 10.0
    assert out[1].sample_rate is None
    assert out[2].sample_rate == 8000 and out[2].n_samples == 400
    assert out[2].width is None


def test_gopher_rules_signals(spark):
    from delta_rs_spark.operators import text as T

    rows = [
        # 45 stop-ish words, mean len fine, has >=2 stopwords -> passes
        (1, " ".join(["the", "and", "of"] + ["token"] * 42)),
        # too short -> fails word-count rule
        (2, "the and a few words only"),
        # no stopwords -> fails stopword rule
        (3, " ".join(["zebra"] * 60)),
        # numeric words -> fails alpha fraction
        (4, " ".join(["123"] * 50 + ["the", "and"])),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in T.gopher_rules(df).collect()}
    assert out[1].passes and out[1].stop_hits >= 2
    assert not out[2].passes and out[2].n_words == 6
    assert not out[3].passes and out[3].stop_hits == 0
    assert not out[4].passes and out[4].alpha_frac < 0.8


def test_boilerplate_ratio_hot_shingles(spark):
    from delta_rs_spark.operators import text as T

    # "a b c" appears in all 4 docs (hot at max_doc_freq=3); tails differ
    rows = [(i, f"a b c unique{i} tail{i} end{i}") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in T.boilerplate_ratio(df, n=3, max_doc_freq=3).collect()}
    for i in range(4):
        assert out[i].n_shingles == 4
        assert out[i].n_hot == 1  # only "a b c" crosses the df threshold
        assert out[i].boilerplate_ratio == 0.25


def test_semantic_keeplist_min_id_survives(spark):
    from delta_rs_spark.operators import dedup

    # 0 ~ 1 (identical), 2 orthogonal, 3 ~ 0 scaled -> cluster {0,1,3} keeps 0
    vecs = [
        (0, [1.0, 0.0] + [0.0] * 62),
        (1, [1.0, 0.0] + [0.0] * 62),
        (2, [0.0, 1.0] + [0.0] * 62),
        (3, [2.0, 0.0] + [0.0] * 62),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    kept = sorted(r.vec_id for r in dedup.semantic_keeplist(df, threshold=0.9).collect())
    assert kept == [0, 2]


@pytest.mark.slow  # builder tier: see pyproject [tool.pytest.ini_options]
def test_semantic_keeplist_collapsed_equals_uncollapsed_on_degenerate_cluster(
    spark,
):
    """The degeneracy-safe path's equality proof, exercised on exactly the
    corpus shape it exists for: a 500-copy byte-identical cluster (Θ(c²) =
    ~125k pairs for the uncollapsed path, ONE group for the collapsed one),
    a scaled near-dup of it under a different keeper, an orthogonal
    singleton, two zero vectors (never pairable — both must survive and
    must NOT be collapsed together), a NULL embedding and an all-NULL
    element array (ADVICE r9: F.exists is NULL on those, so an uncoalesced
    filter pair dropped them from BOTH branches — silently deleting the
    documents; the uncollapsed path keeps them, so equality pins the
    fix)."""
    from delta_rs_spark.operators import dedup

    nan, inf = float("nan"), float("inf")
    rows = (
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(100, 600)]  # exact clones
        + [(50, [2.0, 0.0, 0.0, 0.0])]   # near-dup of the clones, smaller id
        + [(7, [0.0, 1.0, 0.0, 0.0])]    # orthogonal singleton
        + [(1, [0.0] * 4), (2, [0.0] * 4)]  # zero vectors
        + [(3, None), (4, [None] * 4)]   # NULL embedding / all-NULL elements
        # non-finite elements: Spark groups NaN = NaN, so an uncoalesced
        # collapse would delete one of each pair the uncollapsed path
        # keeps (NaN-norm vectors never pair — same ADVICE-r9 class)
        + [(5, [nan, 1.0, 0.0, 0.0]), (6, [nan, 1.0, 0.0, 0.0])]
        + [(8, [inf, 0.0, 0.0, 0.0]), (9, [inf, 0.0, 0.0, 0.0])]
        + [(11, [1.0, None, 0.0, 0.0]), (12, [1.0, None, 0.0, 0.0])]
    )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    fast = sorted(
        r.vec_id
        for r in dedup.semantic_keeplist_collapsed(df, threshold=0.9).collect()
    )
    slow = sorted(
        r.vec_id for r in dedup.semantic_keeplist(df, threshold=0.9).collect()
    )
    assert fast == slow == [1, 2, 3, 4, 5, 6, 7, 8, 9, 11, 12, 50]


# ---------------------------------------------------------------------------
# Round-3 late additions: unigram LM, global shuffle shards, random projection
# ---------------------------------------------------------------------------


def test_unigram_lm_common_words_score_higher(spark):
    from delta_rs_spark.operators import corpus

    rows = [
        (1, "the the the the the"),          # all head tokens
        (2, "zxqv aardwolf quokka xylyl b"),  # all hapaxes
        (3, "the the the quokka the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in corpus.unigram_lm_scores(df).collect()}
    assert out[1].n_tokens == 5 and out[2].n_tokens == 5
    # more in-model mass => higher mean log-probability
    assert out[1].avg_logprob > out[3].avg_logprob > out[2].avg_logprob
    # doc 1 is all 'the' (c=9 of N=15): score is exactly ln(9/15)
    import math

    assert out[1].avg_logprob == pytest.approx(math.log(9 / 15), abs=1e-6)


def test_global_shuffle_shards_deterministic_and_dense(spark, docs):
    from delta_rs_spark.operators import sampling

    out = sampling.global_shuffle_shards(docs, num_shards=4).collect()
    assert len(out) == docs.count()
    assert {r.shard for r in out} <= set(range(4))
    # dense 1..n positions inside each shard
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # invariant under input partitioning (a cluster-size proxy)
    again = sampling.global_shuffle_shards(docs.repartition(7), num_shards=4).collect()
    assert {(r.shard, r.pos, r.doc_id) for r in again} == {
        (r.shard, r.pos, r.doc_id) for r in out
    }


def test_random_projection_is_shuffle_free_and_distance_preserving(spark, emb):
    import math

    from delta_rs_spark.operators import similarity
    from delta_rs_spark.plans import summarize

    # plan shape: over a raw scan (load_table's fan-out repartition would
    # contribute its own exchange) the projection adds NO exchange
    raw = spark.read.parquet(str(emb.inputFiles()[0]).replace("file:", ""))
    s = summarize(similarity.random_projection(raw, in_dim=64, out_dim=16))
    assert s.exchanges == 0, "projection must stay a narrow map"
    out = similarity.random_projection(emb, in_dim=64, out_dim=16)
    rows = out.orderBy("vec_id").limit(64).collect()
    assert len(rows[0]) == 17  # id + 16 components
    # JL sanity: projected norms concentrate around original norms
    orig = {
        r.vec_id: math.sqrt(sum(x * x for x in r.embedding))
        for r in emb.orderBy("vec_id").limit(64).collect()
    }
    for r in rows:
        pn = math.sqrt(sum(r[f"rp{j:02d}"] ** 2 for j in range(16)))
        assert 0.4 * orig[r.vec_id] <= pn <= 1.9 * orig[r.vec_id]


def test_resample_locf_unaligned_start(spark):
    """Buckets anchor at start_ts: a start that is not a multiple of the
    step from the epoch must still match observations (epoch-aligned
    flooring silently returned all-NULLs)."""
    from delta_rs_spark.operators import timeseries

    df = spark.createDataFrame(
        [("k", "2024-01-01 00:35:00", 1.0), ("k", "2024-01-01 01:40:00", 2.0)],
        "key string, ts string, value double",
    ).selectExpr("key", "CAST(ts AS TIMESTAMP) ts", "value")
    out = timeseries.resample_locf(
        df,
        key_col="key",
        ts_col="ts",
        value_col="value",
        start_ts="2024-01-01 00:30:00",  # NOT hour-aligned
        end_ts="2024-01-01 02:30:00",
        step_seconds=3600,
    ).orderBy("bucket_ts").collect()
    assert [r.value for r in out] == [1.0, 2.0, 2.0]
    assert [bool(r.observed) for r in out] == [True, True, False]


def test_exact_dedup_null_columns_do_not_collide(spark):
    from delta_rs_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "x", None), (2, None, "x"), (3, "x", None)],
        "doc_id long, a string, b string",
    )
    out = dedup.exact_dedup(df, ["a", "b"]).collect()
    # (x, NULL) and (NULL, x) are DIFFERENT keys; rows 1 and 3 collapse
    assert sorted(r.doc_id for r in out) == [1, 2]


def test_dedup_index_sees_update_postimage(spark, tmp_path):
    from delta_rs_spark.operators.dedup import update_dedup_index

    corpus_uri = str(tmp_path / "corpus")
    index_uri = str(tmp_path / "index")
    from delta_rs_spark import DeltaTable, write_deltalake

    write_deltalake(
        spark,
        spark.createDataFrame([(1, "alpha"), (2, "beta")], "doc_id long, text string"),
        corpus_uri,
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    t = DeltaTable(corpus_uri)
    update_dedup_index(spark, t, index_uri)
    # UPDATE doc 1's text to "gamma"; the index must learn hash("gamma")
    t.update_where(spark, "doc_id = 1", {"text": "'gamma'"})
    t = DeltaTable(corpus_uri)
    update_dedup_index(spark, t, index_uri)
    # a NEW doc with the same text is now a detected duplicate, not a new key
    write_deltalake(
        spark,
        spark.createDataFrame([(9, "gamma")], "doc_id long, text string"),
        corpus_uri,
        mode="append",
    )
    t = DeltaTable(corpus_uri)
    res = update_dedup_index(spark, t, index_uri)
    assert res["duplicate_rows"] == 1 and res["new_keys"] == 0


def test_upsert_sink_collapses_batch_duplicates(spark, tmp_path):
    from delta_rs_spark import DeltaTable
    from delta_rs_spark.streaming.sink import UpsertDeltaSink

    uri = str(tmp_path / "t")
    sink = UpsertDeltaSink(
        uri,
        condition="t.id = s.id",
        app_id="cdc",
        dedupe_keys=["id"],
        order_col="seq",
    )
    b0 = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1)], "id long, v long, seq long"
    )
    sink(b0, 0)  # two changes for id=1 in ONE batch: keep seq=2
    got = {r.id: r.v for r in DeltaTable(uri).to_df(spark).collect()}
    assert got == {1: 11, 2: 20}
    b1 = spark.createDataFrame(
        [(1, 12, 3), (1, 13, 4)], "id long, v long, seq long"
    )
    sink(b1, 1)  # matched + duplicated: no multi-match error, latest wins
    got = {r.id: r.v for r in DeltaTable(uri).to_df(spark).collect()}
    assert got == {1: 13, 2: 20}


def test_zero_vectors_never_rank_or_pair(spark):
    """A zero embedding has NaN cosine with everything, and Spark sorts NaN
    above every double — it must be excluded, not ranked #1 everywhere."""
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(1, 5)]
    rows.append((99, [0.0] * 8))  # failed embed
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    top = similarity.cosine_topk(df, df.filter(F.col("vec_id") == 1), k=3).collect()
    assert all(r.neighbor_id != 99 for r in top)
    assert all(r.cosine == r.cosine for r in top)  # no NaN
    pairs = similarity.lsh_bucketed_pairs(df, threshold=0.1, dim=8).collect()
    assert all(99 not in (r.id_a, r.id_b) for r in pairs)


def test_frame_sample_no_trailing_empty_frame(spark):
    df = spark.createDataFrame(
        [(1, bytes(range(128)))], "doc_id long, payload binary"
    )
    out = multimodal.frame_sample(df, every_n_bytes=64, max_frames=8).collect()
    assert len(out) == 2  # exact multiple: ceil(128/64), no empty frame 3
    assert all(len(r.frame) > 0 for r in out)


def test_salted_count_distinct_keeps_all_null_keys(spark):
    from delta_rs_spark.operators.skew import salted_count_distinct

    df = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("orphan", None)], "k string, v string"
    )
    out = {r.k: r.v_distinct for r in salted_count_distinct(df, ["k"], "v").collect()}
    assert out == {"a": 2, "orphan": 0}  # orphan present with 0, not missing


def test_hash_bucket_column_input_honors_salt(spark):
    from delta_rs_spark.operators.sampling import hash_bucket

    df = spark.range(0, 200)
    a = df.select(hash_bucket("id", "s1").alias("b")).collect()
    b = df.select(hash_bucket(F.col("id"), "s1").alias("b")).collect()
    c = df.select(hash_bucket(F.col("id"), "s2").alias("b")).collect()
    assert [r.b for r in a] == [r.b for r in b]  # name/Column identical
    assert [r.b for r in b] != [r.b for r in c]  # salt actually salts


def test_connected_components_string_ids(spark):
    from delta_rs_spark.operators.clustering import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")], "src string, dst string"
    )
    out = {
        r.node: r.cluster_id
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert out["d"] == out["a"] == "a"  # full chain converged, not 1 round
    assert out["y"] == "x"


# ---------------------------------------------------------------------------
# Round-3 (session 7): DSIR importance weights
# ---------------------------------------------------------------------------


def test_dsir_importance_targetlike_docs_weigh_more(spark):
    from delta_rs_spark.operators import corpus

    rows = [
        # target domain: spark-ish vocabulary
        (1, "spark shuffle join agg scan", "t"),
        (2, "spark scan filter shuffle join", "t"),
        # raw docs: one looks like the target, one does not
        (10, "spark shuffle join scan filter", "r"),
        (11, "banana yoga violin marble soup", "r"),
        (12, "spark banana join soup scan", "r"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, grp string")
    out = {
        r.doc_id: r
        for r in corpus.dsir_importance(df, F.col("grp") == "t").collect()
    }
    # only raw docs are scored
    assert sorted(out) == [10, 11, 12]
    assert all(out[d].n_tokens == 5 for d in out)
    # target-like raw doc scores above mixed above off-domain
    assert out[10].avg_logratio > out[12].avg_logratio > out[11].avg_logratio
    # off-domain doc: every token has ct=0 => per-term ln(1) - ln(cr+1) < 0,
    # so its ratio must be below the corpus-constant ln((nr+v)/(nt+v))
    import math

    nt, nr, v = 10, 15, len(
        {w for _, t, _ in rows for w in t.split()}
    )
    assert out[11].avg_logratio < math.log((nr + v) / (nt + v)) + 1e-9


def test_dsir_importance_matches_duckdb_oracle(spark):
    import duckdb

    from delta_rs_spark.operators import corpus

    rows = [
        (i, " ".join(["alpha beta gamma delta".split()[j % 4] for j in range(i, i + 6)]),
         "src0" if i % 3 == 0 else "src5")
        for i in range(1, 13)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = [
        (r.doc_id, r.n_tokens, r.avg_logratio)
        for r in corpus.dsir_importance(
            df, F.col("source").isin("src0", "src1")
        ).orderBy("doc_id").collect()
    ]
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = [
        (int(a), int(b), float(c))
        for a, b, c in con.execute(
            corpus.dsir_importance_oracle_sql()
        ).fetchall()
    ]
    assert got == want


def test_rolling_zscore_flags_injected_outlier(spark):
    from delta_rs_spark.operators import profiling

    rows = [(i, float(100 + (i % 5)), "a") for i in range(60)]
    rows[50] = (50, 10_000.0, "a")  # the outlier
    df = spark.createDataFrame(rows, "event_id long, value double, k string")
    out = {
        r.event_id: r
        for r in profiling.rolling_zscore(
            df, value_col="value", key_col="k", order_cols=("event_id",)
        ).collect()
    }
    assert out[50].is_anomaly and out[50].zscore > 3
    # warm-up rows: no score, explicitly not anomalous
    assert out[5].zscore is None and out[5].is_anomaly is False
    # steady-state rows stay unflagged
    assert not out[40].is_anomaly and abs(out[40].zscore) < 3


def test_blocked_exact_pairs_matches_brute(spark):
    """The GEMM block path is exact: identical pairs + cosines to the
    codegen cross join, across block boundaries (block_size forces a
    multi-block grid)."""
    from delta_rs_spark.operators import dedup, similarity

    import random as _r

    rng = _r.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)
    ] + [(999, [0.0] * 8)]  # zero vector must be excluded, not NaN-paired
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    brute = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_cosine_pairs(
            df, threshold=0.5, method="brute", dim=8
        ).collect()
    }
    block = {
        (r.id_a, r.id_b): r.cosine
        for r in similarity.blocked_exact_pairs(
            df, threshold=0.5, block_size=64
        ).collect()
    }
    assert block == brute and brute  # non-trivial and identical
    assert not any(999 in k for k in block)


def test_blocked_exact_pairs_distributed_grid_variant(spark):
    """Past the literal-grid cutoff the block grid enumerates from two
    integer ranges — output must be identical to the literal-grid path."""
    from delta_rs_spark.operators import similarity

    import random as _r

    rng = _r.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lit = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.blocked_exact_pairs(
            df, threshold=0.5, block_size=32
        ).collect()
    )
    dist = sorted(
        (r.id_a, r.id_b, r.cosine)
        for r in similarity.blocked_exact_pairs(
            df, threshold=0.5, block_size=32, _grid_literal_max=2
        ).collect()
    )
    assert lit == dist and lit


def test_pmi_bigrams_matches_duckdb_oracle(spark):
    import duckdb

    from delta_rs_spark.operators import corpus

    words = "the quick brown fox jumps over lazy dog new york city hall".split()
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(10))
         + " new york" * (i % 3))
        for i in range(1, 25)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.w1, r.w2, r.c_ab, r.pmi)
        for r in corpus.pmi_bigrams(df, min_count=3, top_k=10).collect()
    ]
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = [
        (a, b, int(c), float(p))
        for a, b, c, p in con.execute(
            corpus.pmi_bigrams_oracle_sql(min_count=3, top_k=10)
        ).fetchall()
    ]
    assert got == want
    # adjacent rotation pairs are true collocations: positive association,
    # and every survivor honors the count floor
    top = {(w1, w2): pmi for w1, w2, _, pmi in got}
    assert top.get(("city", "hall"), -1) > 0
    assert all(c >= 3 for _, _, c, _ in got)


def test_source_vocab_overlap_matches_duckdb_oracle(spark):
    import duckdb

    from delta_rs_spark.operators import corpus

    rows = [
        (1, "alpha beta gamma", "s1"),
        (2, "alpha beta delta", "s2"),
        (3, "epsilon zeta", "s3"),
        (4, "beta gamma   alpha", "s1"),  # dup tokens + multi-space
        (5, "alpha", "s3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = [tuple(r) for r in corpus.source_vocab_overlap(df).collect()]
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = [tuple(r) for r in con.execute(corpus.source_vocab_overlap_oracle_sql()).fetchall()]
    norm = lambda xs: [
        (sa, sb, int(va), int(vb), int(i), int(u), round(float(j), 6))
        for sa, sb, va, vb, i, u, j in xs
    ]
    assert norm(got) == norm(want)
    d = {(sa, sb): (i, u) for sa, sb, _, _, i, u, _ in norm(got)}
    # s1 vocab {alpha,beta,gamma}, s2 {alpha,beta,delta}: inter 2, union 4
    assert d[("s1", "s2")] == (2, 4)


def test_source_vocab_overlap_emits_disjoint_pairs(spark):
    """A source pair with ZERO shared vocabulary must still appear (inter=0,
    jaccard=0.0) — disjointness is the decision-relevant signal for mixture
    weighting, not an absence. Oracle agrees."""
    import duckdb

    from delta_rs_spark.operators import corpus

    rows = [
        (1, "alpha beta", "s1"),
        (2, "gamma delta", "s2"),  # fully disjoint from s1 and s3
        (3, "alpha zeta", "s3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = [tuple(r) for r in corpus.source_vocab_overlap(df).collect()]
    assert [(r[0], r[1]) for r in got] == [
        ("s1", "s2"),
        ("s1", "s3"),
        ("s2", "s3"),
    ]
    d = {(sa, sb): (int(i), int(u), float(j)) for sa, sb, _, _, i, u, j in got}
    assert d[("s1", "s2")] == (0, 4, 0.0)
    assert d[("s2", "s3")] == (0, 4, 0.0)
    assert d[("s1", "s3")] == (1, 3, round(1 / 3, 6))
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = [tuple(r) for r in con.execute(corpus.source_vocab_overlap_oracle_sql()).fetchall()]
    assert [(r[0], r[1], int(r[4])) for r in want] == [
        (sa, sb, i) for sa, sb, _, _, i, _, _ in got
    ]


def test_source_vocab_overlap_ignores_null_sources(spark):
    """A source-less document belongs to no pair: NULL sources are excluded
    up front (the SQL oracle's a.s < b.s never matches NULL either) instead
    of crashing the driver-side sorted() on None vs str."""
    from delta_rs_spark.operators import corpus

    rows = [
        (1, "alpha beta", "s1"),
        (2, "alpha gamma", "s2"),
        (3, "alpha omega", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = [tuple(r) for r in corpus.source_vocab_overlap(df).collect()]
    assert [(r[0], r[1]) for r in got] == [("s1", "s2")]
    assert got[0][2:6] == (2, 2, 1, 3)  # omega never joins any vocabulary


def test_hashed_classifier_matches_duckdb_oracle(spark):
    import duckdb

    from delta_rs_spark.operators import text as text_ops

    rows = [
        (1, "alpha beta gamma alpha"),
        (2, "delta   epsilon"),
        (3, "zeta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [tuple(r) for r in text_ops.hashed_classifier(df).orderBy("doc_id").collect()]
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    want = [
        (int(d), int(n), float(s), bool(l))
        for d, n, s, l in con.execute(text_ops.hashed_classifier_oracle_sql()).fetchall()
    ]
    assert [(d, n, float(s), l) for d, n, s, l in got] == want
    # weights are deterministic: repeated tokens scale the sum linearly
    one = text_ops.hashed_classifier(
        spark.createDataFrame([(1, "alpha"), (2, "alpha alpha")], "doc_id long, text string")
    ).orderBy("doc_id").collect()
    assert one[0].score == one[1].score and one[1].n_tokens == 2


def test_line_dedup_removes_corpus_hot_lines(spark):
    """CCNet semantics: a line whose NORMALIZED form repeats corpus-wide
    vanishes from every document (first occurrence too); blank lines are
    structure (never counted, always kept); order is preserved; a fully
    boilerplate document comes back empty, not dropped."""
    from delta_rs_spark.operators import text as text_ops

    rows = [
        (1, "unique alpha\nCookie Banner\n\nbody one"),
        (2, "cookie banner \nbody two\nunique beta"),  # case+trim variant
        (3, "Cookie Banner"),                          # all-boilerplate doc
        (4, "\n\n"),                                   # blank lines only
        (5, None),                                     # NULL text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text_dedup, r.n_lines_kept, r.n_lines_removed)
        for r in text_ops.line_dedup(df, min_count=2).collect()
    }
    assert got[1] == ("unique alpha\n\nbody one", 3, 1)
    assert got[2] == ("body two\nunique beta", 2, 1)
    assert got[3] == ("", 0, 1)
    assert got[4] == ("\n\n", 3, 0)  # 3 empty lines, all kept
    assert got[5] == ("", 1, 0)  # NULL -> empty doc, never a negative count
    # below the threshold nothing is hot ("cookie banner" repeats 3x,
    # so min_count=4 puts the whole corpus under it): identity on the text
    kept_all = {
        r.doc_id: r.n_lines_removed
        for r in text_ops.line_dedup(df, min_count=4).collect()
    }
    assert all(v == 0 for v in kept_all.values())


def test_keeplist_by_score_keeps_best_not_first(spark):
    """keep-best policy: the cluster keeps its highest-scoring member even
    when that is NOT the minimum id (which the plain keeplist would keep);
    ties break to the smallest id; singletons pass through."""
    from delta_rs_spark.operators import dedup as dedup_ops

    docs = spark.createDataFrame(
        [
            (1, "short"),
            (2, "a much longer duplicate body"),   # cluster {1,2,3}: best
            (3, "short v2"),
            (4, "tie"),
            (5, "pie"),                             # cluster {4,5}: tie on
            (6, "standalone"),                      # length -> keep id 4
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    got = sorted(
        r.doc_id
        for r in dedup_ops.keeplist_by_score(
            docs, pairs, score=F.length("text")
        ).collect()
    )
    assert got == [2, 4, 6]


def test_keeplist_by_score_null_scores_still_collapse(spark):
    """A cluster whose every member has a NULL score (score=length over
    NULL text) must still collapse to ONE member: Spark's struct ordering
    ranks NULL fields lowest and equal-NULLs fall through to the negated-id
    tiebreaker, so the winner is the min id — pinned here because a NULL
    winner would instead let the whole duplicate cluster silently survive.
    Mixed clusters must ignore NULL-scored members when a scored one
    exists."""
    from delta_rs_spark.operators import dedup as dedup_ops

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, "abc"), (5, None), (9, "solo")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    got = sorted(
        r.doc_id
        for r in dedup_ops.keeplist_by_score(
            docs, pairs, score=F.length("text")
        ).collect()
    )
    # all-NULL cluster {1,2,3} -> min id 1; mixed {4,5} -> scored 4; 9 passes
    assert got == [1, 4, 9]


def test_substring_dedup_semantics(spark):
    """Exact-substring dedup over handcrafted docs: cross-doc shared span
    removed from BOTH docs, within-doc self-repeat removed (both copies),
    unique and sub-window docs untouched, NULL text -> empty row with zero
    counts, overlapping hot windows merge into one spliced gap."""
    from delta_rs_spark.operators import text as text_ops

    docs = spark.createDataFrame(
        [
            (1, "p q a b c d e r s"),
            (2, "a b c d e t u v w"),
            (3, "one two three four five six seven"),
            (4, "x1 x2 x3 x4 x5 mid x1 x2 x3 x4 x5 tail"),
            (5, None),
            (6, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.text_dedup, r.n_tokens_kept, r.n_tokens_removed)
        for r in text_ops.substring_dedup(docs, min_count=2, window=5).collect()
    }
    assert got == {
        1: ("p q r s", 4, 5),
        2: ("t u v w", 4, 5),
        3: ("one two three four five six seven", 7, 0),
        4: ("mid tail", 2, 10),
        5: ("", 0, 0),
        6: ("tiny doc", 2, 0),
    }


def test_substring_dedup_long_span_fully_covered(spark):
    """A repeated span LONGER than the window is removed in full: every
    window inside it is hot, the merged interval covers the whole span —
    the property that makes a windowed census equal to the suffix-array
    formulation for spans >= window."""
    from delta_rs_spark.operators import text as text_ops

    span = " ".join(f"s{i}" for i in range(9))  # 9-token span, window 4
    docs = spark.createDataFrame(
        [(1, f"left {span} right"), (2, f"{span} other end")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.text_dedup
        for r in text_ops.substring_dedup(docs, min_count=2, window=4).collect()
    }
    assert got == {1: "left right", 2: "other end"}


def _py_bpe_train(texts, n):
    """Pure-Python Sennrich reference: word-frequency dict, per round count
    adjacent pairs, merge the (max count, lexicographically smallest
    wrapped key) winner greedily left-to-right."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        if t:
            for w in t.lower().split():
                vocab[tuple(w)] += 1
    merges = []
    for _ in range(n):
        pc = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        best = min(
            pc.items(),
            key=lambda kv: (-kv[1], "\x01%s\x02\x01%s\x02" % kv[0]),
        )
        (a, b), cnt = best
        merges.append((a, b, cnt))
        nv = Counter()
        for syms, c in vocab.items():
            nv[tuple(_py_bpe_apply(list(syms), a, b))] += c
        vocab = nv
    return merges


def _py_bpe_apply(syms, a, b):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _py_bpe_encode(text, merges):
    if not text:
        return []
    toks = []
    for w in text.lower().split():
        syms = list(w)
        for a, b, *_ in merges:
            syms = _py_bpe_apply(syms, a, b)
        toks.extend(syms)
    return toks


def test_bpe_train_and_encode_match_python_model(spark):
    """Full BPE training + encoding vs the pure-Python Sennrich reference
    on a corpus with the classic structure (shared stems, repeated words,
    NULL doc, single-char word) — merges, counts, and every document's
    token sequence must be identical."""
    from delta_rs_spark.operators import corpus as corpus_ops

    texts = [
        "low low low lower lowest",
        "new newer newest low",
        None,
        "a",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts, 1)), "doc_id long, text string"
    )
    want = _py_bpe_train(texts, 6)
    got = corpus_ops.bpe_train(docs, n_merges=6)
    assert got == want
    enc = {
        r.doc_id: (r.n_tokens, r.tokens_str)
        for r in corpus_ops.bpe_encode(docs, got).collect()
    }
    for i, t in enumerate(texts, 1):
        pt = _py_bpe_encode(t, want)
        assert enc[i] == (len(pt), " ".join(pt)), f"doc {i} diverged"


def test_bpe_matches_python_model_randomized(spark):
    """Seed-pinned randomized corpora vs the Python model: words drawn
    from a small alphabet so merges stack onto earlier merges (multi-char
    symbols, the boundary-safety stress: 'xa a' must never false-match an
    'a a' merge across the symbol boundary)."""
    import random

    from delta_rs_spark.operators import corpus as corpus_ops

    for seed in (3, 19):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice("abx") for _ in range(rng.randrange(1, 7)))
            for _ in range(30)
        ]
        texts = [
            " ".join(rng.choice(words) for _ in range(rng.randrange(3, 12)))
            for _ in range(12)
        ]
        docs = spark.createDataFrame(
            list(enumerate(texts, 1)), "doc_id long, text string"
        )
        want = _py_bpe_train(texts, 10)
        got = corpus_ops.bpe_train(docs, n_merges=10)
        assert got == want, f"seed {seed}: merges diverged"
        enc = {
            r.doc_id: r.tokens_str
            for r in corpus_ops.bpe_encode(docs, got).collect()
        }
        for i, t in enumerate(texts, 1):
            assert enc[i] == " ".join(_py_bpe_encode(t, want)), (
                f"seed {seed} doc {i} diverged"
            )


def test_bpe_encode_arrow_equals_codegen(spark):
    """The Arrow rank-priority kernel (the 32k-merge production path) must
    segment identically to the codegen replace-chain path —
    rank-priority merging reproduces sequential rank-order application.
    Fuzzed on small-alphabet corpora where merges stack deeply (multi-char
    symbols, within-word repeats, the overlap cases like 'aaaa')."""
    import random

    from delta_rs_spark.operators import corpus as corpus_ops

    for seed in (7, 23):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice("ab") for _ in range(rng.randrange(1, 9)))
            for _ in range(20)
        ]
        texts = [
            " ".join(rng.choice(words) for _ in range(rng.randrange(2, 10)))
            for _ in range(10)
        ] + [None, "aaaa aaaa aa"]
        docs = spark.createDataFrame(
            list(enumerate(texts, 1)), "doc_id long, text string"
        )
        merges = corpus_ops.bpe_train(docs, n_merges=12)
        cg = {
            r.doc_id: (r.n_tokens, r.tokens_str)
            for r in corpus_ops.bpe_encode(docs, merges, method="codegen").collect()
        }
        ar = {
            r.doc_id: (r.n_tokens, r.tokens_str)
            for r in corpus_ops.bpe_encode(docs, merges, method="arrow").collect()
        }
        assert ar == cg, f"seed {seed}: arrow kernel diverged from codegen"


def test_line_dedup_matches_python_model_randomized(spark):
    """Seed-pinned randomized corpora vs a direct Python model of the
    CCNet semantics — line inventory drawn so cross-doc repeats, blank and
    whitespace-only lines, and case/trim variants all occur."""
    import random

    from delta_rs_spark.operators import text as text_ops

    inventory = [
        "alpha beta", "ALPHA BETA", " alpha beta ", "gamma", "",
        "   ", "delta epsilon", "zeta", "cookie banner", "Cookie Banner",
    ]
    for seed in (3, 19):
        rng = random.Random(seed)
        docs = {
            i: "\n".join(rng.choice(inventory) for _ in range(rng.randrange(1, 9)))
            for i in range(25)
        }
        min_count = rng.choice([2, 3])

        counts: dict[str, int] = {}
        for t in docs.values():
            for line in t.split("\n"):
                k = line.strip().lower()
                if k:
                    counts[k] = counts.get(k, 0) + 1
        hot = {k for k, c in counts.items() if c >= min_count}
        want = {}
        for i, t in docs.items():
            lines = t.split("\n")
            kept = [l for l in lines if not l.strip().lower() or l.strip().lower() not in hot]
            want[i] = ("\n".join(kept), len(kept), len(lines) - len(kept))

        df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
        got = {
            r.doc_id: (r.text_dedup, r.n_lines_kept, r.n_lines_removed)
            for r in text_ops.line_dedup(df, min_count=min_count).collect()
        }
        assert got == want, f"diverged at seed {seed}"


def test_bpe_pair_counts_exact_census(spark):
    """BPE merge census: exact within-word adjacent character-pair counts,
    case-folded, no cross-word pairs, no phantom trailing-empty pairs
    (Spark's split keeps a trailing empty element), deterministic
    count-desc/pair-asc order."""
    from delta_rs_spark.operators import corpus as corpus_ops

    df = spark.createDataFrame(
        [(1, "ab AB xy"), (2, "aba c")], "doc_id long, text string"
    )
    got = [(r.pair, r.cnt) for r in corpus_ops.bpe_pair_counts(df, top_k=10).collect()]
    # 'ab' x2 + 'aba' -> a b:3, b a:1, x y:1; single-char 'c' contributes none
    assert got == [("a b", 3), ("b a", 1), ("x y", 1)]


def test_non_finite_vectors_never_rank_or_pair(spark):
    """Spark orders NaN GREATER than every double, so a NaN-norm vector
    passing the norm guard would rank as EVERY query's #1 neighbor and
    NaN >= threshold would pass every pair filter — the exact failure
    _with_norm's comment defends against, previously leaking through the
    NaN/Inf-norm case (`NaN > 0` is true). Non-finite vectors must appear
    in no top-k (as query or neighbor) and no pair, on both the codegen
    and the clustered pair paths, and the CDF net fold must reclassify a
    non-finite upsert as a delete."""
    from delta_rs_spark.operators import dedup, similarity

    nan, inf = float("nan"), float("inf")
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (90, [nan, 1.0, 0.0, 0.0]),
        (91, [inf, 0.0, 0.0, 0.0]),
        (92, [1.0, None, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    topk = similarity.cosine_topk(df, df, k=3).collect()
    ids = {r.query_id for r in topk} | {r.neighbor_id for r in topk}
    assert ids <= {1, 2, 3}, f"degenerate vector leaked into top-k: {ids}"
    assert all(r.cosine == r.cosine for r in topk), "NaN cosine emitted"

    pairs = similarity.clustered_exact_pairs(
        df, threshold=0.1, n_list=2, n_probe=2
    ).collect()
    pids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert pids <= {1, 2, 3}, f"degenerate vector leaked into pairs: {pids}"

    gem = dedup.embedding_cosine_pairs(df, threshold=0.1).collect()
    gids = {r.id_a for r in gem} | {r.id_b for r in gem}
    assert gids <= {1, 2, 3}
