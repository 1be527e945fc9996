"""Unit tests for the LLM-pipeline operator families (SURVEY §2G):
text analysis, dedup (exact → fuzzy), similarity search, multimodal.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F

from sql_autoloader_spark.functions import dedup, multimodal, similarity, text

# --- text -------------------------------------------------------------------


def test_token_count(spark: SparkSession) -> None:
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("   ",), ("single",)], "text string"
    )
    out = [r[0] for r in df.select(text.token_count(F.col("text"))).collect()]
    assert out == [3, 0, 0, 1]


def test_word_shingles(spark: SparkSession) -> None:
    df = spark.createDataFrame([("the quick brown fox",)], "text string")
    out = df.select(text.word_shingles(F.col("text"), 2)).first()[0]
    assert out == ["the quick", "quick brown", "brown fox"]
    short = spark.createDataFrame([("one",)], "text string")
    assert short.select(text.word_shingles(F.col("text"), 3)).first()[0] == []


def test_char_ngrams(spark: SparkSession) -> None:
    df = spark.createDataFrame([("abcd",)], "text string")
    assert df.select(text.char_ngrams(F.col("text"), 3)).first()[0] == [
        "abc",
        "bcd",
    ]


def test_language_id_markers(spark: SparkSession) -> None:
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "el gato que vive en los arboles por la noche"),
            (3, "der hund und die katze ist nicht da"),
            (4, "le chat et les chiens des villes une fois"),
            (5, "你好世界"),
            (6, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in text.language_id(df).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "fr", 5: "zh", 6: "und"}


def test_fingerprints_stable(spark: SparkSession) -> None:
    df = spark.createDataFrame(
        [("Hello,  World!",), ("hello world",)], "text string"
    )
    fps = [r[0] for r in df.select(text.fingerprint_md5(F.col("text"))).collect()]
    assert fps[0] == fps[1]  # normalization collapses case/punct/space
    rolls = [
        r[0] for r in df.select(text.rolling_fingerprint(F.col("text"))).collect()
    ]
    assert rolls[0] == rolls[1]


# --- dedup ------------------------------------------------------------------


def test_exact_dedup(spark: SparkSession) -> None:
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "id long, key string, val double",
    )
    out = dedup.exact_dedup(df, ["key"], id_col="id")
    rows = {tuple(r) for r in out.collect()}
    assert rows == {(1, "a", 10.0), (3, "b", 30.0)}


def test_exact_dedup_hash_key_identical(spark: SparkSession) -> None:
    """hash_key=True (32-byte shuffle key) must produce IDENTICAL
    survivors to raw-value grouping — including NULL keys, empty
    strings, multi-column subsets, and near-miss encodings."""
    df = spark.createDataFrame(
        [
            (1, "a", "x", 10.0),
            (2, "a", "x", 20.0),   # dup of 1 on (key, sub)
            (3, "a", "y", 30.0),
            (4, None, "x", 40.0),
            (5, None, "x", 50.0),  # dup of 4 (NULL groups with NULL)
            (6, "", "x", 60.0),    # empty != NULL
            (7, 'a"|', "x", 70.0),  # quoting/escaping near-miss
        ],
        "id long, key string, sub string, val double",
    )
    for subset in (["key"], ["key", "sub"]):
        raw = {
            tuple(r)
            for r in dedup.exact_dedup(df, subset, id_col="id").collect()
        }
        hashed = {
            tuple(r)
            for r in dedup.exact_dedup(
                df, subset, id_col="id", hash_key=True
            ).collect()
        }
        assert raw == hashed, subset


def test_exact_dedup_hash_key_float_normalization(
    spark: SparkSession,
) -> None:
    """groupBy folds -0.0 into 0.0 and treats NaNs as equal; the
    hash-key textual encoding must canonicalize floats the same way or
    the two paths silently pick different survivors."""
    nan = float("nan")
    df = spark.createDataFrame(
        [(1, 0.0), (2, -0.0), (3, nan), (4, nan), (5, 1.5)],
        "id long, k double",
    )
    raw = {
        r["id"]
        for r in dedup.exact_dedup(df, ["k"], id_col="id").collect()
    }
    hashed = {
        r["id"]
        for r in dedup.exact_dedup(
            df, ["k"], id_col="id", hash_key=True
        ).collect()
    }
    assert raw == hashed == {1, 3, 5}


def test_fingerprint_dedup_stats(spark: SparkSession) -> None:
    df = spark.createDataFrame(
        [(1, "Same text!"), (2, "same  text"), (3, "different")],
        "doc_id long, text string",
    )
    out = {
        r["keep_id"]: r["n_copies"]
        for r in dedup.fingerprint_dedup_stats(df, "text", "doc_id").collect()
    }
    assert out == {1: 2, 3: 1}


def test_token_jaccard_pairs(spark: SparkSession) -> None:
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")],
        "doc_id long, text string",
    )
    out = dedup.token_jaccard_pairs(
        df, id_col="doc_id", text_col="text", threshold=0.5
    ).collect()
    assert len(out) == 1
    row = out[0]
    assert (row["id_a"], row["id_b"]) == (1, 2)
    assert row["jaccard"] == 0.6  # |{a,b,c}| / |{a,b,c,d,e}|


def test_dup_span_coverage(spark: SparkSession) -> None:
    # doc 1 and 2 share the span "a b c"; doc 1 also repeats it
    # internally (both positions count — coverage is positional); doc 3
    # shares nothing; doc 4 is too short for a trigram.
    df = spark.createDataFrame(
        [
            (1, "a b c x a b c"),  # trigrams: abc bcx cxa xab abc (2 dup)
            (2, "q a b c r"),      # trigrams: qab abc bcr (1 dup)
            (3, "u v w x y"),      # no cross-doc trigram
            (4, "t u"),            # too short
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["dup_grams"], r["dup_frac"])
        for r in dedup.dup_span_coverage(
            df, id_col="doc_id", text_col="text", ngram_words=3
        ).collect()
    }
    assert out == {
        1: (5, 2, 0.4),
        2: (3, 1, round(1 / 3, 6)),
        3: (3, 0, 0.0),
    }


def test_dup_span_coverage_hashed_matches_exact(spark: SparkSession) -> None:
    df = spark.createDataFrame(
        [(i, f"w{i} common span here tail{i} more words") for i in range(6)],
        "doc_id long, text string",
    )
    kw = {"id_col": "doc_id", "text_col": "text", "ngram_words": 3}
    exact = dedup.dup_span_coverage(df, **kw).collect()
    hashed = dedup.dup_span_coverage(df, hash_grams=True, **kw).collect()
    key = lambda r: (r["doc_id"], r["n_grams"], r["dup_grams"], r["dup_frac"])  # noqa: E731
    assert sorted(map(key, exact)) == sorted(map(key, hashed))


def test_span_leakage(spark: SparkSession) -> None:
    ref = spark.createDataFrame(
        [(10, "the quick brown fox jumps")], "doc_id long, text string"
    )
    probe = spark.createDataFrame(
        [
            (1, "a the quick brown fox leaps"),  # 4 trigrams, 2 leaked
            (2, "totally novel content here now"),  # 3 trigrams, 0 leaked
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_grams"], r["leaked_grams"], r["leaked_frac"])
        for r in dedup.span_leakage(
            probe, ref, id_col="doc_id", text_col="text", ngram_words=3
        ).collect()
    }
    assert out == {1: (4, 2, 0.5), 2: (3, 0, 0.0)}


def test_hll_sketch_union_matches_direct_and_exact(
    spark: SparkSession,
) -> None:
    """Sketch algebra soundness: unioning per-day HLL sketches must give
    the IDENTICAL estimate as one sketch over all rows (HLL union is
    lossless for equal lgConfigK), and land within the configured error
    bound of the exact distinct count."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    if dict(ev.dtypes)["ts"] == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day")
    ).agg(F.hll_sketch_agg("user_id", 14).alias("sk"))
    merged = {
        r["event_type"]: r["est"]
        for r in daily.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    direct = {
        r["event_type"]: r["est"]
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 14)).alias("est"))
        .collect()
    }
    assert merged == direct
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for etype, est in merged.items():
        assert abs(est - exact[etype]) <= max(3, 0.05 * exact[etype]), (
            etype,
            est,
            exact[etype],
        )


def test_span_ops_match_python_model(spark: SparkSession) -> None:
    """Differential: random small-alphabet corpora vs a pure-Python
    model of positional n-gram coverage/leakage (property-style over a
    deterministic seed corpus — one Spark round trip, many scenarios)."""
    import random

    rng = random.Random(7)
    words = ["a", "b", "c", "d"]
    corpus = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 9))))
        for i in range(40)
    ]
    n = 3

    def grams(s: str) -> list[tuple[str, ...]]:
        t = s.split()
        return [tuple(t[i : i + n]) for i in range(len(t) - n + 1)]

    # model: positional dup coverage
    by_doc = {i: grams(s) for i, s in corpus}
    docs_per_gram: dict = {}
    for i, gs in by_doc.items():
        for g in set(gs):
            docs_per_gram[g] = docs_per_gram.get(g, 0) + 1
    want = {
        i: (
            len(gs),
            sum(1 for g in gs if docs_per_gram[g] >= 2),
        )
        for i, gs in by_doc.items()
        if gs
    }
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["dup_grams"])
        for r in dedup.dup_span_coverage(
            df, id_col="doc_id", text_col="text", ngram_words=n
        ).collect()
    }
    assert got == want

    # model: leakage of odd docs against even docs
    ref_grams = {
        g for i, gs in by_doc.items() if i % 2 == 0 for g in gs
    }
    want_leak = {
        i: (len(gs), sum(1 for g in gs if g in ref_grams))
        for i, gs in by_doc.items()
        if gs and i % 2 == 1
    }
    got_leak = {
        r["doc_id"]: (r["n_grams"], r["leaked_grams"])
        for r in dedup.span_leakage(
            df.where(F.col("doc_id") % 2 == 1),
            df.where(F.col("doc_id") % 2 == 0),
            id_col="doc_id",
            text_col="text",
            ngram_words=n,
        ).collect()
    }
    assert got_leak == want_leak


def test_minhash_lsh_finds_neardups(spark: SparkSession) -> None:
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra tail"), (3, "completely different words here")],
        "doc_id long, text string",
    )
    out = dedup.minhash_lsh_pairs(
        df, id_col="doc_id", text_col="text", threshold=0.3
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_identical_zero_distance(spark: SparkSession) -> None:
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "unrelated stuff")],
        "doc_id long, text string",
    )
    out = dedup.simhash_pairs(
        df, id_col="doc_id", text_col="text", max_hamming=0
    ).collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in out} == {(1, 2, 0)}


# --- similarity -------------------------------------------------------------


@pytest.fixture
def vectors(spark: SparkSession):
    return spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
            Row(vec_id=1, embedding=[0.99, 0.1, 0.0]),
            Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
            Row(vec_id=3, embedding=[0.0, 0.0, 1.0]),
        ]
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))


def test_brute_force_topk(spark: SparkSession, vectors) -> None:
    queries = vectors.where(F.col("vec_id") == 0)
    out = similarity.brute_force_topk(vectors, queries, k=2).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in out] == [(1, 1), (2, 2)]
    assert out[0]["sim"] > 0.99


def test_lsh_topk_agrees_with_brute_force_on_top1(
    spark: SparkSession, vectors
) -> None:
    queries = vectors.where(F.col("vec_id") == 0)
    out = similarity.lsh_topk(
        vectors, queries, dim=3, k=1, planes=4, tables=8
    ).collect()
    # with 8 tables of 4 planes, the near-identical vector is found
    assert out and out[0]["neighbor_id"] == 1


def test_embedding_neardup_pairs(spark: SparkSession, vectors) -> None:
    out = similarity.embedding_neardup_pairs(
        vectors, dim=3, threshold=0.95, planes=4, tables=8
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(0, 1)}


def test_approx_topk_recall_on_fixtures(spark: SparkSession) -> None:
    """LSH and IVF top-k must recover a reasonable share of the exact
    brute-force neighbours on the real embedding fixtures."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(emb, queries, k=5).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(
            emb, queries, dim=64, k=5, planes=6, tables=12
        ).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            emb, queries, k=5, n_centroids=8, n_probe=4
        ).collect()
    }
    assert len(lsh & exact) / len(exact) > 0.3
    # k-means centroids (fixed seed) beat the old stride-sample's 0.3 bar
    assert len(ivf & exact) / len(exact) > 0.5
    # int8-scored IVF (route on floats, score on codes) holds the same
    # recall bar — quantization noise must not change the routing
    ivf_q = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            emb, queries, k=5, n_centroids=8, n_probe=4, quantize=True
        ).collect()
    }
    assert len(ivf_q & exact) / len(exact) > 0.5


# --- events (as-of join) ----------------------------------------------------


def test_as_of_join(spark: SparkSession) -> None:
    from sql_autoloader_spark.functions import events

    left = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 10:00:00"),
            (2, 1, "2024-01-01 12:00:00"),
            (3, 2, "2024-01-01 09:00:00"),
        ],
        "pid long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (10, 1, "2024-01-01 09:30:00"),
            (11, 1, "2024-01-01 11:00:00"),
            (12, 2, "2024-01-01 09:00:00"),  # equal ts -> inclusive match
            (13, 3, "2024-01-01 08:00:00"),
        ],
        "cid long, user_id long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = events.as_of_join(left, right, on=["user_id"], suffix="_r")
    got = {r["pid"]: r["cid_r"] for r in out.collect()}
    assert got == {1: 10, 2: 11, 3: 12}


def test_as_of_join_no_prior(spark: SparkSession) -> None:
    from sql_autoloader_spark.functions import events

    left = spark.createDataFrame(
        [(1, 1, "2024-01-01 08:00:00")], "pid long, user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(10, 1, "2024-01-01 09:00:00")], "cid long, user_id long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = events.as_of_join(left, right, on=["user_id"], suffix="_r").collect()
    assert out[0]["cid_r"] is None and out[0]["ts_r"] is None


# --- multimodal -------------------------------------------------------------


@pytest.fixture
def media(spark: SparkSession):
    rows = [
        Row(media_id=1, media_type="image", mime="image/png",
            content=bytes(range(64)) * 64, n_bytes=None, width=8, height=8,
            duration_ms=None),
        Row(media_id=2, media_type="image", mime="image/png",
            content=bytes(range(64)) * 64, n_bytes=None, width=8, height=8,
            duration_ms=None),
        Row(media_id=3, media_type="video", mime="video/mp4",
            content=bytes([7, 9, 11]) * 2048, n_bytes=None, width=None,
            height=None, duration_ms=4000),
    ]
    return spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)


def test_attach_byte_stats(spark: SparkSession, media) -> None:
    out = multimodal.attach_byte_stats(media)
    rows = {r["media_id"]: r for r in out.collect()}
    assert rows[1]["n_bytes"] == 64 * 64
    assert rows[1]["content_hash"] == rows[2]["content_hash"]
    assert rows[1]["content_hash"] != rows[3]["content_hash"]


def test_extract_features_shape(spark: SparkSession, media) -> None:
    out = multimodal.extract_features(media).collect()
    assert len(out) == 3
    for r in out:
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert abs(sum(r["feature"]) - 1.0) < 1e-6


def test_media_neardup(spark: SparkSession, media) -> None:
    out = multimodal.media_neardup_pairs(media, threshold=0.999).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(1, 2)}


def test_media_neardup_exact_groups_survive_bucket_cap(
    spark: SparkSession,
) -> None:
    """Byte-identical assets must land in one near-dup group even when
    the LSH bucket cap binds (round 12: the old single-level pass split
    136/384 identical groups at sf0.1 because a capped bucket's star
    representative need not resemble every exact-dup group inside it).
    The exact-content compression emits the in-group stars at sim 1.0
    regardless of bucketing."""
    from sql_autoloader_spark.functions.multimodal import synthetic_png_media

    # two identical groups of 6 + 5 (keys 0 and 1 mod 2) — every asset
    # shares LSH buckets, and max_bucket_size=2 caps them all
    docs = spark.createDataFrame(
        [(i,) for i in range(11)], "doc_id long"
    )
    media = synthetic_png_media(docs, id_col="doc_id", modulus=2)
    pairs = multimodal.media_neardup_pairs(
        media, threshold=0.999, max_bucket_size=2
    )
    got = {(r["id_a"], r["id_b"]): r["sim"] for r in pairs.collect()}
    evens = {(0, i) for i in range(2, 11, 2)}
    odds = {(1, i) for i in range(3, 11, 2)}
    assert evens | odds <= set(got)
    assert all(abs(got[p] - 1.0) < 1e-9 for p in evens | odds)


def test_resize_images(spark: SparkSession, media) -> None:
    out = multimodal.resize_images(media, width=16, height=16).collect()
    assert len(out) == 3
    rows = {r["media_id"]: r for r in out}
    target = 16 * 16
    for r in out:
        assert (r["width"], r["height"]) == (16, 16)
        assert len(r["resized"]) == target
    # deterministic: identical content resizes identically
    assert bytes(rows[1]["resized"]) == bytes(rows[2]["resized"])
    assert bytes(rows[1]["resized"]) != bytes(rows[3]["resized"])


def test_resize_images_real_png_pixels(spark: SparkSession) -> None:
    """A real PNG resizes through actual decoded pixels: a uniform-color
    source yields a uniform luma plane at the target shape, and a 2×
    downscale of a ramp picks exact nearest-neighbor samples."""
    from pyspark.sql import Row

    uniform = multimodal.encode_png(6, 4, 3, [200, 100, 50] * 24)
    # PIL's rgb2l TRUNCATES (no +0x8000 rounding term) — pinned
    luma = (200 * 19595 + 100 * 38470 + 50 * 7471) >> 16
    ramp = multimodal.encode_png(4, 4, 1, list(range(16)), filter_type=2)
    df = spark.createDataFrame(
        [Row(media_id=1, content=bytearray(uniform)),
         Row(media_id=2, content=bytearray(ramp))]
    )
    rows = {
        r["media_id"]: bytes(r["resized"])
        for r in multimodal.resize_images(df, width=2, height=2).collect()
    }
    assert rows[1] == bytes([luma] * 4)
    # nearest-neighbor: src index = out*src//target → pixels 0,2,8,10
    assert rows[2] == bytes([0, 2, 8, 10])


def test_pixel_stats_real_decode_and_null_fallback(
    spark: SparkSession,
) -> None:
    """pixel_stats is the real-decode audit: exact stats for PNGs, NULL
    (never a byte-histogram stand-in) for undecodable bytes."""
    from pyspark.sql import Row

    png = multimodal.encode_png(4, 3, 1, list(range(10, 22)), filter_type=1)
    df = spark.createDataFrame(
        [Row(media_id=1, content=bytearray(png)),
         Row(media_id=2, content=bytearray(b"not an image")),
         Row(media_id=3, content=None)]
    )
    rows = {r["media_id"]: r for r in multimodal.pixel_stats(df).collect()}
    assert rows[1]["n_pixels"] == 12
    assert rows[1]["min_luma"] == 10
    assert rows[1]["max_luma"] == 21
    assert rows[1]["avg_luma"] == pytest.approx(15.5)
    for mid in (2, 3):
        assert rows[mid]["n_pixels"] is None
        assert rows[mid]["avg_luma"] is None


def test_pixel_stats_honors_id_col(spark: SparkSession) -> None:
    """The output id column keeps the input's name AND type, and
    sum_luma is the exact integer pixel sum."""
    from pyspark.sql import Row

    png = multimodal.encode_png(4, 3, 1, list(range(10, 22)))
    df = spark.createDataFrame([Row(doc_key="a", content=bytearray(png))])
    out = multimodal.pixel_stats(df, id_col="doc_key")
    assert out.schema["doc_key"].dataType.simpleString() == "string"
    row = out.collect()[0]
    assert row["doc_key"] == "a"
    assert row["sum_luma"] == sum(range(10, 22))


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4, 37, 200, 383])
def test_synthesize_png_formula_and_roundtrip(seed: int) -> None:
    """The synthetic fixture PNG obeys the exact size formula the SQL
    oracles recompute (stored-block zlib) and decodes back to the
    arithmetic pixel pattern — the contract the media oracles rely on."""
    png = multimodal.synthesize_png(seed)
    c = 1 + seed % 4
    w = 16 + seed % 9
    h = 16 + (seed // 3) % 7
    m = 32 + seed % 224
    assert len(png) == h * (1 + w * c) + 68
    dw, dh, dc, raw = multimodal.decode_png(png)
    assert (dw, dh, dc) == (w, h, c)
    assert raw == bytes((seed * 7 + j * 13) % m for j in range(w * h * c))


def test_synthetic_png_media_dup_injection(spark: SparkSession) -> None:
    """Ids congruent mod the modulus share identical real-PNG bytes;
    others differ — the structure the dedup oracle predicts."""
    df = spark.createDataFrame(
        [(0,), (1,), (384,)], "doc_id long"
    )
    out = multimodal.synthetic_png_media(df, id_col="doc_id", modulus=384)
    rows = {r["media_id"]: bytes(r["content"]) for r in out.collect()}
    assert rows[0] == rows[384]
    assert rows[0] != rows[1]
    assert rows[1].startswith(b"\x89PNG")
    # and it is a REAL decodable PNG (the registered path's guarantee)
    assert multimodal.decode_png(rows[1])[2] == 1 + 1 % 4


def test_sample_frames(spark: SparkSession, media) -> None:
    out = multimodal.sample_frames(
        media.where(F.col("media_type") == "video"),
        every_n_bytes=1024,
        max_frames=4,
    ).collect()
    assert len(out) == 4
    assert all(len(r["frame"]) == 1024 for r in out)


def _encode_png(
    width: int,
    height: int,
    channels: int,
    pixels: list[int],
    filter_type: int = 0,
) -> bytes:
    """Minimal test-side PNG encoder with a selectable per-row filter —
    exercises every unfilter path of the production decoder."""
    import struct
    import zlib

    color = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    stride = width * channels
    raw = bytearray()
    prev = [0] * stride
    for y in range(height):
        row = list(pixels[y * stride : (y + 1) * stride])
        raw.append(filter_type)
        for x in range(stride):
            a = row[x - channels] if x >= channels else 0
            b = prev[x]
            c = prev[x - channels] if x >= channels else 0
            if filter_type == 0:
                pred = 0
            elif filter_type == 1:
                pred = a
            elif filter_type == 2:
                pred = b
            elif filter_type == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            raw.append((row[x] - pred) & 0xFF)
        prev = row
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("channels", [1, 2, 3, 4])
def test_png_decode_roundtrip_exact(filter_type: int, channels: int) -> None:
    """The stdlib PNG decoder recovers EXACT pixels for every PNG filter
    type and supported color type (gray, gray+alpha, RGB, RGBA)."""
    w, h = 7, 5  # odd sizes catch stride bugs
    pixels = [(i * 37 + 11) % 256 for i in range(w * h * channels)]
    png = _encode_png(w, h, channels, pixels, filter_type)
    dw, dh, dc, out = multimodal.decode_png(png)
    assert (dw, dh, dc) == (w, h, channels)
    assert list(out) == pixels


def test_png_decode_rejects_unsupported() -> None:
    with pytest.raises(ValueError, match="not a PNG"):
        multimodal.decode_png(b"\xff\xd8\xff\xe0 jpeg-ish bytes")
    import struct
    import zlib

    # 16-bit depth IHDR must be refused (callers fall back, not corrupt)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    png16 = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="unsupported"):
        multimodal.decode_png(png16)


def test_decode_image_bytes_real_png_pixels() -> None:
    """In-container REAL decode: a known PNG's feature vector is the
    exact pixel-luma histogram, not the byte-histogram stub."""
    # 4×4 grayscale, two pixel values → two known histogram bins
    pixels = [16] * 8 + [240] * 8  # bins 1 and 15, half each
    png = _encode_png(4, 4, 1, pixels, filter_type=2)
    vec = multimodal._decode_image_bytes(png)
    expected = [0.0] * multimodal.FEATURE_DIM
    expected[16 * multimodal.FEATURE_DIM // 256] = 0.5
    expected[240 * multimodal.FEATURE_DIM // 256] = 0.5
    assert vec == expected
    # RGB: PIL's exact rounded fixed-point luma, one uniform color
    rgb = _encode_png(3, 3, 3, [200, 100, 50] * 9, filter_type=1)
    # PIL's rgb2l TRUNCATES (no +0x8000 rounding term) — pinned
    luma = (200 * 19595 + 100 * 38470 + 50 * 7471) >> 16
    vec3 = multimodal._decode_image_bytes(rgb)
    assert vec3[luma * multimodal.FEATURE_DIM // 256] == 1.0


def test_extract_features_decodes_png_in_spark(spark: SparkSession) -> None:
    """The Arrow mapInPandas pipeline uses the real PNG decode
    end-to-end in this container (no PIL present)."""
    pixels = [32] * 32 + [224] * 32
    png = _encode_png(8, 8, 1, pixels, filter_type=3)
    df = spark.createDataFrame(
        [Row(media_id=1, media_type="image", mime="image/png", content=png,
             n_bytes=None, width=8, height=8, duration_ms=None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    [row] = multimodal.extract_features(df).collect()
    expected = [0.0] * multimodal.FEATURE_DIM
    expected[32 * multimodal.FEATURE_DIM // 256] = 0.5
    expected[224 * multimodal.FEATURE_DIM // 256] = 0.5
    assert [pytest.approx(v) for v in expected] == list(row["feature"])


def test_minhash_bucket_cap_star_fallback(spark: SparkSession) -> None:
    """Buckets over max_bucket_size switch to representative-star pairs:
    every member of a giant duplicate cluster still links to the cluster
    minimum, and normal-sized buckets keep exact all-pairs behavior."""
    cluster = [
        (i, "the same boilerplate page content repeated everywhere online")
        for i in range(20)
    ]
    near = [
        (100, "a genuinely unique document about distributed query engines"),
        (101, "a genuinely unique document about distributed query planes"),
    ]
    df = spark.createDataFrame(cluster + near, "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(
        df,
        id_col="doc_id",
        text_col="text",
        threshold=0.4,
        shingle_words=3,
        max_bucket_size=5,
    )
    rows = pairs.collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert len(rows) == len(got)  # star and bucket pairs deduped once
    # every cluster member links to the representative (doc 0)
    assert {(0, i) for i in range(1, 20)} <= got
    # no quadratic blowup inside the capped cluster
    assert not any(a != 0 and a < 20 and b < 20 for a, b in got)
    # the normal near-dup pair is untouched by the cap
    assert (100, 101) in got


def test_simhash_bucket_cap_star_fallback(spark: SparkSession) -> None:
    """Identical docs land in one chunk bucket; with a cap the cluster
    still fully links to its representative at hamming 0.  A cluster of
    near-identical docs links the same way, each star row carrying
    hamming(rep, doc), and no pair is emitted twice."""
    cluster = [(i, "identical boilerplate text block") for i in range(12)]
    df = spark.createDataFrame(cluster, "doc_id long, text string")
    pairs = dedup.simhash_pairs(
        df, id_col="doc_id", text_col="text", max_hamming=3, max_bucket_size=4
    )
    rows = pairs.collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert len(rows) == len(got)
    assert {(0, i) for i in range(1, 12)} <= set(got)
    assert all(h == 0 for h in got.values())
    assert not any(a != 0 for a, _ in got)

    # one differing tail word: fingerprints 0-1 bits from doc 100's
    base = " ".join(f"w{i}" for i in range(60))
    near = spark.createDataFrame(
        [(100 + i, f"{base} tail{i}") for i in range(12)],
        "doc_id long, text string",
    )
    fp = {
        r["doc"]: r["fp"]
        for r in dedup.simhash_fingerprints(
            near, id_col="doc_id", text_col="text"
        ).collect()
    }
    rows = dedup.simhash_pairs(
        near,
        id_col="doc_id",
        text_col="text",
        max_hamming=3,
        max_bucket_size=4,
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert len(rows) == len(got)
    assert {(100, i) for i in range(101, 112)} <= set(got)
    assert all(
        h == bin((fp[a] ^ fp[b]) & (2**64 - 1)).count("1")
        for (a, b), h in got.items()
    )
    assert any(got[(100, i)] > 0 for i in range(101, 112))


def test_embedding_neardup_bucket_cap(spark: SparkSession) -> None:
    """Identical vectors share every LSH bucket; the cap keeps the
    cluster linked via its minimum id with exact cosine intact."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(10)] + [
        (50, [0.0, 1.0, 0.0, 0.0])
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_neardup_pairs(
        df, dim=4, threshold=0.99, max_bucket_size=3
    )
    rows = pairs.collect()
    got = {(r["id_a"], r["id_b"]): r["sim"] for r in rows}
    assert len(rows) == len(got)
    assert {(0, i) for i in range(1, 10)} <= set(got)
    assert all(abs(s - 1.0) < 1e-6 for s in got.values())
    assert not any(a != 0 for a, _ in got)


def test_minhash_bucket_cap_adversarial_skew(spark: SparkSession) -> None:
    """Cap-pressure WORST case: a fifth of the corpus shares one band
    bucket without being near-duplicates (heavy shared boilerplate,
    distinct payloads — pairwise Jaccard ~0.78, threshold 0.9), so the
    star assumption 'oversized buckets are near-identical' is FALSE.
    Pins, under ``max_bucket_size``:

    - the emitted-candidate bound stays LINEAR in the hot-cluster size
      (bands*(f-1) star pairs + bands*f*(cap-1)/2 small-bucket slack),
      at least 10x below the uncapped all-pairs blowup;
    - recall floor 1.0 on true near-dup pairs OUTSIDE the hot bucket;
    - zero false positives: exact verification drops every star pair
      whose member is not actually similar to the representative;
    - the known degradation mode, pinned on this deterministic fixture:
      a true near-dup pair INSIDE the hot bucket survives here only
      because its identical unique tail forms a private size-2 band
      bucket — when no such band exists the capped path may lose
      in-bucket pairs (the documented recall trade, SCALE.md).
    """
    boiler = " ".join(f"boiler{i}" for i in range(160))
    n_adv, cap, bands = 200, 8, 8
    rows = [
        (i, boiler + " " + " ".join(f"uniq{i}w{j}" for j in range(20)))
        for i in range(n_adv)
    ]
    # true near-dup pair INSIDE the hot cluster (same boilerplate, same
    # unique tail up to one trailing char): jaccard ~0.99
    shared = " ".join(f"inpairw{j}" for j in range(20))
    rows.append((200, boiler + " " + shared))
    rows.append((201, boiler + " " + shared[:-1] + "X"))
    # true near-dup pairs OUTSIDE the hot cluster (no boilerplate):
    # 60 words, last word changed -> jaccard ~0.97
    for p in range(5):
        words = [f"pair{p}word{j}" for j in range(60)]
        rows.append((300 + 2 * p, " ".join(words)))
        rows.append(
            (301 + 2 * p, " ".join(words[:-1] + [f"pair{p}CHANGED"]))
        )
    rows += [
        (500 + i, " ".join(f"bg{i}word{j}" for j in range(30)))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(
        id_col="doc_id",
        text_col="text",
        threshold=0.9,
        num_hashes=32,
        bands=bands,
        shingle_words=3,
    )

    def adv(pairs):
        return {p for p in pairs if p[0] < n_adv and p[1] < n_adv}

    cand_un = adv(
        {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_pairs(df, verify=False, **kw).collect()
        }
    )
    cand_cap = adv(
        {
            (r["id_a"], r["id_b"])
            for r in dedup.minhash_lsh_pairs(
                df, verify=False, max_bucket_size=cap, **kw
            ).collect()
        }
    )
    # the adversarial bucket really formed: near-quadratic uncapped
    assert len(cand_un) >= 15000  # C(200,2) = 19900; measured 19570
    # capped emission is linear in f (star + small-bucket slack) ...
    linear_bound = bands * (n_adv - 1) + bands * n_adv * (cap - 1) // 2
    assert len(cand_cap) <= linear_bound  # measured 388 << 7192
    # ... and at least 10x below the quadratic blowup
    assert len(cand_cap) * 10 <= len(cand_un)

    ver_cap = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            df, verify=True, max_bucket_size=cap, **kw
        ).collect()
    }
    ver_un = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(df, verify=True, **kw).collect()
    }
    planted = {(300 + 2 * p, 301 + 2 * p) for p in range(5)}
    # recall floor 1.0 on out-of-bucket true dups
    assert planted <= set(ver_cap)
    # zero false positives from the non-near-dup hot cluster
    assert not adv(set(ver_cap))
    assert all(j >= 0.9 for j in ver_cap.values())
    # the in-bucket pair: found uncapped, and on THIS fixture found
    # capped too (its identical tail forms a private size-2 band bucket)
    assert (200, 201) in ver_un
    assert (200, 201) in ver_cap


def test_embedding_bucket_cap_adversarial_skew(spark: SparkSession) -> None:
    """Hyperplane-LSH analogue of the adversarial skew pin: 60 vectors
    in a tight cone around one direction (pairwise cosine ~0.94-0.98,
    below the 0.99 threshold) collide in EVERY table's hot bucket —
    uncapped candidates are the full quadratic 1770; the cap must cut
    them to the linear star while keeping recall 1.0 on planted
    near-dup pairs elsewhere and emitting zero cone pairs."""
    np = pytest.importorskip("numpy")
    dim, n_adv, cap, tables = 32, 60, 6, 6
    rng = np.random.RandomState(7)
    u = np.zeros(dim)
    u[0] = 1.0
    arr = []
    for _ in range(n_adv):
        g = rng.randn(dim)
        g[0] = 0.0
        g /= np.linalg.norm(g)
        v = u + 0.2 * g
        arr.append(v / np.linalg.norm(v))
    arr = np.stack(arr)
    cosmat = arr @ arr.T
    np.fill_diagonal(cosmat, 0.0)
    # fixture self-check: the cone is NOT a near-dup cluster at 0.99
    assert cosmat.max() < 0.99  # measured 0.9833
    rows = [(i, [float(x) for x in arr[i]]) for i in range(n_adv)]
    for p in range(5):  # planted true near-dups away from the cone
        base = np.zeros(dim)
        base[2 + p] = 1.0
        pert = base.copy()
        pert[20 + p] = 0.05
        pert /= np.linalg.norm(pert)
        rows.append((100 + 2 * p, [float(x) for x in base]))
        rows.append((101 + 2 * p, [float(x) for x in pert]))
    rng2 = np.random.RandomState(11)
    for i in range(n_adv):  # background: random unit vectors
        w = rng2.randn(dim)
        rows.append((300 + i, [float(x) for x in w / np.linalg.norm(w)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(id_col="vec_id", vec_col="embedding", dim=dim)

    def adv(pairs):
        return {p for p in pairs if p[0] < n_adv and p[1] < n_adv}

    # threshold=-1 accepts every candidate: measures raw bucket pressure
    raw_un = adv(
        {
            (r["id_a"], r["id_b"])
            for r in similarity.embedding_neardup_pairs(
                df, threshold=-1.0, **kw
            ).collect()
        }
    )
    raw_cap = adv(
        {
            (r["id_a"], r["id_b"])
            for r in similarity.embedding_neardup_pairs(
                df, threshold=-1.0, max_bucket_size=cap, **kw
            ).collect()
        }
    )
    assert len(raw_un) >= 1500  # measured: full quadratic 1770
    linear_bound = tables * (n_adv - 1) + tables * n_adv * (cap - 1) // 2
    assert len(raw_cap) <= linear_bound  # measured 59 (= f-1) << 1254
    assert len(raw_cap) * 10 <= len(raw_un)

    ver_cap = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_neardup_pairs(
            df, threshold=0.99, max_bucket_size=cap, **kw
        ).collect()
    }
    planted = {(100 + 2 * p, 101 + 2 * p) for p in range(5)}
    assert planted <= ver_cap  # recall floor 1.0 outside the cone
    assert not adv(ver_cap)  # exact verify drops every cone star pair


def test_tfidf_term_scores(spark: SparkSession) -> None:
    """A term appearing in fewer docs carries higher idf; docs without
    any query term are excluded."""
    df = spark.createDataFrame(
        [
            (1, "rare common common"),
            (2, "common common common"),
            (3, "nothing relevant here"),
        ],
        "doc_id long, text string",
    )
    scores = {
        r["doc_id"]: r["score"]
        for r in text.tfidf_term_scores(
            df, ["rare", "common"], id_col="doc_id", text_col="text"
        ).collect()
    }
    assert set(scores) == {1, 2}
    import math

    idf_rare = math.log(4 / 2) + 1
    idf_common = math.log(4 / 3) + 1
    assert abs(scores[1] - ((1 / 3) * idf_rare + (2 / 3) * idf_common)) < 1e-9
    assert abs(scores[2] - idf_common) < 1e-9


def test_bpe_ish_tokens(spark: SparkSession) -> None:
    df = spark.createDataFrame(
        [("Hello, world42 it's 2024!",), ("",)], ["text"]
    )
    rows = df.select(
        text.bpe_ish_tokens(F.col("text")).alias("t"),
        text.bpe_ish_token_count(F.col("text")).alias("n"),
    ).collect()
    assert rows[0]["t"] == [
        "Hello", ",", " world", "42", " it", "'", "s", " 2024", "!",
    ]
    assert rows[0]["n"] == 9
    assert rows[1]["t"] == [] and rows[1]["n"] == 0


def test_connected_components_hand_graph(spark) -> None:
    """Two chains and an isolated pair: labels converge to the min id of
    each component."""
    from sql_autoloader_spark.functions import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_connected_components_long_chain_converges(spark) -> None:
    """A 12-node path needs diameter-many rounds — must converge inside
    the iteration cap and label everything with the chain head."""
    from sql_autoloader_spark.functions import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    got = dedup.connected_components(pairs).collect()
    assert all(r["component"] == 0 for r in got)
    assert len(got) == 13


def test_connected_components_matches_networkx(spark) -> None:
    """Differential: random-ish edge sets vs networkx's reference
    implementation (min node id per component)."""
    import networkx as nx

    from sql_autoloader_spark.functions import dedup

    # deterministic pseudo-random edge set: hash-derived pairs over 40
    # nodes, densities from sparse forest to near-connected
    for seed, n_edges in [(1, 8), (2, 20), (3, 45)]:
        edges = []
        x = seed
        for _ in range(n_edges):
            x = (x * 1103515245 + 12345) % (1 << 31)
            a = x % 40
            x = (x * 1103515245 + 12345) % (1 << 31)
            b = x % 40
            if a != b:
                edges.append((min(a, b), max(a, b)))
        g = nx.Graph(edges)
        want = {}
        for comp in nx.connected_components(g):
            root = min(comp)
            for node in comp:
                want[node] = root
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert got == want, f"seed={seed}"


def test_star_components_matches_networkx(spark) -> None:
    """The diameter-independent large-star/small-star algorithm agrees
    with networkx on the same pseudo-random edge sets, plus a shuffled
    deep chain (diameter 60 ≫ the 25-round label-prop budget)."""
    import networkx as nx

    from sql_autoloader_spark.functions import dedup

    cases = []
    for seed, n_edges in [(1, 8), (2, 20), (3, 45)]:
        edges, x = [], seed
        for _ in range(n_edges):
            x = (x * 1103515245 + 12345) % (1 << 31)
            a = x % 40
            x = (x * 1103515245 + 12345) % (1 << 31)
            b = x % 40
            if a != b:
                edges.append((min(a, b), max(a, b)))
        cases.append(edges)
    # chain with ids scrambled so the min sits mid-chain (worst case for
    # label propagation, routine for star)
    scramble = [(i * 37) % 61 for i in range(61)]
    cases.append(
        [(scramble[i], scramble[i + 1]) for i in range(60)]
    )

    for i, edges in enumerate(cases):
        g = nx.Graph(edges)
        want = {}
        for comp in nx.connected_components(g):
            root = min(comp)
            for node in comp:
                want[node] = root
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["id"]: r["component"]
            for r in dedup.connected_components(
                pairs, algorithm="star"
            ).collect()
        }
        assert got == want, f"case={i}"


def test_auto_falls_back_to_star_on_deep_chain(spark) -> None:
    """A diameter-120 chain exceeds label propagation's round budget;
    algorithm='auto' (the default) must fall back to the star algorithm
    and still return exact components — the convergence RuntimeError is
    unreachable under the default."""
    import pytest

    from sql_autoloader_spark.functions import dedup

    scramble = [(i * 53) % 121 for i in range(121)]
    pairs = spark.createDataFrame(
        [(scramble[i], scramble[i + 1]) for i in range(120)],
        "id_a long, id_b long",
    )
    got = dedup.connected_components(pairs, max_iterations=8).collect()
    assert len(got) == 121
    assert all(r["component"] == 0 for r in got)

    # the explicit label algorithm still guards against silent
    # half-propagation
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(
            pairs, max_iterations=8, algorithm="label"
        )


def test_auto_picks_star_above_edge_threshold(spark, monkeypatch) -> None:
    """Above STAR_EDGE_THRESHOLD edges, algorithm='auto' must go to the
    star algorithm OUTRIGHT (no wasted label rounds), and the result
    must stay exact."""
    from sql_autoloader_spark.functions import dedup

    calls: list[str] = []
    orig_star = dedup._star_components

    def spy(edges, **kw):  # noqa: ANN001, ANN202
        calls.append("star")
        return orig_star(edges, **kw)

    monkeypatch.setattr(dedup, "_star_components", spy)
    monkeypatch.setattr(dedup, "STAR_EDGE_THRESHOLD", 3)
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )  # 8 symmetric edges > threshold 3
    got = {
        (r["id"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert calls == ["star"]
    assert got == {(0, 0), (1, 0), (2, 0), (3, 0), (5, 5), (6, 5)}

    # small graphs stay on label propagation (no star call)
    calls.clear()
    monkeypatch.setattr(dedup, "STAR_EDGE_THRESHOLD", 1_000)
    got2 = {
        (r["id"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert calls == []
    assert got2 == got


def test_connected_components_logs_one_path_record(
    spark, monkeypatch, caplog
) -> None:
    """Every call emits exactly one decision record on the
    ``sql_autoloader_spark`` logger naming the path it took — local,
    label, star or the label→star fallback — with the pair/edge counts
    the call already took (None where it took none)."""
    import logging

    from sql_autoloader_spark.functions import dedup

    small = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    # scrambled 121-node chain: diameter 120 ≫ an 8-round label budget,
    # which star still meets
    scramble = [(i * 53) % 121 for i in range(121)]
    chain = spark.createDataFrame(
        [(scramble[i], scramble[i + 1]) for i in range(120)],
        "id_a long, id_b long",
    )

    def record(pairs, **kw):  # noqa: ANN001, ANN003, ANN202
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="sql_autoloader_spark"):
            dedup.connected_components(pairs, **kw).collect()
        recs = [
            r
            for r in caplog.records
            if getattr(r, "op", None) == "connected_components"
        ]
        assert len(recs) == 1, kw
        return recs[0].decision, recs[0].n_pairs, recs[0].n_edges

    assert record(small) == ("local", 3, None)
    assert record(small, algorithm="label") == ("label", None, None)
    assert record(small, algorithm="star") == ("star", None, None)
    monkeypatch.setattr(dedup, "STAR_EDGE_THRESHOLD", 0)
    assert record(small) == ("star", 3, 6)
    monkeypatch.setattr(dedup, "STAR_EDGE_THRESHOLD", 50_000_000)
    monkeypatch.setattr(dedup, "LOCAL_EDGE_THRESHOLD", 0)
    assert record(small) == ("label", 3, 6)
    assert record(chain, max_iterations=8) == ("label→star", 120, 240)


def test_connected_components_runs_pair_lineage_once(spark) -> None:
    """The caller's pair lineage executes once per call on the driver,
    label and star paths: a Python UDF in it ticks an accumulator once
    per pair row."""
    from pyspark.sql.types import LongType

    from sql_autoloader_spark.functions import dedup

    rows = [(1, 2), (2, 3), (3, 1), (7, 8), (8, 9), (20, 20)]
    ticks = spark.sparkContext.accumulator(0)

    def tick(x):  # noqa: ANN001, ANN202
        ticks.add(1)
        return x

    base = spark.createDataFrame(rows, "id_a long, id_b long")
    for kw in ({}, {"algorithm": "label"}, {"algorithm": "star"}):
        ticks.value = 0
        pairs = base.withColumn("id_b", F.udf(tick, LongType())("id_b"))
        got = dedup.connected_components(pairs, **kw).collect()
        assert len(got) == 7, kw
        assert ticks.value == len(rows), kw


def test_exact_cosine_pairs_matches_join_form(spark) -> None:
    """The blocked all-pairs scorer is bit-identical (exceptAll empty
    both ways, raw unrounded sims) to the join + cosine_arrow form on a
    fixture covering the edge cases: NULL vector, NULL-element vector,
    mismatched dims, zero vector, all-NaN vector, duplicate ids with
    different payloads, a NULL id and NaN double ids (which never
    pair)."""
    import random

    from pyspark.sql import functions as F

    from sql_autoloader_spark.functions import similarity

    random.seed(7)
    rows = [
        (i, [random.uniform(-1.0, 1.0) for _ in range(8)])
        for i in range(60)
    ]
    rows += [
        (100, None),  # NULL vector -> 0.0 in both forms
        (101, [1.0, None, 0.5, 0.0, 0.0, 0.0, 0.0, 0.0]),  # NULL elem
        (102, [1.0, 2.0]),  # mismatched dim -> 0.0 against the rest
        (103, [0.0] * 8),  # zero norm -> 0.0
        (104, [float("nan")] * 8),  # NaN propagates identically
        (5, [9.9] * 8),  # duplicate id, different payload
        (None, [1.0] * 8),  # NULL id: never appears in any pair
    ]
    emb_long = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    # double ids add two NaN ids, which never pair either (the join
    # form would pair a NaN id with every smaller id)
    emb_double = emb_long.withColumn(
        "vec_id", F.col("vec_id").cast("double")
    ).unionByName(
        spark.createDataFrame(
            [(float("nan"), [0.5] * 8), (float("nan"), [0.25] * 8)],
            "vec_id double, embedding array<float>",
        )
    )
    for id_type, emb in (("long", emb_long), ("double", emb_double)):
        ref = emb.where(~F.isnan("vec_id"))
        a = ref.select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")
        )
        b = ref.select(
            F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")
        )
        # materialized once each: the asserts below re-read them
        old = (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                similarity.cosine_arrow(F.col("va"), F.col("vb")).alias("sim"),
            )
            .localCheckpoint()
        )
        for blocks in (None, 3):
            new = similarity.exact_cosine_pairs(
                emb, id_col="vec_id", vec_col="embedding", blocks=blocks
            ).localCheckpoint()
            tag = f"{id_type} blocks={blocks}"
            assert new.count() == old.count(), tag
            assert old.exceptAll(new).isEmpty(), tag
            assert new.exceptAll(old).isEmpty(), tag

    # min_sim prunes the return stream as a SUPERSET of the caller's
    # exact round+filter: the filtered results must be identical
    def filtered(frame):  # noqa: ANN001, ANN202
        return frame.select(
            "id_a", "id_b", F.round(F.col("sim"), 6).alias("sim")
        ).where(F.col("sim") >= 0.2)

    want_f = filtered(old)
    got_f = filtered(
        similarity.exact_cosine_pairs(
            emb, id_col="vec_id", vec_col="embedding", min_sim=0.2
        )
    )
    assert want_f.exceptAll(got_f).isEmpty()
    assert got_f.exceptAll(want_f).isEmpty()
    assert got_f.count() == want_f.count() > 0


def test_local_components_fast_path_and_parity(
    spark, monkeypatch, conf_writes
) -> None:
    """When 2 × the pair rows is at or below LOCAL_EDGE_THRESHOLD,
    algorithm='auto' solves the labeling on the driver (one collect,
    zero distributed rounds) without writing the session conf; labels
    are identical to the distributed label path, also for reversed,
    repeated and self pairs; one row over the bound the distributed
    loop runs; NULL ids fall through to the distributed loop rather
    than the vectorized path; timestamp ids keep their instants under a
    non-UTC session timezone."""
    from sql_autoloader_spark.functions import dedup

    calls: list[str] = []
    orig_local = dedup._local_components

    def spy(edges):  # noqa: ANN001, ANN202
        calls.append("local")
        return orig_local(edges)

    monkeypatch.setattr(dedup, "_local_components", spy)
    # scrambled chain (min mid-chain — worst case for naive relax;
    # diameter 20 stays inside the explicit label path's round budget)
    # + a separate triple + a self-loop singleton
    scramble = [(i * 8) % 21 for i in range(21)]
    edges = [(scramble[i], scramble[i + 1]) for i in range(20)]
    edges += [(100, 101), (101, 102), (200, 200)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {
        (r["id"], r["component"])
        for r in dedup.connected_components(
            pairs, algorithm="label"
        ).collect()
    }
    calls.clear()  # the explicit-label run above must not have used it
    conf_writes.clear()
    got = {
        (r["id"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert calls == ["local"]
    assert conf_writes == []
    assert got == want
    assert (200, 200) in got  # self-loop keeps its own component

    # above the bound, auto stays on the distributed loop
    calls.clear()
    monkeypatch.setattr(dedup, "LOCAL_EDGE_THRESHOLD", 0)
    got2 = {
        (r["id"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert calls == []
    assert got2 == want
    monkeypatch.setattr(dedup, "LOCAL_EDGE_THRESHOLD", 1_000_000)

    # the driver path symmetrizes raw pairs itself: a reversed
    # duplicate, an exact duplicate and a self-pair label like star
    messy = spark.createDataFrame(
        [(5, 3), (3, 5), (5, 3), (3, 9), (9, 9), (40, 40), (41, 40)],
        "id_a long, id_b long",
    )
    want_m = {
        (r["id"], r["component"])
        for r in dedup.connected_components(
            messy, algorithm="star"
        ).collect()
    }
    assert want_m == {(3, 3), (5, 3), (9, 3), (40, 40), (41, 40)}
    # the bound is 2 × pair rows (7 rows here): at it the driver path
    # runs, one below it the distributed loop does
    for bound, path in ((14, ["local"]), (13, [])):
        monkeypatch.setattr(dedup, "LOCAL_EDGE_THRESHOLD", bound)
        calls.clear()
        got_m = {
            (r["id"], r["component"])
            for r in dedup.connected_components(messy).collect()
        }
        assert calls == path, bound
        assert got_m == want_m, bound
    monkeypatch.setattr(dedup, "LOCAL_EDGE_THRESHOLD", 1_000_000)

    # NULL ids: the vectorized path declines (returns None) and the
    # distributed loop answers — same rows either way
    withnull = spark.createDataFrame(
        [(1, 2), (None, 3)], "id_a long, id_b long"
    )
    calls.clear()
    got3 = {
        (r["id"], r["component"])
        for r in dedup.connected_components(withnull).collect()
    }
    assert calls == ["local"]  # tried, declined, fell through
    want3 = {
        (r["id"], r["component"])
        for r in dedup.connected_components(
            withnull, algorithm="label"
        ).collect()
    }
    assert got3 == want3

    # timestamp ids under a non-UTC session: 05:30 and 06:30 UTC on
    # 2021-11-07 are both 01:30 New York wall-clock time (the DST
    # fall-back hour), so a session-local naive round trip would merge
    # them; the labels must equal the all-JVM star algorithm's
    from datetime import datetime, timedelta, timezone

    t0 = datetime(2021, 11, 7, 5, 30, tzinfo=timezone.utc)
    ts = [t0 + timedelta(hours=h) for h in (0, 1, 2, 30)]
    tz_pairs = spark.createDataFrame(
        [(ts[0], ts[2]), (ts[1], ts[3])], "id_a timestamp, id_b timestamp"
    )
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        calls.clear()
        conf_writes.clear()
        got4 = dedup.connected_components(tz_pairs)
        assert calls == ["local"]
        assert conf_writes == []
        want4 = dedup.connected_components(tz_pairs, algorithm="star")
        assert got4.exceptAll(want4).isEmpty()
        assert want4.exceptAll(got4).isEmpty()
        assert got4.count() == 4
        assert got4.select("component").distinct().count() == 2
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_pil_decode_path_with_fake_codec(monkeypatch) -> None:
    """The import-gated real-codec path: with a (fake) PIL installed the
    decoder produces a pixel histogram; undecodable bytes fall back to
    the byte histogram; both honor the bytes → FEATURE_DIM contract."""
    from sql_autoloader_spark.functions import multimodal as mm

    class FakeImg:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def convert(self, mode):
            assert mode == "L"
            return self

        def getdata(self):
            return [0, 16, 32, 255]

    class FakePIL:
        @staticmethod
        def open(buf):
            return FakeImg()

    monkeypatch.setattr(mm, "_PILImage", FakePIL)
    vec = mm._decode_image_bytes(b"anything")
    assert len(vec) == mm.FEATURE_DIM
    assert abs(sum(vec) - 1.0) < 1e-9
    # pixels 0,16,32,255 land in bins 0,1,2,15
    assert (vec[0], vec[1], vec[2], vec[15]) == (0.25, 0.25, 0.25, 0.25)

    class RaisingPIL:
        @staticmethod
        def open(buf):
            msg = "not an image"
            raise OSError(msg)

    monkeypatch.setattr(mm, "_PILImage", RaisingPIL)
    vec2 = mm._decode_image_bytes(bytes([0, 1, 2]))
    assert len(vec2) == mm.FEATURE_DIM
    assert abs(sum(vec2) - 1.0) < 1e-9


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_minhash_front_matches_jvm_chain(
    spark: SparkSession, id_type: str
) -> None:
    """The fused Arrow front's ``(doc, sh, bk)`` is bit-identical to the
    JVM chain it replaces (token hashes → shingle windows → pmod →
    array_distinct → permutation signature → per-band xxhash64), keys
    exactly the docs with at least one shingle, and passes the id
    through with its own type.  The long doc's batch averages over 1024
    shingles per doc, so the per-row signature regime runs beside the
    reduceat one."""
    texts = [
        None,
        "",
        "one",
        "two words",
        "exactly three words",
        "a b a b a b a b c",  # repeated shingles
        "tab\tseparated\nlines  and   runs of   spaces here",
        "Σίσυφος İstanbul ÜBER straße Σ İ Ü σ i̇ ü",
        "the quick brown fox jumps over the lazy dog " * 3,
        " ".join(f"w{i}" for i in range(12_000)),
    ]
    rows = [
        (str(i) if id_type == "string" else i, t) for i, t in enumerate(texts)
    ]
    docs = spark.createDataFrame(rows, f"doc_id {id_type}, text string")

    front = dedup._minhash_front(
        docs, "doc_id", "text", num_hashes=32, bands=8, shingle_words=3
    )
    assert front.schema["doc"].dataType == docs.schema["doc_id"].dataType
    sig = dedup.minhash_signature_from_hashes(F.col("sh"), num_hashes=32)
    ref = (
        docs.select(
            F.col("doc_id").alias("doc"),
            dedup._token_hashes("text").alias("th"),
        )
        .where(F.size("th") >= 3)
        .select(
            "doc",
            F.array_distinct(
                F.transform(
                    dedup._hash_windows(F.col("th"), 3),
                    lambda h: F.pmod(h, F.lit(dedup._MERSENNE31)),
                )
            ).alias("sh"),
        )
        .select("doc", "sh", sig.alias("sig"))
        .select(
            "doc",
            "sh",
            F.array(
                *[
                    F.xxhash64(
                        *[F.element_at("sig", b * 4 + r + 1) for r in range(4)]
                    )
                    for b in range(8)
                ]
            ).alias("bk"),
        )
    )
    got = {r.doc: (r.sh, r.bk) for r in front.collect()}
    want = {r.doc: (r.sh, r.bk) for r in ref.collect()}
    assert got == want
    assert sorted(got, key=int) == [
        rows[i][0] for i in (4, 5, 6, 7, 8, 9)
    ]
    assert len(got[rows[9][0]][0]) > 1024


def test_numpy_xxhash64_matches_spark(spark: SparkSession) -> None:
    """The numpy ``xxhash64`` the MinHash front uses equals Spark's
    ``xxhash64`` over 1–4 ``bigint`` columns, at the int64 extremes and
    on seeded random values."""
    import numpy as np

    edge = [0, 1, -1, 2**63 - 1, -(2**63 - 1), -(2**63)]
    rng = np.random.default_rng(7)
    vals = edge + rng.integers(-(2**63), 2**63 - 1, 58, dtype=np.int64).tolist()
    rows = [tuple(vals[(i + 7 * k) % len(vals)] for k in range(4)) for i in range(len(vals))]
    cols = ["c0", "c1", "c2", "c3"]
    got = spark.createDataFrame(
        rows, ", ".join(f"{c} bigint" for c in cols)
    ).select(
        *cols, *[F.xxhash64(*cols[:k]).alias(f"h{k}") for k in range(1, 5)]
    ).collect()
    for k in range(1, 5):
        ours = dedup._xxhash64(
            [np.array([r[c] for r in got], dtype=np.int64) for c in cols[:k]]
        )
        assert ours.tolist() == [r[f"h{k}"] for r in got], k


def test_simhash_vectorized_matches_expression(spark: SparkSession) -> None:
    """The Arrow fold must be bit-identical to the pure-expression
    simhash (same xxhash64 inputs, same sign rule, same bit-63
    handling) — including empty and single-token documents."""
    from pyspark.sql import functions as F

    from sql_autoloader_spark.functions import text

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely different words entirely here now"),
            (3, "single"),
            (4, ""),
            (5, "a a a a a a a a"),
            # even token count with two distinct tokens: per-bit
            # counters hit exactly 0 wherever the two hashes disagree,
            # pinning the strict `> 0` sign rule on the tie
            (6, "alpha beta"),
            (7, "alpha beta gamma delta"),
        ],
        ["doc_id", "text"],
    )
    both = docs.select(
        "doc_id",
        dedup.simhash(F.col("text")).alias("expr_fp"),
        dedup.simhash_vectorized(
            F.transform(text.tokens(F.col("text")), lambda t: F.xxhash64(t))
        ).alias("vec_fp"),
    ).collect()
    for row in both:
        assert row.expr_fp == row.vec_fp, row


def test_similarity_tolerates_zero_and_null_vectors(
    spark: SparkSession,
) -> None:
    """A zero-norm vector must score sim=0 (not NaN, not an ANSI
    divide-by-zero crash) and a NULL embedding must drop out of the LSH
    and IVF paths instead of blowing up the Arrow signature batch."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero norm
        (3, None),  # null embedding
        (4, [0.8, 0.2, 0.1, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = df.where("vec_id = 0")

    brute = similarity.brute_force_topk(df, q, k=4).collect()
    sims = {r.neighbor_id: r.sim for r in brute}
    assert sims[2] == 0.0  # zero vector scores 0, ranks last
    assert sims[1] > 0.9
    top = min(brute, key=lambda r: r.rank)
    assert top.neighbor_id in (1, 4)

    lsh = similarity.lsh_topk(df, q, dim=4, k=4).collect()
    assert all(r.neighbor_id != 3 for r in lsh)  # null dropped, no crash

    ivf = similarity.ivf_topk(df, q, k=4, n_centroids=2, n_probe=2).collect()
    assert all(r.neighbor_id != 3 for r in ivf)


def test_minhash_bands_must_divide_num_hashes(spark: SparkSession) -> None:
    df = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="must divide"):
        dedup.minhash_lsh_pairs(
            df, id_col="doc_id", text_col="text", num_hashes=32, bands=5
        )


def test_quantize_int8_codes_and_zero_vector(spark: SparkSession) -> None:
    df = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 0.5]),
            (2, [0.0, 0.0, 0.0]),
            (3, [-4.0]),
        ],
        "id long, v array<float>",
    )
    rows = {
        r["id"]: r["q"]
        for r in df.select(
            "id", similarity.quantize_int8(F.col("v")).alias("q")
        ).collect()
    }
    # scale = 127/2 = 63.5: round(63.5)=64, round(-127)=-127, round(31.75)=32
    assert rows[1] == [64, -127, 32]
    assert rows[2] == [0, 0, 0]  # zero vector -> all-zero codes, no NaN
    assert rows[3] == [-127]
    assert all(all(-127 <= c <= 127 for c in q) for q in rows.values())


def test_quantized_topk_tracks_float_ranking(spark: SparkSession) -> None:
    """Quantized neighbours must strongly agree with exact float cosine
    (64-dim codes at 1/127 resolution) and the plan must stay broadcast."""
    import random

    rng = random.Random(7)
    # planted cluster structure: random gaussians make every cosine a
    # near-tie, which tests rounding noise, not ranking quality
    centers = [[rng.gauss(0, 1) for _ in range(32)] for _ in range(6)]
    rows = [
        (
            i,
            [
                c + rng.gauss(0, 0.15)
                for c in centers[i % len(centers)]
            ],
        )
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.where(F.col("vec_id") < 5)
    # value accuracy over EVERY pair (k = corpus size): int8 cosine must
    # track float cosine within code resolution.  (Top-k set overlap is
    # deliberately not asserted — planted clusters make cluster siblings
    # near-ties, where set membership measures tie-breaking noise.)
    exact = similarity.brute_force_topk(emb, queries, k=59)
    quant = similarity.quantized_topk(emb, queries, k=59)
    sims = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in exact.collect()
    }
    worst = max(
        abs(r["qsim"] - sims[(r["query_id"], r["neighbor_id"])])
        for r in quant.collect()
    )
    assert worst <= 0.02, f"quantized cosine drifts too far: {worst}"
    assert "BroadcastHashJoin" in quant._jdf.queryExecution().executedPlan().toString() or \
        "BroadcastNestedLoopJoin" in quant._jdf.queryExecution().executedPlan().toString()



def test_scrub_pii_rules(spark: SparkSession) -> None:
    df = spark.createDataFrame(
        [
            ("mail me at jane.doe+x@sub.example.org thanks",),
            ("call +31-123-4567 or 1-800-555-0199 now",),
            ("server 192.168.0.1 and 10.0.255.7",),
            ("no pii here",),
        ],
        "text string",
    )
    out = [
        r[0]
        for r in df.select(text.scrub_pii(F.col("text"))).collect()
    ]
    assert out[0] == "mail me at <EMAIL> thanks"
    assert out[1] == "call <PHONE> or <PHONE> now"
    assert out[2] == "server <IP> and <IP>"
    assert out[3] == "no pii here"
    counts = df.select(*text.pii_counts(F.col("text"))).collect()
    totals = [sum(r[i] for r in counts) for i in range(3)]
    assert totals == [1, 2, 2]  # emails, phones, ips across the corpus
    # email rule runs first: address digits are never half-eaten by the
    # phone rule
    tricky = spark.createDataFrame([("x 123-456-7890@mail.com y",)], "t string")
    assert (
        tricky.select(text.scrub_pii(F.col("t"))).first()[0]
        == "x <EMAIL> y"
    )


def test_learn_bpe_merges_hand_example(spark: SparkSession) -> None:
    """Classic BPE on a corpus with unambiguous merge order: 'aaab' x3 +
    'ab' x1.  Pair counts weighted by word frequency; ties break on the
    lexicographically smallest pair."""
    df = spark.createDataFrame(
        [("aaab aaab ab",), ("aaab",)], "text string"
    )
    out = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in text.learn_bpe_merges(df, n_merges=3).collect()
    ]
    assert out == [
        (1, "a", "a", "aa", 6),          # (a,a): 2 per 'aaab' word x3
        (2, "a", "b", "ab", 4),          # ties (b,</w>) at 4 -> lex smaller
        (3, "ab", "</w>", "ab</w>", 4),
    ]


def test_learn_bpe_merges_respects_vocab_cap(spark: SparkSession) -> None:
    df = spark.createDataFrame(
        [("zz zz zz rare",)], "text string"
    )
    # cap keeps only the most frequent word 'zz': merges come from it
    # alone ((z,</w>) ties (z,z) at 3 and wins lexicographically)
    out = text.learn_bpe_merges(df, n_merges=2, max_vocab=1).collect()
    assert [r["merged"] for r in out] == ["z</w>", "zz</w>"]
    assert all("r" not in r["merged"] for r in out)  # 'rare' was capped out


def test_quantized_topk_ranks_by_cosine_not_raw_dot(
    spark: SparkSession,
) -> None:
    """Per-vector quantization scales do NOT cancel in the raw integer
    dot — a large-magnitude neighbour gets a bigger qdot than a
    more-similar one.  The ranking must therefore use the quantized
    cosine, where the scales cancel."""
    emb = spark.createDataFrame(
        [
            (0, [0.5, 1.0]),   # query
            (1, [0.5, 1.0]),   # identical direction -> cosine 1.0
            (2, [1.0, 1.0]),   # bigger qdot (codes [127,127]) but lower cosine
        ],
        "vec_id long, embedding array<float>",
    )
    out = similarity.quantized_topk(
        emb, emb.where(F.col("vec_id") == 0), k=2
    ).collect()
    assert [r["neighbor_id"] for r in out] == [1, 2]
    assert out[0]["qsim"] > out[1]["qsim"]
    # and the raw dot really is inverted, which is what this guards
    assert out[0]["qdot"] < out[1]["qdot"]


def test_quantized_codes_are_tinyint(spark: SparkSession) -> None:
    """The 4x memory claim requires 1-byte codes, not 4-byte ints."""
    df = spark.createDataFrame([(1, [1.0, -2.0])], "id long, v array<float>")
    out = df.select(similarity.quantize_int8(F.col("v")).alias("q"))
    assert out.schema["q"].dataType.simpleString() == "array<tinyint>"


def test_quantization_properties(spark: SparkSession) -> None:
    """Property sweep (Hypothesis): codes stay in [-127,127] tinyints,
    an all-zero vector quantizes to zeros, and the quantized cosine of a
    vector with itself is 1 (unless zero)."""
    import math

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    finite = st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    )
    vecs = st.lists(
        st.lists(finite, min_size=1, max_size=8), min_size=1, max_size=6
    )

    @settings(
        max_examples=20,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(rows=vecs)
    def check(rows) -> None:
        # pad to a uniform dim (arrays in a column share length here)
        dim = max(len(r) for r in rows)
        rows = [r + [0.0] * (dim - len(r)) for r in rows]
        df = spark.createDataFrame(
            [(i, r) for i, r in enumerate(rows)], "id long, v array<float>"
        )
        out = df.select(
            "id",
            similarity.quantize_int8(F.col("v")).alias("q"),
            F.col("v"),
        ).collect()
        for r in out:
            assert all(-127 <= c <= 127 for c in r["q"])
            if all(x == 0.0 for x in r["v"]):
                assert all(c == 0 for c in r["q"])
            else:
                # self-cosine of the codes is 1 for any nonzero vector
                d = sum(c * c for c in r["q"])
                assert d > 0
                assert math.isclose(d / (math.sqrt(d) * math.sqrt(d)), 1.0)

    check()


def test_constraint_report_semantics(spark: SparkSession) -> None:
    """NULLs never count against value rules; unique treats NULL keys as
    distinct; min_rows reports the shortfall."""
    from sql_autoloader_spark.functions import constraints

    df = spark.createDataFrame(
        [
            (1, "A", 5.0),
            (1, "A", 60.0),   # dup key (1, A); range violation
            (None, "B", None),  # null id; null value ignored by range
            (2, None, 0.5),   # null in key -> unique ignores; accepted ignores
        ],
        "id long, flag string, v double",
    )
    out = {
        r["rule"]: (r["violations"], r["passed"])
        for r in constraints.constraint_report(
            df,
            not_null=["id"],
            unique=[["id", "flag"]],
            ranges={"v": (0, 50)},
            accepted={"flag": ["A", "B"]},
            min_rows=10,
        ).collect()
    }
    assert out == {
        "not_null(id)": (1, False),
        "unique(id, flag)": (1, False),
        "range(v, 0, 50)": (1, False),
        "accepted(flag)": (0, True),
        "min_rows(10)": (6, False),
    }


def test_constraint_report_single_job(spark: SparkSession) -> None:
    """All rules must compile into ONE aggregate over one scan — no
    per-rule jobs (the plan has exactly one pair of HashAggregates)."""
    from sql_autoloader_spark.functions import constraints

    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("flag")
    )
    plan = (
        constraints.constraint_report(
            df,
            not_null=["id"],
            ranges={"id": (0, 99)},
            accepted={"flag": ["0", "1", "2"]},
            min_rows=1,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one partial+final aggregate pair, one single-partition exchange —
    # and no join/generate-per-rule fan-out before the aggregate
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1


def test_profile_table_exact_values_and_single_pass(
    spark: SparkSession,
) -> None:
    """profile_table: per-column stats exact, and the whole profile is
    one aggregate pass over one scan (count_distinct expands the
    aggregate but never adds a second scan of the input)."""
    from sql_autoloader_spark.functions import constraints

    df = spark.createDataFrame(
        [(1, 2.0, "b"), (2, None, "a"), (3, 4.0, None), (3, 6.0, "a")],
        "k bigint, v double, s string",
    )
    rows = {r["column"]: r for r in constraints.profile_table(df).collect()}
    k = rows["k"]
    assert (k["n_rows"], k["n_nulls"], k["n_distinct"]) == (4, 0, 3)
    assert (k["min_num"], k["max_num"], k["avg_num"]) == (1.0, 3.0, 2.25)
    assert k["min_str"] is None and k["max_str"] is None
    v = rows["v"]
    assert (v["n_nulls"], v["n_distinct"], v["avg_num"]) == (1, 3, 4.0)
    s = rows["s"]
    assert (s["n_nulls"], s["n_distinct"]) == (1, 2)
    assert (s["min_str"], s["max_str"]) == ("a", "b")
    assert s["min_num"] is None and s["avg_num"] is None

    plan = (
        constraints.profile_table(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # distinct-count expansion: one expand + aggregate chain, ONE scan
    assert plan.count("LocalTableScan") <= 1 or "Scan" in plan
    assert "Join" not in plan


def test_sessionize_segmented_matches_single_window(
    spark: SparkSession,
) -> None:
    """Differential: the hot-key-safe decomposition must produce
    byte-identical session assignments to the plain single-window
    sessionization — across chunk sizes, including chunk < gap (long
    merge chains across many chunks)."""
    import random

    from pyspark.sql.window import Window

    from sql_autoloader_spark.functions import events as ev

    rnd = random.Random(11)
    rows = []
    eid = 0
    for user in range(6):
        t = 1_700_000_000
        for _ in range(rnd.randrange(5, 40)):
            t += rnd.choice([1, 5, 30, 120, 3600, 7200, 90000])
            rows.append((eid, user, t))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, epoch long"
    ).withColumn("ts", F.timestamp_seconds("epoch"))

    # reference: plain per-user window
    gap_us = 3600 * 1_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    new_sess = F.when(
        F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) > gap_us), 1
    ).otherwise(0)
    ref = {
        (r["event_id"]): (r["user_id"], r["sid"])
        for r in df.withColumn(
            "sid",
            F.sum(new_sess).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        ).collect()
    }

    for chunk in (600, 3600, 7200, 86400):  # incl. chunk < gap
        got = {
            r["event_id"]: (r["user_id"], r["session_id"])
            for r in ev.sessionize_segmented(
                df,
                gap_seconds=3600,
                chunk_seconds=chunk,
                tiebreak_col="event_id",
            ).collect()
        }
        assert got == ref, f"chunk={chunk}"


def test_sessionize_segmented_summary_window_is_small(
    spark: SparkSession,
) -> None:
    """The only per-user window in the decomposed plan runs over chunk
    SUMMARIES: the raw-event windows are partitioned by (user, chunk)."""
    from sql_autoloader_spark.functions import events as ev

    df = spark.createDataFrame(
        [(1, 1, 1_700_000_000)], "event_id long, user_id long, epoch long"
    ).withColumn("ts", F.timestamp_seconds("epoch"))
    plan = (
        ev.sessionize_segmented(df, gap_seconds=60)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # event-level window keys include the chunk; only the summary
    # window partitions by user alone
    assert "__chunk" in plan


def test_apply_bpe_matches_training_replay(spark: SparkSession) -> None:
    """Encode equivalence: the priority (lowest-rank-first) encoder must
    produce exactly the symbols that replaying the merge table in rank
    order produces — for every word of a random corpus, including words
    never seen in training."""
    import random

    rnd = random.Random(3)
    words = [
        "".join(rnd.choice("abcd") for _ in range(rnd.randrange(1, 9)))
        for _ in range(120)
    ]
    docs = spark.createDataFrame(
        [(i, " ".join(rnd.sample(words, 6))) for i in range(40)],
        "doc_id long, text string",
    )
    merges = text.learn_bpe_merges(docs, n_merges=25)
    table = [
        (r["left"], r["right"], r["merged"])
        for r in merges.orderBy("rank").collect()
    ]

    def replay(word: str) -> list[str]:
        symbols = [*word, text.BPE_EOW]
        for left, right, merged in table:
            out, i = [], 0
            while i < len(symbols):
                if (
                    i + 1 < len(symbols)
                    and symbols[i] == left
                    and symbols[i + 1] == right
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(symbols[i])
                    i += 1
            symbols = out
        return symbols

    got = {
        r["doc_id"]: list(r["tokens"])
        for r in text.apply_bpe(docs, merges).collect()
    }
    for row in docs.collect():
        expected = [
            t
            for w in row["text"].lower().split()
            for t in replay(w)
        ]
        assert got[row["doc_id"]] == expected, row["doc_id"]


def test_apply_bpe_hand_example(spark: SparkSession) -> None:
    """Deterministic hand-checked merge + encode on a 2-word corpus."""
    docs = spark.createDataFrame(
        [(1, "aa aa ab")], "doc_id long, text string"
    )
    merges = text.learn_bpe_merges(docs, n_merges=2)
    [row] = text.apply_bpe(docs, merges).collect()
    # merge 1: ('a','a')->'aa' (freq 2 in 'aa'×2 + 1 in 'ab'? pairs:
    # 'aa': a+a, a+</w>; 'ab': a+b, b+</w> — ('a','a') count 2 wins)
    assert row["n_tokens"] == len(row["tokens"])
    joined = ["".join(t.replace(text.BPE_EOW, "") for t in row["tokens"])]
    assert joined == ["aaaaab"]  # lossless concatenation


def test_apply_bpe_keeps_empty_documents(spark: SparkSession) -> None:
    """Whitespace-only / empty docs must survive as (tokens=[], 0) —
    a corpus operator that loses rows breaks downstream joins."""
    docs = spark.createDataFrame(
        [(1, "aa ab"), (2, "   "), (3, "")], "doc_id long, text string"
    )
    merges = text.learn_bpe_merges(docs, n_merges=2)
    rows = {r["doc_id"]: r for r in text.apply_bpe(docs, merges).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2]["n_tokens"] == 0 and list(rows[2]["tokens"]) == []
    assert rows[3]["n_tokens"] == 0
    assert rows[1]["n_tokens"] > 0


def test_apply_bpe_duplicate_id_raises(spark: SparkSession) -> None:
    """A duplicated document id would interleave two rows' word
    positions into one garbled token stream — the operator must fail
    loudly at execution time, never merge documents silently."""
    docs = spark.createDataFrame(
        [(1, "aa ab"), (1, "ab aa"), (2, "aa")], "doc_id long, text string"
    )
    merges = text.learn_bpe_merges(docs, n_merges=1)
    with pytest.raises(Exception, match="unique document ids"):
        text.apply_bpe(docs, merges).collect()


def test_apply_bpe_duplicate_null_id_keeps_diagnostic(
    spark: SparkSession,
) -> None:
    """A duplicated NULL id must fail with the SAME readable message —
    concat with a NULL id must not null out the diagnostic."""
    docs = spark.createDataFrame(
        [(None, "aa ab"), (None, "ab aa"), (2, "aa")],
        "doc_id long, text string",
    )
    merges = text.learn_bpe_merges(docs, n_merges=1)
    with pytest.raises(Exception, match="unique document ids.*NULL"):
        text.apply_bpe(docs, merges).collect()


def test_apply_bpe_null_id_keeps_tokens(spark: SparkSession) -> None:
    """A NULL document id must keep its real tokens through the
    row-preserving re-join (null-safe match, not a silent [])."""
    docs = spark.createDataFrame(
        [(None, "aa ab"), (1, "aa")], "doc_id long, text string"
    )
    merges = text.learn_bpe_merges(docs, n_merges=1)
    rows = {r["doc_id"]: r for r in text.apply_bpe(docs, merges).collect()}
    assert set(rows) == {None, 1}
    assert rows[None]["n_tokens"] > 0
    assert rows[1]["n_tokens"] > 0


def test_mixture_sample_water_fills_to_target_weights(
    spark: SparkSession,
) -> None:
    """mixture_sample keeps each group's token mass at w_g * T where
    T = min_g(mass_g / w_g): the binding group is kept whole, every
    other group is cut at its water-filled budget, in draw order."""
    from sql_autoloader_spark.functions import scale

    rows = [
        # group A, weight 1, mass 10  ->  binding: T = 10
        ("a1", "A", 1, 5),
        ("a2", "A", 1, 5),
        # group B, weight 2, mass 24  ->  budget 20: keeps b1, b2 (16)
        ("b1", "B", 2, 8),
        ("b2", "B", 2, 8),
        ("b3", "B", 2, 8),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, src string, w int, n_tokens int"
    )
    kept = scale.mixture_sample(
        df,
        group_col="src",
        weight_col="w",
        token_col="n_tokens",
        order_cols=["doc_id"],
    )
    got = {r["doc_id"]: r["cum_tokens"] for r in kept.collect()}
    assert got == {"a1": 5, "a2": 10, "b1": 8, "b2": 16}


def test_mixture_sample_properties(spark: SparkSession) -> None:
    """Property sweep (Hypothesis) against a python water-fill model:
    per-group retained mass never exceeds w_g * min_h(mass_h/w_h), at
    least one group is kept WHOLE (the binding group), the kept set is
    a prefix in draw order, and it is maximal (the next doc would
    overflow the budget)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from sql_autoloader_spark.functions import scale

    groups = st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),  # weight
            st.lists(
                st.integers(min_value=1, max_value=50),  # doc tokens
                min_size=1,
                max_size=6,
            ),
        ),
        min_size=1,
        max_size=4,
    )

    @settings(
        max_examples=15,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(gs=groups)
    def check(gs) -> None:
        rows = []
        for gi, (w, toks) in enumerate(gs):
            for di, t in enumerate(toks):
                rows.append((f"g{gi}d{di:02d}", f"g{gi}", w, t))
        df = spark.createDataFrame(
            rows, "doc_id string, src string, w int, n_tokens int"
        )
        kept = scale.mixture_sample(
            df,
            group_col="src",
            weight_col="w",
            token_col="n_tokens",
            order_cols=["doc_id"],
        ).collect()
        t_feasible = min(
            sum(toks) / w for w, toks in gs
        )
        kept_by_group: dict[str, list[str]] = {}
        for r in kept:
            kept_by_group.setdefault(r["src"], []).append(r["doc_id"])
        whole = 0
        for gi, (w, toks) in enumerate(gs):
            budget = w * t_feasible
            ids = sorted(kept_by_group.get(f"g{gi}", []))
            # prefix in order: doc k kept => docs < k kept
            n = len(ids)
            assert ids == [f"g{gi}d{di:02d}" for di in range(n)]
            mass = sum(toks[:n])
            assert mass <= budget + 1e-9
            if n == len(toks):
                whole += 1
            else:
                # maximal: the next doc would overflow
                assert sum(toks[: n + 1]) > budget - 1e-9
        assert whole >= 1  # the binding group is fully consumed

    check()


def test_merge_rollup_sums_partials_and_rejects_mismatch(
    spark: SparkSession,
) -> None:
    from sql_autoloader_spark.functions import scale

    old = spark.createDataFrame(
        [("a", 2, 10), ("b", 1, 5)], "k string, n long, s long"
    )
    delta = spark.createDataFrame(
        [("a", 1, 7), ("c", 4, 1)], "k string, n long, s long"
    )
    got = {
        r["k"]: (r["n"], r["s"])
        for r in scale.merge_rollup(old, delta, keys=["k"]).collect()
    }
    assert got == {"a": (3, 17), "b": (1, 5), "c": (4, 1)}

    bad = spark.createDataFrame([("a", 1)], "k string, other long")
    with pytest.raises(ValueError, match="columns"):
        scale.merge_rollup(old, bad, keys=["k"])


def test_merge_rollup_min_max_combinators(spark: SparkSession) -> None:
    from sql_autoloader_spark.functions import scale

    old = spark.createDataFrame(
        [("a", 2, 5, 9)], "k string, n long, lo long, hi long"
    )
    delta = spark.createDataFrame(
        [("a", 3, 3, 7), ("b", 1, 8, 8)], "k string, n long, lo long, hi long"
    )
    got = {
        r["k"]: (r["n"], r["lo"], r["hi"])
        for r in scale.merge_rollup(
            old, delta, keys=["k"], combine={"lo": "min", "hi": "max"}
        ).collect()
    }
    assert got == {"a": (5, 3, 9), "b": (1, 8, 8)}

    with pytest.raises(ValueError, match="unsupported combinator"):
        scale.merge_rollup(old, delta, keys=["k"], combine={"n": "avg"})
    with pytest.raises(ValueError, match="non-measure"):
        scale.merge_rollup(old, delta, keys=["k"], combine={"k": "sum"})


def test_mixture_sample_target_total_and_validation(
    spark: SparkSession,
) -> None:
    """r14 mixture extensions: (1) a user target_total <= the
    water-fill max scales every budget to w_g * target; (2) a target
    ABOVE it raises at execution NAMING the binding group — never a
    silent under-delivery; (3) NULL and non-positive weights raise a
    named error instead of silently dropping the group (pre-r14 a NULL
    budget dropped every doc of the malformed group; DuckDB would have
    errored — engines now agree)."""
    import pytest

    from sql_autoloader_spark.functions import scale

    rows = [
        ("a1", "A", 1, 5),
        ("a2", "A", 1, 5),
        ("b1", "B", 2, 8),
        ("b2", "B", 2, 8),
        ("b3", "B", 2, 8),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, src string, w int, n_tokens int"
    )
    kw = dict(
        group_col="src",
        weight_col="w",
        token_col="n_tokens",
        order_cols=["doc_id"],
    )

    # feasible target: budgets A=5, B=10 -> a1 (cum 5), b1 (cum 8)
    kept = scale.mixture_sample(df, target_total=5.0, **kw).collect()
    assert sorted((r["doc_id"], r["cum_tokens"]) for r in kept) == [
        ("a1", 5),
        ("b1", 8),
    ]
    # at exactly the water-fill max the target path equals water-fill
    at_max = scale.mixture_sample(df, target_total=10.0, **kw).collect()
    assert sorted(r["doc_id"] for r in at_max) == ["a1", "a2", "b1", "b2"]

    # infeasible: T_max = min(10/1, 24/2) = 10, group A binds
    with pytest.raises(Exception, match="binding group 'A'"):
        scale.mixture_sample(df, target_total=10.5, **kw).collect()

    for w_bad in (None, 0, -2):
        bad = spark.createDataFrame(
            [("x1", "X", w_bad, 5), ("a1", "A", 1, 5)],
            "doc_id string, src string, w int, n_tokens int",
        )
        with pytest.raises(
            Exception, match="non-positive weight for group 'X'"
        ):
            scale.mixture_sample(bad, **kw).collect()


def test_merge_rollup_hll_union_combinator(spark: SparkSession) -> None:
    """Distinct-count measures ride the incremental rollup as HLL
    sketches: merging per-refresh sketch partials with the r14
    "hll_union" combinator estimates the SAME distinct count as one
    sketch over all the data (sketch algebra is associative), and at
    these cardinalities (< 2^lgK) the estimate is exact vs
    countDistinct.  Three refreshes, overlapping keys across deltas —
    the overlap is exactly what a summed count would double-count."""
    from pyspark.sql import functions as F

    from sql_autoloader_spark.functions import scale

    chunks = [
        [("a", i) for i in range(100)] + [("b", i) for i in range(50)],
        [("a", i) for i in range(50, 150)],  # 50 overlap with chunk 0
        [("b", i) for i in range(50)] + [("b", i) for i in range(50, 80)],
    ]

    def sketch(rows):  # noqa: ANN001, ANN202
        return (
            spark.createDataFrame(rows, "k string, v long")
            .groupBy("k")
            .agg(F.hll_sketch_agg("v", 12).alias("sk"))
        )

    summary = sketch(chunks[0])
    for chunk in chunks[1:]:
        summary = scale.merge_rollup(
            summary, sketch(chunk), keys=["k"], combine={"sk": "hll_union"}
        )
    got = {
        r["k"]: r["n"]
        for r in summary.select(
            "k", F.hll_sketch_estimate("sk").cast("bigint").alias("n")
        ).collect()
    }
    exact = (
        spark.createDataFrame(
            [t for c in chunks for t in c], "k string, v long"
        )
        .groupBy("k")
        .agg(F.countDistinct("v").alias("n"))
    )
    want = {r["k"]: r["n"] for r in exact.collect()}
    assert got == want == {"a": 150, "b": 80}


def test_merge_rollup_vector_sum_combinator(spark: SparkSession) -> None:
    """Fixed-bin histograms ride the incremental rollup as
    array<bigint> count vectors: merging per-refresh partials with the
    r14 "vector_sum" combinator (element-wise zip_with sum) equals one
    histogram over all the data, and quantiles read off the merged
    counts — the fixed-boundary form of mergeable percentiles."""
    from pyspark.sql import functions as F

    from sql_autoloader_spark.functions import scale

    def hist(rows):  # noqa: ANN001, ANN202
        df = spark.createDataFrame(rows, "k string, v int")
        b = F.least(F.lit(3), (F.col("v") / 10).cast("int"))
        return df.groupBy("k").agg(
            F.array(
                *[
                    F.sum(F.when(b == i, 1).otherwise(0)).cast("bigint")
                    for i in range(4)
                ]
            ).alias("h")
        )

    chunks = [
        [("a", 1), ("a", 11), ("b", 35)],
        [("a", 12), ("a", 25), ("b", 5)],
        [("a", 39)],
    ]
    merged = hist(chunks[0])
    for c in chunks[1:]:
        merged = scale.merge_rollup(
            merged, hist(c), keys=["k"], combine={"h": "vector_sum"}
        )
    got = {r["k"]: r["h"] for r in merged.collect()}
    direct = {
        r["k"]: r["h"] for r in hist([t for c in chunks for t in c]).collect()
    }
    assert got == direct == {"a": [1, 2, 1, 1], "b": [1, 0, 0, 1]}
    # quantile off the merged histogram: p50 of 'a' (5 values, median
    # rank 3) lands in bin 1 by cumulative walk
    cum, p50_bin = 0, None
    for i, n in enumerate(got["a"]):
        cum += n
        if cum >= 3 and p50_bin is None:
            p50_bin = i
    assert p50_bin == 1


def test_vector_sum_fails_loudly_on_malformed_partials(
    spark: SparkSession,
) -> None:
    """r15 ADVICE fix: the vector_sum merge must never corrupt
    silently.  Pre-fix, arrays of different lengths zip_with-padded
    with nulls (nulled elements) and a NULL partial was silently
    DROPPED by collect_list (undercount).  Both now raise a named
    error carrying the measure name."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import functions as F

    from sql_autoloader_spark.functions import scale

    def partials(rows):  # noqa: ANN001, ANN202
        return spark.createDataFrame(rows, "k string, h array<bigint>")

    ok = scale.merge_rollup(
        partials([("a", [1, 2])]),
        partials([("a", [3, 4]), ("b", [5, 6])]),
        keys=["k"],
        combine={"h": "vector_sum"},
    )
    assert {r["k"]: r["h"] for r in ok.collect()} == {
        "a": [4, 6],
        "b": [5, 6],
    }

    mismatched = scale.merge_rollup(
        partials([("a", [1, 2])]),
        partials([("a", [3, 4, 5])]),
        keys=["k"],
        combine={"h": "vector_sum"},
    )
    with pytest.raises(Exception, match="vector_sum measure `h`") as exc:
        mismatched.collect()
    assert isinstance(exc.value, (Py4JJavaError, Exception))

    nulled = scale.merge_rollup(
        partials([("a", [1, 2])]),
        partials([("a", None)]),
        keys=["k"],
        combine={"h": "vector_sum"},
    )
    with pytest.raises(Exception, match="NULL partial"):
        nulled.collect()
    assert F is not None


def test_histogram_quantile_reads_off_merged_counts(
    spark: SparkSession,
) -> None:
    """histogram_quantile: the read-side half of incremental quantiles
    — bin-at-rank by cumulative walk, pure expression.  Checked
    against a python model across quantiles and against numpy-style
    hand cases including empty and single-bin histograms."""
    import math

    import pytest

    from pyspark.sql import functions as F

    from sql_autoloader_spark.functions import scale

    rows = [
        ("a", [1, 2, 1, 1]),   # values at ranks: b0:1, b1:2-3, b2:4, b3:5
        ("b", [0, 0, 5, 0]),   # everything in bin 2
        ("c", [0, 0, 0, 0]),   # empty -> NULL
        ("d", [7]),            # single bin
    ]
    df = spark.createDataFrame(rows, "k string, h array<bigint>")

    for q in (0.01, 0.25, 0.5, 0.9, 1.0):
        got = {
            r["k"]: r["bin"]
            for r in df.select(
                "k", scale.histogram_quantile("h", q).alias("bin")
            ).collect()
        }
        want = {}
        for k, h in rows:
            total = sum(h)
            if total == 0:
                want[k] = None
                continue
            target = math.ceil(q * total)
            cum = 0
            for i, n in enumerate(h):
                cum += n
                if cum >= target:
                    want[k] = i
                    break
        assert got == want, (q, got, want)

    # p50 of 'a' (5 values, rank 3) is bin 1; p100 is the last
    # non-empty bin
    p50 = df.where("k = 'a'").select(
        scale.histogram_quantile(F.col("h"), 0.5).alias("b")
    ).first()["b"]
    assert p50 == 1
    p100 = df.where("k = 'a'").select(
        scale.histogram_quantile("h", 1.0).alias("b")
    ).first()["b"]
    assert p100 == 3

    with pytest.raises(ValueError, match="quantile must be"):
        scale.histogram_quantile("h", 0.0)


def test_merge_rollup_topk_misra_gries_combinator(
    spark: SparkSession,
) -> None:
    """r15 "topk<k>" combinator: heavy hitters ride the incremental
    rollup as mergeable Misra-Gries count maps.  The summary CONTENT
    is merge-order-dependent (like any mergeable sketch), so the pins
    are the MG guarantees themselves, which hold for every merge
    order: never overcounts, undercount ≤ N/(k+1), every key above
    N/(k+1) retained, ≤ k keys kept.  Plus the exact-when-small case,
    NULL-partial fail-loud, and combinator-name validation."""
    import random
    from collections import Counter

    import pytest

    from sql_autoloader_spark.functions import scale

    def m(rows):  # noqa: ANN001, ANN202
        return spark.createDataFrame(rows, "g string, hh map<string,bigint>")

    # exact passthrough while under k keys
    out = scale.merge_rollup(
        m([("a", {"x": 1})]),
        m([("a", {"x": 2, "y": 7})]),
        keys=["g"],
        combine={"hh": "topk4"},
    ).collect()
    assert out[0]["hh"] == {"x": 3, "y": 7}

    # chained merges over a skewed stream: all four MG properties
    rng = random.Random(7)
    stream = [
        f"k{rng.randint(0, 30)}" if rng.random() > 0.4 else "hot"
        for _ in range(2000)
    ]
    k = 8
    summary = None
    for i in range(4):
        part = m([("a", dict(Counter(stream[i::4])))])
        summary = (
            part
            if summary is None
            else scale.merge_rollup(
                summary, part, keys=["g"], combine={"hh": f"topk{k}"}
            )
        )
    est = summary.collect()[0]["hh"]
    true = Counter(stream)
    bound = len(stream) / (k + 1)
    assert len(est) <= k
    assert all(est[key] <= true[key] for key in est)  # never overcounts
    assert all(true[key] - est[key] <= bound for key in est)
    heavy = [key for key, v in true.items() if v > bound]
    assert heavy and all(h in est for h in heavy)
    # under planted skew the argmax estimate IS the true heavy hitter
    assert max(est, key=lambda key: (est[key], key)) == "hot"

    # NULL partial fails loudly (collect_list would silently drop it)
    nulled = scale.merge_rollup(
        m([("a", {"x": 1})]),
        m([("a", None)]),
        keys=["g"],
        combine={"hh": "topk4"},
    )
    with pytest.raises(Exception, match="NULL partial"):
        nulled.collect()

    # malformed combinator names rejected at plan build
    for bad in ("topk0", "topk-3", "topkX"):
        with pytest.raises(ValueError, match="topk"):
            scale.merge_rollup(
                m([("a", {"x": 1})]),
                m([("a", {"x": 1})]),
                keys=["g"],
                combine={"hh": bad},
            )


# --- persist-pin lifetime (r16, guide §5) ------------------------------------


def test_fuzzy_builder_pins_release_per_generation(
    spark: SparkSession,
) -> None:
    """The fuzzy builders' internal persist() pins must not accumulate
    across invocations in a long-lived session: each call releases the
    previous call's pins, and release_pins() drops everything — the
    CacheManager then holds nothing from these operators and no NEW RDD
    stays pinned in executor storage.  Assertions are baseline-relative:
    earlier tests' localCheckpoint pins linger in getPersistentRDDs
    until garbage-collected and are not this test's concern."""
    import gc

    spark.catalog.clearCache()
    gc.collect()  # flush other tests' dead checkpoint pins
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    df = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "different words entirely")],
        "doc_id long, text string",
    )

    def persistent_rdds() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def cache_empty() -> bool:
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    baseline = persistent_rdds()

    # first invocation: pins live so the caller's action(s) reuse them
    # (cache non-emptiness, not an RDD-count increase: the context
    # cleaner concurrently retires other tests' dead pins, so counts
    # may only be compared in the shrinking direction)
    dedup.minhash_lsh_pairs(
        df, id_col="doc_id", text_col="text", threshold=0.3
    ).count()
    assert not cache_empty()

    # second invocation rotates: the first generation is released
    first_gen = persistent_rdds()
    out2 = dedup.minhash_lsh_pairs(
        df, id_col="doc_id", text_col="text", threshold=0.3
    )
    out2.count()
    assert persistent_rdds() <= first_gen  # no accumulation across calls

    # explicit release: nothing OF OURS pinned anywhere afterwards
    dedup.release_pins()
    assert cache_empty()
    assert persistent_rdds() <= baseline

    # released pins only drop the cache — the frame still recomputes
    assert out2.count() == out2.count()
    dedup.release_pins()


def test_pin_registry_rotation_under_threads(monkeypatch) -> None:
    """Threads rotating and releasing the pin registry at once hand every
    registered generation to unpersist exactly once: a lost update of
    the registry would leak a generation, a double pop release it twice."""
    import sys
    import threading
    from collections import Counter

    registry: dict = {}
    monkeypatch.setattr(dedup, "_PIN_REGISTRY", registry)
    # both lists keep every generation alive, so ids stay unique
    released: list[list] = []
    monkeypatch.setattr(dedup, "_unpersist_all", released.append)
    made: list[list] = []

    def worker(i: int) -> None:
        for n in range(300):
            made.append(dedup._fresh_pins(f"op{(i + n) % 3}"))
            if n % 100 == 99:
                dedup.release_pins()

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=worker, args=(i,)) for i in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(prev)
    dedup.release_pins()
    assert not registry
    counts = Counter(id(pins) for pins in released)
    assert all(counts[id(pins)] == 1 for pins in made)


def test_embedding_neardup_pins_release(spark: SparkSession) -> None:
    """similarity.embedding_neardup_pairs shares the dedup pin registry."""
    import gc

    spark.catalog.clearCache()
    gc.collect()  # flush other tests' dead checkpoint pins
    baseline = spark.sparkContext._jsc.getPersistentRDDs().size()
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.001, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    similarity.embedding_neardup_pairs(
        vecs, id_col="vec_id", vec_col="embedding", dim=4, threshold=0.9
    ).count()
    assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    dedup.release_pins()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert (
        spark.sparkContext._jsc.getPersistentRDDs().size() <= baseline
    )
