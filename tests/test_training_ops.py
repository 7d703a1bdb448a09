"""Training-data operators vs pure-Python oracles: dedup (exact,
Jaccard, MinHash-LSH, SimHash), similarity (brute-force + LSH), text
analysis, multimodal plumbing, salted aggregation equivalence."""

import hashlib
import itertools

import pytest
from pyspark.sql import functions as F

from logstash_filter_elasticsearch_spark.operators.aggregate import salted_agg, salted_dedup_first
from logstash_filter_elasticsearch_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from logstash_filter_elasticsearch_spark.operators.multimodal import decode_media, sample_frames
from logstash_filter_elasticsearch_spark.operators.similarity import cosine_topk, lsh_topk
from logstash_filter_elasticsearch_spark.operators.text import lang_id, quality_features


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 1
    (3, "completely different content about spark query engines and shuffles"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (5, "der schnelle braune fuchs und das wasser und der wald und das licht"),
    (6, "le chat et le chien et la maison et le jardin"),
    (7, "spark query engines shuffle data between executors for joins and aggregates"),
]


def py_jaccard(a, b, n=3):
    def shingles(t):
        w = t.split()
        if len(w) < n:
            return {" ".join(w)}
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    A, B = shingles(a), shingles(b)
    return len(A & B) / len(A | B)


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_exact_dedup(spark, docs_df):
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(docs_df, "text", "doc_id").collect()}
    assert out[1] == 2  # docs 1 and 4 identical, keep min id
    assert 4 not in out
    assert sum(out.values()) == len(DOCS)


def test_ngram_jaccard_matches_python_oracle(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs_df, "doc_id", "text", n=3, threshold=0.0).collect()
    }
    for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2):
        exp = py_jaccard(ta, tb)
        if exp > 0:
            assert got[(ia, ib)] == pytest.approx(exp), (ia, ib)
        else:
            assert (ia, ib) not in got


def test_ngram_block_pair_fn_multi_block(spark, docs_df):
    """The block-pair counting must be exact for any block count —
    intra- and cross-block tasks together emit every qualifying pair
    exactly once (B=3 forces both task kinds on the tiny fixture)."""
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs_df, "doc_id", "text", n=2, threshold=0.1, blocks=3
        ).collect()
    }
    exp = {
        (ia, ib): py_jaccard(ta, tb, n=2)
        for (ia, ta), (ib, tb) in itertools.combinations(DOCS, 2)
        if py_jaccard(ta, tb, n=2) >= 0.1
    }
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert got[k] == pytest.approx(v), k


def test_minhash_lsh_finds_near_dups(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            docs_df, "doc_id", "text", num_perm=64, bands=16, threshold=0.5
        ).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup always found
    assert (1, 2) in pairs  # near dup: 11/13 shared shingles
    assert pairs[(1, 2)] == pytest.approx(py_jaccard(DOCS[0][1], DOCS[1][1]))
    assert all(j >= 0.5 for j in pairs.values())


def test_simhash_near_pairs(spark, docs_df):
    """Blocking guarantee: every pair with hamming <= 3 is found (4x16-bit
    chunks, pigeonhole); reported hamming matches the fingerprints."""
    from logstash_filter_elasticsearch_spark.operators.dedup import simhash

    fps = {r["doc_id"]: r["simhash"] for r in simhash(docs_df, "doc_id", "text").collect()}
    expected = {
        (a, b): bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
        for a, b in itertools.combinations(sorted(fps), 2)
    }
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_pairs(docs_df, "doc_id", "text", max_hamming=3).collect()}
    assert pairs[(1, 4)] == 0  # identical text -> identical fingerprint
    for (a, b), h in expected.items():
        if h <= 3:
            assert pairs.get((a, b)) == h  # guarantee: must be found
    for (a, b), h in pairs.items():
        assert expected[(a, b)] == h  # reported distances are exact


def test_cosine_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 8)).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id int, embedding array<float>"
    )
    queries = df.filter(F.col("vec_id") < 3)
    got = cosine_topk(df, queries, k=4).collect()

    M = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = M @ M.T
    for q in range(3):
        order = [i for i in np.argsort(-sims[q]) if i != q][:4]
        mine = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == q]
        assert mine == order, q
        for r in got:
            if r["query_id"] == q:
                assert r["cos"] == pytest.approx(float(sims[q][r["neighbor_id"]]), abs=1e-5)


def test_lsh_topk_recall(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.standard_normal((30, 16)).astype("float32")
    # plant 3 clusters: near-copies of vectors 0,1,2
    planted = np.concatenate([base, base[:3] + 0.01 * rng.standard_normal((3, 16)).astype("float32")])
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(planted)], "vec_id int, embedding array<float>"
    )
    queries = df.filter(F.col("vec_id") < 3)
    got = lsh_topk(df, queries, k=1, dim=16, n_planes=8, n_tables=6, seed=5).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in got}
    # each query's nearest neighbor is its planted near-copy (id 30+q)
    hits = sum(1 for q in range(3) if top1.get(q) == 30 + q)
    assert hits >= 2  # approximate: allow 1 miss


def test_quality_and_lang(spark, docs_df):
    rows = {r["doc_id"]: r for r in lang_id(quality_features(docs_df, "text"), "text").collect()}
    r1 = rows[1]
    words = DOCS[0][1].split()
    assert r1["n_words"] == len(words)
    assert r1["n_stopwords"] == sum(w in {"the", "a", "of", "and", "to", "in", "is", "it"} for w in words)
    assert 0.0 <= r1["quality_score"] <= 1.0
    assert rows[1]["lang_pred"] == "en"
    assert rows[5]["lang_pred"] == "de"
    assert rows[6]["lang_pred"] == "fr"


def test_multimodal_decode_and_frames(spark):
    """BMP, WAV and MP4 decode for REAL (header/box parse); strict
    raises only for media types with no decoder at all."""
    from logstash_filter_elasticsearch_spark.operators.multimodal import (
        decode_mp4,
        decode_wav,
        encode_media,
        make_bmp,
        make_mp4,
        make_wav,
    )

    # MP4 round-trip: the decoder reads the genuine boxes the encoder
    # wrote (16.16 fixed-point dims, timescale-1000 duration)
    assert decode_mp4(make_mp4(640, 360, 7500, b"x" * 100)) == (640, 360, 7500)
    with pytest.raises(ValueError, match="MP4|ftyp"):
        decode_mp4(b"\x00" * 64)

    # cross-validate the WAV codec against the stdlib writer
    import io
    import wave as wave_mod

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x01\x02" * 4000)  # 4000 samples = 500 ms
    assert decode_wav(buf.getvalue()) == (1, 8000, 4000, 500)

    media = spark.createDataFrame(
        [
            ("m1", "image", bytearray(b"imgbytes-1"), ("image/bmp", 10, "web")),
            ("m2", "video", bytearray(b"vidbytes-22"), ("video/mp4", 11, "crawl")),
            ("m3", "audio", bytearray(b"pcmpcm"), ("audio/wav", 6, "web")),
        ],
        "media_id string, media_type string, payload binary, "
        "meta struct<mime:string, n_bytes:long, origin:string>",
    )
    out = {r["media_id"]: r for r in decode_media(encode_media(media)).collect()}
    # image: n=10 -> real BMP 14x6, decoded from the actual header
    assert (out["m1"]["width"], out["m1"]["height"]) == (4 + 10 % 13, 3 + 10 % 7)
    assert out["m1"]["n_bytes"] == len(make_bmp(14, 6, b"imgbytes-1"))
    assert out["m1"]["duration_ms"] == 0 and out["m1"]["sample_rate"] == 0
    # audio: n=6 -> real WAV, 12 samples @8kHz mono -> 1 ms
    assert out["m3"]["sample_rate"] == 8000 and out["m3"]["channels"] == 1
    assert out["m3"]["duration_ms"] == 12 * 1000 // 8000
    assert out["m3"]["n_bytes"] == len(make_wav(12, b"pcmpcm"))
    # video: n=11 -> real MP4 (ftyp+moov+mdat = n+248 bytes), dims and
    # duration decoded from the actual mvhd/tkhd boxes
    assert (out["m2"]["width"], out["m2"]["height"]) == (16 + 11 % 113, 16 + 11 % 97)
    assert out["m2"]["duration_ms"] == 500 + (11 % 40) * 1000
    assert out["m2"]["n_bytes"] == 11 + 248

    frames = sample_frames(decode_media(encode_media(media)), every_ms=1000)
    by_id = {}
    for r in frames.collect():
        by_id.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    assert by_id["m1"] == [0]  # image -> single frame
    assert len(by_id["m2"]) == max(out["m2"]["duration_ms"] // 1000, 1)

    # strict: image/audio/video all decode for real now; only a media
    # type with no decoder at all raises
    assert decode_media(encode_media(media), strict=True).count() == 3
    unknown = media.withColumn("media_type", F.lit("pointcloud"))
    with pytest.raises(Exception, match="NotImplementedError|no pure-Python"):
        decode_media(encode_media(unknown), strict=True).collect()


def test_salted_agg_equals_unsalted(spark, docs_df):
    df = docs_df.withColumn("grp", F.col("doc_id") % 2).withColumn("v", F.length("text"))
    salted = {
        (r["grp"]): (r["n"], r["s"], r["mn"], r["mx"])
        for r in salted_agg(
            df, ["grp"], {"n": ("count", "v"), "s": ("sum", "v"), "mn": ("min", "v"), "mx": ("max", "v")},
            salt_buckets=8, salt_on="doc_id",
        ).collect()
    }
    plain = {
        (r["grp"]): (r["n"], r["s"], r["mn"], r["mx"])
        for r in df.groupBy("grp")
        .agg(F.count("v").alias("n"), F.sum("v").alias("s"), F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    assert salted == plain


def test_salted_dedup_first(spark):
    df = spark.createDataFrame(
        [("k1", 3, "c"), ("k1", 1, "a"), ("k1", 2, "b"), ("k2", 9, "z")],
        "key string, ord int, val string",
    )
    out = {r["key"]: r["val"] for r in
           salted_dedup_first(df, "key", [F.col("ord")], salt_buckets=4).collect()}
    assert out == {"k1": "a", "k2": "z"}


def test_ivf_topk_recall(spark):
    import numpy as np
    from logstash_filter_elasticsearch_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(13)
    base = rng.standard_normal((60, 16)).astype("float32")
    planted = np.concatenate(
        [base, base[:3] + 0.01 * rng.standard_normal((3, 16)).astype("float32")]
    )
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(planted)],
        "vec_id int, embedding array<float>",
    )
    queries = df.filter(F.col("vec_id") < 3)
    got = ivf_topk(df, queries, k=1, n_centroids=8, n_probe=3, seed=3).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in got}
    hits = sum(1 for q in range(3) if top1.get(q) == 60 + q)
    assert hits >= 2  # near-copy lands in the same (or probed) cell


def test_cosine_near_dup_exact_vs_numpy(spark):
    import numpy as np
    from logstash_filter_elasticsearch_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((25, 8)).astype("float32")
    vecs[7] = vecs[3] * 2.0          # exact direction dup
    vecs[9] = vecs[4] + 0.01 * rng.standard_normal(8).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id int, embedding array<float>"
    )
    got = {(r.id_a, r.id_b) for r in cosine_near_dup_pairs(df, threshold=0.95).collect()}
    M = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = M @ M.T
    exp = {
        (a, b)
        for a in range(25)
        for b in range(a + 1, 25)
        if sims[a][b] >= 0.95
    }
    assert got == exp and (3, 7) in got and (4, 9) in got


def test_cosine_near_dup_array_double(spark):
    """array<double> vectors arrive as a read-only zero-copy view; the
    driver-side normalisation must not write into it."""
    import numpy as np
    from logstash_filter_elasticsearch_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    rng = np.random.default_rng(6)
    vecs = rng.standard_normal((12, 4))
    vecs[5] = vecs[2] * 3.0
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    got = {(r.id_a, r.id_b) for r in cosine_near_dup_pairs(df, threshold=0.95).collect()}
    M = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = M @ M.T
    assert got == {(a, b) for a in range(12) for b in range(a + 1, 12) if sims[a][b] >= 0.95}
    assert (2, 5) in got


def test_list_to_matrix_rejects_ragged_and_null():
    import pyarrow as pa
    from logstash_filter_elasticsearch_spark.operators.similarity import _list_to_matrix

    # lengths 1 + 3 sum to 2 * 2: must not be re-sliced into [[1,2],[3,4]]
    with pytest.raises(ValueError, match="length"):
        _list_to_matrix(pa.array([[1.0], [2.0, 3.0, 4.0]]), 2)
    with pytest.raises(ValueError, match="null"):
        _list_to_matrix(pa.array([[1.0, 2.0], None]), 2)
    # a sliced batch is checked on its own rows; float input is widened
    v = pa.array([[1.0], [2.0, 3.0], [4.0, 5.0]], pa.list_(pa.float32())).slice(1)
    m = _list_to_matrix(v, 2)
    assert m.dtype == "float64" and m.tolist() == [[2.0, 3.0], [4.0, 5.0]]


def _vec_frame(spark, n=20, dim=8):
    import numpy as np

    vecs = np.random.default_rng(4).standard_normal((n, dim)).astype("float32")
    return spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "vec_id int, embedding array<float>"
    )


def test_topk_empty_query_side_returns_no_rows(spark):
    from logstash_filter_elasticsearch_spark.operators.similarity import ivf_topk

    df = _vec_frame(spark)
    none = df.filter(F.col("vec_id") < 0)
    assert cosine_topk(df, none, k=3).collect() == []
    assert lsh_topk(df, none, k=3, dim=8, n_planes=4, n_tables=2).collect() == []
    assert ivf_topk(df, none, k=3, n_centroids=4, n_probe=2).collect() == []


def test_topk_query_side_is_bounded(spark, monkeypatch):
    from logstash_filter_elasticsearch_spark.operators import similarity
    from logstash_filter_elasticsearch_spark.operators.similarity import ivf_topk

    monkeypatch.setattr(similarity, "MAX_COLLECT_ROWS", 2, raising=False)
    df = _vec_frame(spark)
    queries = df.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="max_rows=2"):
        cosine_topk(df, queries, k=3)
    with pytest.raises(ValueError, match="max_rows=2"):
        lsh_topk(df, queries, k=3, dim=8, n_planes=4, n_tables=2)
    with pytest.raises(ValueError, match="max_rows=2"):
        ivf_topk(df, queries, k=3, n_centroids=4, n_probe=2)


def test_layout_decisions(spark):
    from logstash_filter_elasticsearch_spark.operators.layout import spread

    one = spark.range(1000).coalesce(1)
    assert spread(one).rdd.getNumPartitions() == 4  # round-robin to shuffle partitions
    assert spread(one, skip_tiny=True) is one  # a few KB: below TINY_PLAN_BYTES
    keyed = spread(one, by=["id"])._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(id" in keyed
    wide = spark.range(1000).repartition(2)
    assert spread(wide) is wide  # 2 * 4 > 4 shuffle partitions: already spread


def test_lsh_near_dup_finds_planted(spark):
    import numpy as np
    from logstash_filter_elasticsearch_spark.operators.similarity import (
        lsh_near_dup_pairs,
    )

    rng = np.random.default_rng(17)
    base = rng.standard_normal((40, 16)).astype("float32")
    planted = np.concatenate(
        [base, base[:4] + 0.005 * rng.standard_normal((4, 16)).astype("float32")]
    )
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(planted)],
        "vec_id int, embedding array<float>",
    )
    got = {
        (r.id_a, r.id_b)
        for r in lsh_near_dup_pairs(
            df, threshold=0.99, dim=16, n_planes=8, n_tables=8, seed=23
        ).collect()
    }
    hits = sum(1 for q in range(4) if (q, 40 + q) in got)
    assert hits >= 3  # multi-table LSH: allow one missed bucket collision
    # no false positives: every reported pair really is >= threshold
    M = planted / np.linalg.norm(planted, axis=1, keepdims=True)
    for a, b in got:
        assert float(M[a] @ M[b]) >= 0.99 - 1e-6


def test_lsh_near_dup_auto_banding_recall_gate(spark):
    """The contract operating point: LOW threshold (0.4) over random
    vectors — exactly the regime where r2's fixed 10x6 banding missed
    ~95% of true pairs. With the banding solved from the threshold
    (auto_lsh_params), measured recall vs the exact path must be >=0.9
    (expected recall is the design target; the fixed seed makes the
    measurement stable)."""
    import numpy as np
    from logstash_filter_elasticsearch_spark.operators.similarity import (
        auto_lsh_params,
        cosine_near_dup_pairs,
        lsh_near_dup_pairs,
    )

    # solver sanity: recall target met in expectation, tables bounded
    for th in (0.4, 0.6, 0.8, 0.9):
        b, t = auto_lsh_params(th, target_recall=0.9, max_tables=32)
        import math

        p = 1 - math.acos(th) / math.pi
        assert 1 - (1 - p**b) ** t >= 0.9 and t <= 32

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((400, 64)).astype("float32")
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<float>",
    ).cache()
    exact = {
        (r.id_a, r.id_b)
        for r in cosine_near_dup_pairs(df, threshold=0.4).collect()
    }
    assert len(exact) >= 20  # the Gaussian tail provides true pairs
    approx = {
        (r.id_a, r.id_b)
        for r in lsh_near_dup_pairs(df, threshold=0.4, dim=64, seed=42).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.9, f"auto-banded LSH recall {recall:.2f} < 0.9"
    assert approx <= exact  # exact cosine filter: no false positives
    df.unpersist()


def test_cosine_near_dup_max_rows_guard(spark):
    """The exact path's small-scale declaration is executable: a corpus
    past max_rows raises before anything is collected."""
    import pytest as _pytest

    from logstash_filter_elasticsearch_spark.operators.similarity import (
        cosine_near_dup_pairs,
    )

    df = spark.range(50).selectExpr(
        "id as vec_id", "array(cast(id as float), 1.0f) as embedding"
    )
    with _pytest.raises(ValueError, match="max_rows"):
        cosine_near_dup_pairs(df, max_rows=10).collect()
    # under the bound it runs
    assert cosine_near_dup_pairs(df, threshold=0.999, max_rows=100).count() >= 0


def test_df_cap_drops_stop_shingles_keeps_others(spark):
    # 12 docs all share one stop-shingle ("aaa bbb ccc"); docs 1/2 are
    # near-dups through their OTHER shingles. With df_cap below 12 the
    # stop-shingle is excluded from pair generation: the 1-2 pair
    # survives via its distinctive shingles, while pairs held together
    # ONLY by the stop-shingle disappear.
    rows = [(1, "aaa bbb ccc one two three four five"),
            (2, "aaa bbb ccc one two three four six")] + [
        (i, f"aaa bbb ccc w{i}a w{i}b w{i}c") for i in range(3, 13)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.01,
                                     df_cap=None).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.01,
                                     df_cap=5).collect()
    }
    assert (1, 2) in uncapped and (1, 2) in capped
    assert (3, 4) in uncapped  # stop-shingle-only pair exists uncapped
    assert (3, 4) not in capped  # ...and is dropped by the cap
    assert capped == {(1, 2)}

    # below the cap, results identical to exact
    loose = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.01,
                                     df_cap=100).collect()
    }
    assert loose == uncapped


def test_minhash_bucket_cap_backstop(spark, docs_df):
    # With a generous cap results are identical to the uncapped path;
    # with cap=1 every bucket is "heavy" and no candidates survive.
    base = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs_df, "doc_id", "text",
                                   threshold=0.5, bucket_cap=None).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs_df, "doc_id", "text",
                                   threshold=0.5, bucket_cap=100).collect()
    }
    assert base == capped and (1, 4) in base
    assert minhash_lsh_pairs(docs_df, "doc_id", "text",
                             threshold=0.5, bucket_cap=1).count() == 0


def test_connected_components_and_survivors(spark):
    """Min-label propagation: chain + pair + singleton -> correct
    clusters, canonical = lexicographic min, singletons self-canonical."""
    from logstash_filter_elasticsearch_spark.operators.dedup import (
        connected_components,
        dedup_cluster_survivors,
    )

    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("c", "d"), ("x", "y")],
        "id_a string, id_b string",
    )
    cc = {r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert cc == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}

    docs = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("x",), ("y",), ("solo",)],
        "doc_id string",
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup_cluster_survivors(docs, pairs).collect()
    }
    assert out["solo"] == ("solo", True)
    assert out["a"] == ("a", True)
    assert out["d"] == ("a", False)
    assert out["y"] == ("x", False)
    # exactly one canonical per cluster
    assert sum(1 for c, canon in out.values() if canon) == 3


def test_mp4_truncated_boxes_raise_value_error():
    """Truncated mvhd/tkhd boxes surface as ValueError (the corrupt-
    input contract), never struct.error or silent garbage dims."""
    import pytest as _pytest

    from logstash_filter_elasticsearch_spark.operators.multimodal import (
        decode_mp4,
        make_mp4,
    )

    good = make_mp4(320, 200, 1500, b"payload")
    assert decode_mp4(good) == (320, 200, 1500)
    # rebuild a moov whose tkhd claims 20 content bytes (box size 28)
    import struct as _s

    tkhd = _s.pack(">I", 28) + b"tkhd" + b"\x00" * 20
    trak = _s.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
    mvhd = good[32 : 32 + 108]  # the real mvhd box from the encoder
    moov = _s.pack(">I", 8 + len(mvhd) + len(trak)) + b"moov" + mvhd + trak
    ftyp = good[:24]
    with _pytest.raises(ValueError, match="tkhd"):
        decode_mp4(ftyp + moov)
    # truncated mvhd: claims 20 content bytes
    short_mvhd = _s.pack(">I", 28) + b"mvhd" + b"\x00" * 20
    moov2 = _s.pack(">I", 8 + len(short_mvhd)) + b"moov" + short_mvhd
    with _pytest.raises(ValueError, match="mvhd"):
        decode_mp4(ftyp + moov2)
