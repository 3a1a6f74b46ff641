"""LLM-pipeline operator tests: dedup recall gates (MinHash/SimHash/LSH vs
their exact counterparts), text analysis edge cases, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sql_data_warehouse_analytics_project_spark.llm import dedup, multimodal, similarity, text

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# -- text ------------------------------------------------------------------


def test_tokens_and_shingles_edges(spark):
    df = spark.createDataFrame(
        [Row(t="Hello,  World! 123"), Row(t="one two"), Row(t=""), Row(t="x")]
    )
    rows = df.select(
        text.tokens("t").alias("toks"), text.shingles("t", 3).alias("sh")
    ).collect()
    assert rows[0].toks == ["hello", "world", "123"]
    assert rows[0].sh == ["hello world 123"]
    assert rows[1].sh == []          # fewer tokens than n → no shingles
    assert rows[2].toks == [] and rows[2].sh == []
    assert rows[3].toks == ["x"]


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [Row(a="Hello   World"), Row(a="hello world"), Row(a="  HELLO\tWORLD  ")]
    )
    fps = [r.f for r in df.select(text.fingerprint("a").alias("f")).collect()]
    assert fps[0] == fps[1] == fps[2]


def test_detect_language_english(spark):
    df = spark.createDataFrame(
        [
            Row(t="the cat sat on the mat and it is happy"),
            Row(t="el perro es un animal que no se ve"),
            Row(t="zzz qqq www"),
        ]
    )
    out = [r.lang for r in df.select(text.detect_language("t").alias("lang")).collect()]
    assert out == ["en", "es", "und"]


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [Row(doc_id=3, text="same  text"), Row(doc_id=1, text="Same Text"),
         Row(doc_id=2, text="different")]
    )
    kept = sorted(r.doc_id for r in dedup.exact_dedup(df, "doc_id").collect())
    assert kept == [1, 2]
    groups = dedup.exact_dup_groups(df, "doc_id").collect()
    assert len(groups) == 1 and groups[0].n_docs == 2 and groups[0].keeper_id == 1


# -- dedup recall gates ----------------------------------------------------


def test_minhash_lsh_recall_vs_exact(docs):
    """LSH banding (64 hashes / 16 bands) must recover every exact
    Jaccard≥0.8 pair at this scale, with identical verified jaccard."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_dedup_pairs(docs, "doc_id", threshold=0.8).collect()
    }
    assert exact, "fixture should contain near-dup pairs"
    missed = set(exact) - set(lsh)
    assert not missed, f"LSH missed {missed}"
    for k in exact:
        assert lsh[k] == exact[k]  # verify stage computes the same jaccard
    # and no pair below threshold leaks through
    assert all(j >= 0.8 for j in lsh.values())


def test_simhash_pairs_overlap_exact(docs):
    """SimHash(hamming≤3) pairs should be near-dups: the high-jaccard pair
    set and the simhash pair set must overlap substantially."""
    exact = set(
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.9).collect()
    )
    sim = set((r.id_a, r.id_b) for r in dedup.simhash_pairs(docs, "doc_id").collect())
    assert sim, "simhash should find pairs"
    assert len(sim & exact) / max(len(exact), 1) >= 0.5


def test_lsh_ann_recall_vs_brute(emb):
    queries = emb.filter(F.col("vec_id") < 8)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_ann_topk(emb, queries, k=5).collect()
    }
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.5, f"ANN recall too low: {recall}"


def test_lsh_signatures_deterministic(emb):
    s1 = {r.vec_id: r.lsh_sig for r in similarity.lsh_signatures(emb.limit(20)).collect()}
    s2 = {r.vec_id: r.lsh_sig for r in similarity.lsh_signatures(emb.limit(20)).collect()}
    assert s1 == s2


# -- multimodal ------------------------------------------------------------


@pytest.fixture()
def media(spark):
    rows = [
        (1, "image", multimodal.pack_fake_image(640, 480), (640, 480, None, "fake")),
        (2, "image", multimodal.pack_fake_image(100, 200, b"xyz"), (100, 200, None, "fake")),
        (3, "image", b"CORRUPT", (None, None, None, None)),
        (4, "video", multimodal.pack_fake_image(1920, 1080), (1920, 1080, 3500, "fake")),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_image_features_and_corruption_flag(media):
    out = {r.media_id: r for r in multimodal.extract_image_features(media).collect()}
    assert out[1].width == 640 and out[1].height == 480
    assert abs(out[1].aspect_ratio - 4 / 3) < 1e-9
    assert out[2].n_bytes == 12 + 3
    assert out[3].decode_ok is False and out[3].width is None
    assert out[1].decode_ok is True


def test_resize_images(media):
    out = {r.media_id: r for r in multimodal.resize_images(media, max_side=320).collect()}
    assert (out[1].width, out[1].height) == (320, 240)
    assert (out[2].width, out[2].height) == (100, 200)  # never upscaled
    # re-encoded content parses back
    assert out[1].content[:4] == multimodal.FAKE_MAGIC
    assert out[3].content is None  # corrupt in → null out


def _has_pil() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(_has_pil(), reason="environment has PIL; probe won't raise")
def test_real_decode_fails_fast_without_pil(media):
    """Without Pillow, decode='real' raises NotImplementedError on the
    DRIVER (capability probe), before any Spark job launches."""
    with pytest.raises(NotImplementedError, match="Pillow"):
        multimodal.extract_image_features(media, decode="real")
    with pytest.raises(NotImplementedError, match="Pillow"):
        multimodal.resize_images(media, 320, decode="real")


@pytest.mark.skipif(not _has_pil(), reason="real decode kernel needs PIL")
def test_real_decode_with_pil(spark):
    """With Pillow present the real kernel decodes actual PNG bytes and
    the resize path re-encodes at clamped dimensions."""
    import io

    from PIL import Image

    def png(w, h):
        buf = io.BytesIO()
        Image.new("RGB", (w, h)).save(buf, format="PNG")
        return buf.getvalue()

    rows = [
        (1, "image", png(640, 480), (None, None, None, "png")),
        (2, "image", b"CORRUPT", (None, None, None, None)),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in
           multimodal.extract_image_features(df, decode="real").collect()}
    assert (out[1].width, out[1].height, out[1].decode_ok) == (640, 480, True)
    assert out[2].decode_ok is False
    rz = {r.media_id: r for r in
          multimodal.resize_images(df, 320, decode="real").collect()}
    assert (rz[1].width, rz[1].height) == (320, 240)
    with Image.open(io.BytesIO(rz[1].content)) as img:
        assert (img.width, img.height) == (320, 240)
    assert rz[2].content is None


def test_embedding_dup_pairs_broadcast_cap_guard(spark):
    """The matmul path must refuse (clear error, no driver collect) when
    the estimated corpus matrix exceeds the broadcast cap."""
    df = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="broadcast cap"):
        dedup.embedding_dup_pairs(df, max_broadcast_bytes=100)
    # under the cap the same corpus resolves normally
    assert dedup.embedding_dup_pairs(df, threshold=0.999).count() >= 0


def test_video_frame_sampling(media):
    frames = multimodal.sample_video_frames(media, every_ms=1000).collect()
    by_vid = [r for r in frames if r.media_id == 4]
    assert len(by_vid) == 3  # 3500ms / 1000ms
    assert [r.timestamp_ms for r in by_vid] == [0, 1000, 2000]


def test_ivf_ann_recall_vs_exact(spark, sf_dir):
    """IVF ANN must recover most of the exact top-k at test scale (same
    gate style as the LSH ANN test)."""
    from sql_data_warehouse_analytics_project_spark.llm import similarity
    from sql_data_warehouse_analytics_project_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_ann_topk(
            emb, queries, k=5, n_centroids=16, n_probe=8
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_kmeans_refine_converges_on_separable_clusters(spark):
    """Two well-separated direction clusters: after Lloyd passes each
    centroid must align with its cluster's mean direction (cos > 0.99),
    wherever the lowest-id seeds started."""
    import numpy as np

    from sql_data_warehouse_analytics_project_spark.llm import similarity

    rows = []
    for i in range(40):  # cluster A ~ +x, cluster B ~ +y (slight wobble)
        rows.append((i, [1.0, 0.01 * (i % 5), 0.0]))
        rows.append((100 + i, [0.01 * (i % 5), 1.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    base = emb.selectExpr("cast(embedding as array<double>) as v")
    # seeds = two lowest-id vectors — BOTH from cluster A
    seeds = np.array([[1.0, 0.0, 0.0], [1.0, 0.01, 0.0]])
    out = similarity._kmeans_refine(base, seeds.copy(), n_iter=5)
    units = out / np.linalg.norm(out, axis=1)[:, None]
    best_x = max(u[0] for u in units)
    best_y = max(u[1] for u in units)
    assert best_x > 0.99 and best_y > 0.99  # one centroid per cluster

    # refinement is reproducible bit-exactly (sorted partial combine)
    out2 = similarity._kmeans_refine(base, seeds.copy(), n_iter=5)
    assert np.array_equal(out, out2)


def test_hash_sampling_deterministic_and_stratified(spark, sf_dir):
    """Membership is a pure function of (salt, id): stable across runs and
    physical partitionings; per-stratum rates hold (zh → keep all)."""
    from sql_data_warehouse_analytics_project_spark.llm import sampling
    from sql_data_warehouse_analytics_project_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id for r in sampling.hash_sample(docs, "doc_id", 0.3).select("doc_id").collect()}
    b = {
        r.doc_id
        for r in sampling.hash_sample(docs.repartition(7), "doc_id", 0.3)
        .select("doc_id")
        .collect()
    }
    assert a == b and 0 < len(a) < docs.count()

    strat = sampling.stratified_hash_sample(
        docs, "doc_id", "lang", {"zh": 1.0}, default_fraction=0.0
    )
    zh_total = docs.filter("lang = 'zh'").count()
    assert strat.count() == zh_total  # zh kept fully, everything else dropped


def test_hash_split_partitions_every_row_once(spark, sf_dir):
    from sql_data_warehouse_analytics_project_spark.llm import sampling
    from sql_data_warehouse_analytics_project_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    split = sampling.hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}  # fractions sum to 1 → no NULLs
    assert sum(counts.values()) == docs.count()
    assert counts["train"] > counts["val"]  # 80/10/10 shape

    import pytest

    with pytest.raises(ValueError, match="> 1"):
        sampling.hash_split(docs, "doc_id", {"a": 0.9, "b": 0.2})


def test_rolling_fingerprint_is_order_sensitive(spark):
    from sql_data_warehouse_analytics_project_spark.llm import text as T

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "gamma beta alpha"),      # same tokens, different order
            (3, "Alpha, beta; GAMMA!"),   # same token stream as doc 1
            (4, ""),                      # empty → 0
        ],
        "doc_id int, text string",
    )
    fp = {r.doc_id: r.fp for r in df.select("doc_id", T.rolling_fingerprint("text").alias("fp")).collect()}
    assert fp[1] == fp[3]  # punctuation/case-insensitive via tokenizer
    assert fp[1] != fp[2]  # order matters (unlike the sha256 fingerprint)
    assert fp[4] == 0


def test_ngram_jaccard_hot_shingle_consistent_universe(spark):
    """When the hot-shingle cap fires, numerator and denominator must
    count over the same (filtered) shingle universe: two identical docs
    sharing a hot phrase with two other docs must still score 1.0."""
    from sql_data_warehouse_analytics_project_spark.llm import dedup

    common = "the quick brown fox jumps over the lazy dog today"
    docs = spark.createDataFrame(
        [
            (1, common + " alpha beta gamma delta epsilon"),
            (2, common + " alpha beta gamma delta epsilon"),
            (3, common + " one two three four five"),
            (4, common + " six seven eight nine ten"),
        ],
        "doc_id int, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", threshold=0.99, max_docs_per_shingle=2
        ).collect()
    }
    assert pairs == {(1, 2): 1.0}


def test_ivf_ann_degrades_with_fewer_centroids_than_probe(spark):
    """Corpus smaller than n_probe/n_centroids: the assign kernel clamps
    instead of raising, and probing every bucket equals brute force."""
    from sql_data_warehouse_analytics_project_spark.llm import similarity

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    out = similarity.ivf_ann_topk(emb, emb, k=2, n_centroids=16, n_probe=4)
    got = {(r.query_id, r.rank): r.neighbor_id for r in out.collect()}
    assert got[(1, 1)] == 2 and got[(2, 1)] == 1 and got[(3, 1)] == 2

    empty = emb.filter("vec_id < 0")
    assert similarity.ivf_ann_topk(empty, emb, k=2).count() == 0


def test_redact_pii_and_counts(spark):
    from sql_data_warehouse_analytics_project_spark.llm import text as T

    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex.co or 192.168.0.1; also plain text")],
        "id int, text string",
    )
    counts = T.pii_counts("text")
    row = df.select(
        T.redact_pii("text").alias("red"),
        counts["email"].alias("ne"),
        counts["ipv4"].alias("ni"),
    ).collect()[0]
    assert row.red == "mail <EMAIL> or <IPV4>; also plain text"
    assert row.ne == 1 and row.ni == 1


def test_decontaminate_drops_leaked_docs(spark):
    from sql_data_warehouse_analytics_project_spark.llm import dedup

    evals = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "prefix words then the quick brown fox appears here"),  # leaked 4-gram
            (2, "completely unrelated sentence about database engines"),
        ],
        "doc_id int, text string",
    )
    flagged = dedup.contaminated_ids(train, evals, "doc_id", n=4)
    assert [r.doc_id for r in flagged.collect()] == [1]
    clean = dedup.decontaminate(train, evals, "doc_id", n=4)
    assert [r.doc_id for r in clean.collect()] == [2]


def test_rebalance_mix_hits_target_proportions(spark):
    from sql_data_warehouse_analytics_project_spark.llm import sampling

    rows = (
        [(i, "en") for i in range(800)]
        + [(1000 + i, "zh") for i in range(100)]
        + [(2000 + i, "es") for i in range(300)]
        + [(3000 + i, "fr") for i in range(50)]  # not in weights → dropped
    )
    df = spark.createDataFrame(rows, "doc_id int, lang string")
    out = sampling.rebalance_mix(df, "doc_id", "lang", {"en": 0.5, "zh": 0.25, "es": 0.25})
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # binding stratum: zh (100 / 0.25 = 400 = max total) → zh kept fully
    assert counts["zh"] == 100
    assert "fr" not in counts
    # en/es downsampled toward 200/100 (hash sampling: ±~20% at n=100)
    assert abs(counts["en"] - 200) <= 40 and abs(counts["es"] - 100) <= 30
    # deterministic
    again = sampling.rebalance_mix(df, "doc_id", "lang", {"en": 0.5, "zh": 0.25, "es": 0.25})
    assert sorted(r.doc_id for r in out.collect()) == sorted(r.doc_id for r in again.collect())


def test_int8_quantization_roundtrip(spark):
    from sql_data_warehouse_analytics_project_spark.llm import vectors

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0]), (3, [127.0, -127.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    out = df.select(
        "vec_id",
        "embedding",
        vectors.int8_scale("embedding").alias("s"),
        vectors.quantize_int8("embedding").alias("q"),
        vectors.normalize("embedding").alias("unit"),
    ).collect()
    rows = {r.vec_id: r for r in out}
    assert rows[1].q == [127, -64, 32]  # round(±v/scale), extremes hit ±127
    assert rows[2].q == [0, 0, 0] and rows[2].s == 0.0  # zero vector safe
    assert rows[3].q == [127, -127, 0]
    # reconstruction error bounded by scale/2 element-wise
    for r in (rows[1], rows[3]):
        for v, c in zip(r.embedding, r.q):
            assert abs(v - c * r.s) <= r.s / 2 + 1e-12
    # normalization: unit norm; zero vector → NULL, not a crash
    import math
    assert abs(math.sqrt(sum(x * x for x in rows[1].unit)) - 1.0) < 1e-12
    assert rows[2].unit is None


def test_connected_components_transitive_chains(spark, monkeypatch):
    from sql_data_warehouse_analytics_project_spark.llm import clustering

    # two clusters: a 3-chain (1-2, 2-3) and a pair (10-11); 3 never
    # touches 1 directly — only the transitive closure links them
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    cc = {r.node: r.comp for r in clustering.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # the distributed label-propagation path (DRIVER_MAX_EDGES=0 forces
    # it) must produce identical labels to the union-find fast path
    monkeypatch.setattr(clustering, "DRIVER_MAX_EDGES", 0)
    cc_dist = {
        r.node: r.comp
        for r in clustering.connected_components(pairs).collect()
    }
    assert cc_dist == cc

    clusters = {
        r.node: (r.cluster_id, r.cluster_size, r.is_canonical)
        for r in clustering.dup_clusters(pairs).collect()
    }
    assert clusters[1] == (1, 3, True)
    assert clusters[2] == (1, 3, False)
    assert clusters[3] == (1, 3, False)
    assert clusters[10] == (10, 2, True)
    assert clusters[11] == (10, 2, False)


def test_dedup_by_pairs_keeps_one_per_cluster(spark):
    from sql_data_warehouse_analytics_project_spark.llm import clustering

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 10, 11, 99)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    kept = sorted(
        r.doc_id for r in clustering.dedup_by_pairs(docs, pairs).collect()
    )
    # one canonical per cluster + the untouched doc survive
    assert kept == [1, 10, 99]


def test_pack_concat_chunks_layout_invariants(spark):
    from sql_data_warehouse_analytics_project_spark.llm import packing

    df = spark.createDataFrame(
        [(i, 100) for i in range(1, 11)], "doc_id long, n long"
    )
    packed = packing.pack_concat_chunks(
        df, "doc_id", F.col("n"), capacity=250, n_streams=1
    ).collect()
    # single stream of 10 × 100-token docs → starts are 0,100,...,900
    starts = sorted(r.pack_id * 250 + r.pack_offset for r in packed)
    assert starts == [i * 100 for i in range(10)]
    for r in packed:
        assert 0 <= r.pack_offset < 250
        assert r.crosses_boundary == (r.pack_offset + r.n_tokens > 250)

    util = packing.pack_utilization(
        packing.pack_concat_chunks(df, "doc_id", F.col("n"), capacity=250, n_streams=1),
        capacity=250,
    ).collect()[0]
    assert util.n_docs == 10 and util.total_tokens == 1000
    assert util.n_packs == 4 and util.fill_ratio == 1.0


def test_chunk_text_overlap_and_unicode(spark):
    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, ""), (3, "你好世界")], "doc_id long, text string"
    )
    chunks = text.chunk_text(docs, "doc_id", size=4, overlap=1).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_text, r.chunk_len))
    assert sorted(by_doc[1]) == [(0, "abcd", 4), (1, "defg", 4), (2, "ghij", 4), (3, "j", 1)]
    assert 2 not in by_doc  # empty doc yields no chunks
    # char, not byte, offsets: len("你好世界")=4 → starts 0 and 3
    assert sorted(by_doc[3]) == [(0, "你好世界", 4), (1, "界", 1)]

    import pytest as _pytest
    with _pytest.raises(ValueError):
        text.chunk_text(docs, "doc_id", size=4, overlap=4)


def test_repetition_features_crafted_docs(spark):
    docs = spark.createDataFrame(
        [
            # 4 lines, "home" repeated 3x → dup_line_frac 0.5;
            # line chars: total 4+10+4+4=22, distinct 4+10=14 → 8/22
            (1, "home\nabout us x\nhome\nhome"),
            # bigrams: "a b","b a","a b","b a","a b" → top 3/5, all repeat
            (2, "a b a b a b"),
            (3, ""),  # empty: everything 0
            (4, "unique words only here"),  # no repeats at all
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text.repetition_features(docs, "doc_id").collect()}
    r1 = rows[1]
    assert r1.n_lines == 4 and r1.dup_line_frac == 0.5
    assert r1.dup_line_char_frac == round(8 / 22, 6)
    r2 = rows[2]
    assert r2.top_ngram_frac == 0.6 and r2.rep_ngram_frac == 1.0
    r3 = rows[3]
    assert r3.n_lines == 0 and r3.dup_line_frac == 0.0
    assert r3.top_ngram_frac == 0.0 and r3.rep_ngram_frac == 0.0
    r4 = rows[4]
    assert r4.dup_line_frac == 0.0 and r4.rep_ngram_frac == 0.0
    assert r4.top_ngram_frac == round(1 / 3, 6)


def test_build_vocab_counts_and_rank(spark):
    from sql_data_warehouse_analytics_project_spark.llm import vocab

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "apple")],
        "doc_id long, text string",
    )
    full = {r.term: (r.n_occurrences, r.n_docs) for r in
            vocab.build_vocab(docs, "doc_id").collect()}
    assert full == {"apple": (3, 2), "banana": (2, 2), "cherry": (1, 1)}
    # min_count prunes; rank breaks the apple/banana order by count then term
    top = vocab.build_vocab(docs, "doc_id", min_count=2, top_k=10).collect()
    assert [(r.term, r.rank) for r in top] == [("apple", 1), ("banana", 2)]
    # top_k cuts after the deterministic order
    one = vocab.build_vocab(docs, "doc_id", top_k=1).collect()
    assert [(r.term, r.rank) for r in one] == [("apple", 1)]


def test_bpe_pair_counts_weighted_by_word_freq(spark):
    from sql_data_warehouse_analytics_project_spark.llm import vocab

    docs = spark.createDataFrame(
        [(1, "aab aab x"), (2, "ab")], "doc_id long, text string"
    )
    # aab (×2) → pairs aa, ab each ×2; ab (×1) → ab; "x" too short
    counts = {r.pair: r.n_occurrences for r in vocab.bpe_pair_counts(docs).collect()}
    assert counts == {"aa": 2, "ab": 3}


def test_connected_components_long_chain_converges(spark, monkeypatch):
    from sql_data_warehouse_analytics_project_spark.llm import clustering

    # 7-node path graph — needs several propagation rounds beyond the
    # folded-in first one; all nodes must land on the minimum label
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "id_a long, id_b long"
    )
    # force the distributed path: a path graph is the worst case for
    # label propagation (needs several rounds beyond the folded-in one)
    monkeypatch.setattr(clustering, "DRIVER_MAX_EDGES", 0)
    comp = {r.node: r.comp for r in clustering.connected_components(pairs).collect()}
    assert comp == {i: 1 for i in range(1, 8)}


def test_leakage_safe_split_coassigns_clusters(spark):
    from sql_data_warehouse_analytics_project_spark.llm import clustering

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 40)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = clustering.leakage_safe_split(docs, pairs).collect()
    by_id = {r.doc_id: r for r in out}
    # chained near-dups land in ONE split, keyed on the cluster minimum
    assert by_id[1].split == by_id[2].split == by_id[3].split
    assert by_id[1].split_key == by_id[2].split_key == by_id[3].split_key == 1
    assert by_id[10].split == by_id[11].split and by_id[10].split_key == 10
    # untouched docs key on themselves and every row got a split
    assert by_id[20].split_key == 20
    assert all(r.split in ("train", "val", "test") for r in out)
    # fractions put most singletons in train at this size
    assert sum(1 for r in out if r.split == "train") > len(out) / 2


def test_corpus_filter_reasons_and_language_gate(spark):
    from sql_data_warehouse_analytics_project_spark.llm import text as T

    good_en = (
        "This is a perfectly reasonable document with enough words in it "
        "to pass the length gate and the token shape gate without issues. "
        "It has the usual mix of the and a and of and to that English has."
    )
    docs = spark.createDataFrame(
        [
            (1, good_en),
            (2, "short"),  # too_short (+ token_length: mean len of 'short'=5 ok -> only too_short)
            (3, "x " * 200),  # token_length (mean 1.0) — long enough
            (4, ("la " * 40 + "\n") * 5),  # dup_lines + repetition + token_length
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in T.corpus_filter(docs, "doc_id", "text").collect()}
    assert out[1].keep and out[1].drop_reasons == ""
    assert "too_short" in out[2].drop_reasons
    assert "token_length" in out[3].drop_reasons and not out[3].keep
    assert "dup_lines" in out[4].drop_reasons
    assert "repetition" in out[4].drop_reasons

    gated = {
        r.doc_id: r
        for r in T.corpus_filter(
            docs, "doc_id", "text", allowed_langs=("fr",)
        ).collect()
    }
    assert "language" in gated[1].drop_reasons  # English doc, French-only corpus


def test_filter_decisions_rejects_reserved_columns(spark):
    """An input already carrying a working or output column name of the
    filter core is refused up front, not failed deep in the analyzer."""
    from sql_data_warehouse_analytics_project_spark.llm import text as T

    docs = spark.createDataFrame([(1, "some text here")], "doc_id int, text string")
    for name in ("_cf_nc", "_cf_sh", "__cf_toks", "lang"):
        clash = docs.withColumn(name, F.lit(0))
        with pytest.raises(ValueError, match=f"column '{name}' already exists"):
            T._filter_decisions(clash, "text")
    # the public form names its outputs privately: a `lang` column passes
    assert T.corpus_filter(
        docs.withColumn("lang", F.lit("xx")), "doc_id", "text"
    ).count() == 1


def test_curate_corpus_stage_contracts(spark):
    """End-to-end curation on a corpus with one exact dup, one near-dup
    pair, and one junk doc: each stage drops exactly what it should, and
    near-dups that survive share a split."""
    from sql_data_warehouse_analytics_project_spark.llm import curate

    base = (
        "The quick brown fox jumps over the lazy dog while the other animals "
        "watch from the comfortable shade of a large tree near the old farm. "
        "It is a calm and pleasant afternoon in the quiet countryside there."
    )
    near = base.replace("pleasant", "lovely")  # high-Jaccard near-dup of 1
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),          # exact duplicate of 1 -> dropped at exact stage
            (3, near),          # near-dup of 1 -> dropped at near stage (1 kept)
            (4, "junk!!"),      # too_short -> dropped by the filter
            (5, base.replace("fox", "cat").replace("dog", "bird").replace(
                "afternoon", "morning")),  # distinct enough to survive
        ],
        "doc_id long, text string",
    )
    stages = curate.curate_corpus(docs)
    assert {r.doc_id for r in stages["exact"].select("doc_id").collect()} == {1, 3, 4, 5}
    prs = {(r.id_a, r.id_b) for r in stages["pairs"].select("id_a", "id_b").collect()}
    assert (1, 3) in prs
    assert {r.doc_id for r in stages["near"].select("doc_id").collect()} == {1, 4, 5}
    dec = {r.doc_id: r for r in stages["decisions"].collect()}
    assert not dec[4].keep and "too_short" in dec[4].drop_reasons
    cur = {r.doc_id: r for r in stages["curated"].collect()}
    assert set(cur) == {1, 5}
    # doc 1 is split-keyed by its CLUSTER id (min member = 1), so a future
    # run where 3 survives instead would land in the same split
    assert cur[1].split_key == 1
    funnel = {r.stage: r.n_docs for r in curate.curation_report(stages).collect()}
    assert funnel["exact_dedup"] == 4
    assert funnel["near_dedup"] == 3
    assert funnel["quality_filter"] == 2 and funnel["curated"] == 2


def test_ivf_index_build_once_search_many(spark, sf_dir):
    """The build/search split returns exactly what the one-shot API
    returns, with the expensive index built once for both query batches."""
    from sql_data_warehouse_analytics_project_spark.llm import similarity as S
    from sql_data_warehouse_analytics_project_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    index = S.build_ivf_index(emb)
    index["assignments"] = index["assignments"].localCheckpoint()  # persist choice
    for lo, hi in ((0, 4), (4, 8)):
        queries = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        got = {
            (r.query_id, r.rank): r.neighbor_id
            for r in S.search_ivf_index(index, queries, k=3).collect()
        }
        ref = {
            (r.query_id, r.rank): r.neighbor_id
            for r in S.ivf_ann_topk(emb, queries, k=3).collect()
        }
        assert got == ref and got


def test_token_rarity_hand_checked(spark):
    # corpus: "a a b" + "a c" → counts: a=3, b=1, c=1; N=5
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="a c"), Row(doc_id=3, text="")]
    )
    rows = {
        r.doc_id: r
        for r in text.token_rarity(df, "doc_id", rare_max_count=1).collect()
    }
    assert set(rows) == {1, 2}  # empty doc absent
    # doc 1: toks a,a,b → sum_c = 3+3+1 = 7; mean = 7/(5*3); rare = b → 1/3
    assert rows[1].n_toks == 3
    assert rows[1].mean_token_freq == round(7 / 15, 9)
    assert rows[1].rare_token_frac == round(1 / 3, 6)
    # doc 2: toks a,c → sum_c = 4; mean = 4/(5*2); rare = c → 1/2
    assert rows[2].mean_token_freq == round(4 / 10, 9)
    assert rows[2].rare_token_frac == 0.5


def test_bigram_lm_scores_hand_checked(spark):
    """Add-k bigram LM hand computation: counts, smoothing denominator,
    tf-weighted mean log-prob, and the rounded-then-exp perplexity
    derivation; sub-2-token docs are omitted."""
    import math

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="a b a b"),
            Row(doc_id=2, text="a b c"),
            Row(doc_id=3, text="a"),   # one token: no transitions
            Row(doc_id=4, text=""),    # empty
        ]
    )
    rows = {
        r.doc_id: r
        for r in text.bigram_lm_scores(df, "doc_id", add_k=0.5).collect()
    }
    assert set(rows) == {1, 2}
    # unigrams: a=4, b=3, c=1 -> V=3; bigrams: ab=3, ba=1, bc=1; k=0.5
    p_ab = (3 + 0.5) / (4 + 0.5 * 3)   # P(b|a)
    p_ba = (1 + 0.5) / (3 + 0.5 * 3)   # P(a|b)
    p_bc = (1 + 0.5) / (3 + 0.5 * 3)   # P(c|b)
    # doc 1 bigrams: ab, ba, ab
    avg1 = round((2 * math.log(p_ab) + math.log(p_ba)) / 3, 6)
    assert rows[1].n_bigrams == 3
    assert rows[1].avg_logprob == avg1
    assert rows[1].perplexity == round(math.exp(-avg1), 6)
    # doc 2 bigrams: ab, bc
    avg2 = round((math.log(p_ab) + math.log(p_bc)) / 2, 6)
    assert rows[2].n_bigrams == 2
    assert rows[2].avg_logprob == avg2
    # fluent doc 1 (all common transitions) beats the rarer-transition doc 2
    assert rows[1].perplexity < rows[2].perplexity


def test_token_drift_hand_checked(spark):
    """Smoothed KL drift between two snapshots: union-vocab smoothing
    gives one-sided tokens finite signed contributions; ranking is
    |contribution| desc with token tiebreak after a top-k cut."""
    import math

    a = spark.createDataFrame(
        [Row(doc_id=1, text="x x x y")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [Row(doc_id=2, text="x y y z")], "doc_id long, text string"
    )
    rows = {r.token: r for r in text.token_drift(a, b, top_k=3).collect()}
    # counts: A x=3 y=1 (na=4), B x=1 y=2 z=1 (nb=4); union V=3, k=0.5
    def p(c, n):
        return (c + 0.5) / (n + 0.5 * 3)

    for tok, ca, cb in (("x", 3, 1), ("y", 1, 2), ("z", 0, 1)):
        pa, pb = p(ca, 4), p(cb, 4)
        assert rows[tok].p_a == round(pa, 9)
        assert rows[tok].p_b == round(pb, 9)
        assert rows[tok].kl_contrib == round(pa * math.log(pa / pb), 9)
    # x over-represented in A (positive), z absent from A (negative)
    assert rows["x"].kl_contrib > 0 > rows["z"].kl_contrib
    assert [r.token for r in sorted(rows.values(), key=lambda r: r.rank)] == \
        sorted(rows, key=lambda t: (-abs(rows[t].kl_contrib), t))
    # top_k cut respected
    assert text.token_drift(a, b, top_k=1).count() == 1


def test_bigram_lm_and_token_drift_plan_discipline(spark):
    """Scale contracts of the round-8 text operators, plan-asserted:
    bigram_lm_scores stays JVM-side (no Python eval) with no cartesian
    blowup and no single-partition exchange on the data path (the 1-row
    vocab scalar is collected, not crossJoined); token_drift's top-k is
    a TakeOrderedAndProject CUT — the rank window runs over <= k rows,
    never a vocab-sized single task."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i} with words {i % 7}") for i in range(50)],
        "doc_id long, text string",
    )
    p1 = (
        text.bigram_lm_scores(docs, "doc_id")
        ._jdf.queryExecution().executedPlan().treeString()
    )
    assert "BatchEvalPython" not in p1 and "ArrowEvalPython" not in p1, p1
    assert "CartesianProduct" not in p1, p1
    assert "SinglePartition" not in p1, p1

    drift = text.token_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        top_k=5,
    )
    p2 = drift._jdf.queryExecution().executedPlan().treeString()
    assert "TakeOrderedAndProject" in p2, p2
    # the only Window sits ABOVE the top-k cut: plan order puts the rank
    # window before (above) TakeOrderedAndProject in the tree string
    assert p2.index("Window") < p2.index("TakeOrderedAndProject"), p2
    assert "BatchEvalPython" not in p2 and "CartesianProduct" not in p2, p2


def test_contamination_score_full_and_partial_overlap(spark):
    train = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps"),   # shares all
            Row(doc_id=2, text="the quick brown cat sleeps"),  # shares 1 of 3
            Row(doc_id=3, text="totally different words here"),
        ]
    )
    evals = spark.createDataFrame([Row(doc_id=100, text="the quick brown fox jumps")])
    rows = {
        r.doc_id: r
        for r in dedup.contamination_score(train, evals, "doc_id", n=3).collect()
    }
    assert rows[1].overlap_frac == 1.0 and rows[1].n_common == rows[1].n_shingles
    assert rows[2].n_common == 1 and 0 < rows[2].overlap_frac < 1
    assert rows[3].n_common == 0 and rows[3].overlap_frac == 0.0


def test_containment_catches_subset_jaccard_misses(spark):
    small = "alpha beta gamma delta"                       # 2 shingles (n=3)
    big = small + " " + " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame([Row(doc_id=1, text=big), Row(doc_id=2, text=small)])
    jac = dedup.ngram_jaccard_pairs(df, "doc_id", threshold=0.5).collect()
    con = dedup.containment_pairs(df, "doc_id", threshold=0.9).collect()
    assert jac == []                      # union dominated by the big doc
    assert len(con) == 1 and con[0].containment == 1.0


def test_connected_components_null_ids_identical_on_both_paths(spark, monkeypatch):
    """Non-numeric ids survive ``cast('long')`` as NULLs; both the driver
    union-find fast path and the distributed propagation path must drop
    such edges identically (the fast path used to raise TypeError)."""
    from sql_data_warehouse_analytics_project_spark.llm import clustering

    pairs = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("x", "5"), ("7", None)],
        "id_a string, id_b string",
    )
    fast = {(r.node, r.comp) for r in clustering.connected_components(pairs).collect()}
    monkeypatch.setattr(clustering, "DRIVER_MAX_EDGES", 0)
    dist = {(r.node, r.comp) for r in clustering.connected_components(pairs).collect()}
    # the x–5 and 7–NULL edges are dropped whole: 5 and 7 have no valid edge
    assert fast == dist == {(1, 1), (2, 1), (3, 1)}


def test_prebuilt_shingle_index_rejects_mismatched_n(spark):
    """A pre-built index built with a different shingle n than the call's
    would silently produce wrong similarities; it must raise instead."""
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f"), Row(doc_id=2, text="a b c d e g")]
    )
    idx = dedup.shingle_index(df, "doc_id", n=3).localCheckpoint(eager=True)
    with pytest.raises(ValueError, match="n=3"):
        dedup.ngram_jaccard_pairs(df, "doc_id", n=2, index=idx)
    with pytest.raises(ValueError, match="n=3"):
        dedup.containment_pairs(df, "doc_id", n=2, index=idx)
    with pytest.raises(ValueError, match="n=3"):
        dedup.minhash_dedup_pairs(df, "doc_id", n=2, index=idx)
    # matching n (and a metadata-less foreign index) stay accepted
    assert dedup.ngram_jaccard_pairs(df, "doc_id", n=3, index=idx).count() >= 0
    foreign = idx.select("doc", F.col("shingle").cast("long").alias("shingle"))
    assert dedup.ngram_jaccard_pairs(df, "doc_id", n=2, index=foreign).count() >= 0


def test_curate_corpus_write_through_mode(spark, tmp_path):
    """Round-6 verdict #7: ``write_through=<dir>`` persists every stage
    boundary as a parquet dataset and downstream consumes the durable
    copy — read-back stages (staged chain) equal the default call's
    stages (fused chain), and each per-stage dataset is independently
    re-readable after the run."""
    from sql_data_warehouse_analytics_project_spark.llm import curate

    base = (
        "The quick brown fox jumps over the lazy dog while the other animals "
        "watch from the comfortable shade of a large tree near the old farm. "
        "It is a calm and pleasant afternoon in the quiet countryside there."
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),
            (3, base.replace("pleasant", "lovely")),
            (4, "junk!!"),
            (5, base.replace("fox", "cat").replace("dog", "bird")),
        ],
        "doc_id long, text string",
    )
    out = str(tmp_path / "curated")
    wt = curate.curate_corpus(docs, write_through=out)
    default = curate.curate_corpus(docs)

    def rows(df, cols):
        return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())

    import os

    for stage in ("exact", "pairs", "near", "decisions", "curated"):
        assert os.path.isdir(os.path.join(out, stage)), stage
        cols = sorted(default[stage].columns)
        assert sorted(wt[stage].columns) == cols, stage
        assert rows(wt[stage], cols) == rows(default[stage], cols), stage
    # the clusters resolution is persisted too (audit trail)
    assert os.path.isdir(os.path.join(out, "clusters"))
    # per-stage datasets are independently re-readable after the run
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        read_dataset,
    )

    back = read_dataset(spark, os.path.join(out, "curated"))
    assert {r.doc_id for r in back.select("doc_id").collect()} == {1, 5}


def test_dedup_against_snapshot(spark):
    """Cross-snapshot incremental dedup: a new batch drops docs whose
    normalized content already exists in the prior snapshot's ledger,
    dedups within itself (lowest id wins), and keeps genuinely new text;
    rolling the ledger forward makes a replayed batch a no-op."""
    from sql_data_warehouse_analytics_project_spark.llm import dedup

    prior = spark.createDataFrame(
        [(1, "Old document about rivers."), (2, "Another   OLD document.")],
        "doc_id long, text string",
    )
    ledger = dedup.snapshot_fingerprints(prior)
    new = spark.createDataFrame(
        [
            (10, "old  document about rivers."),  # dup of 1 (normalized)
            (11, "Fresh text one."),
            (12, "Fresh text one."),              # intra-batch dup of 11
            (13, "Fresh text two."),
        ],
        "doc_id long, text string",
    )
    out = dedup.dedup_against_snapshot(new, ledger, "doc_id")
    assert {r.doc_id for r in out.collect()} == {11, 13}

    rolled = ledger.unionByName(dedup.snapshot_fingerprints(out)).distinct()
    again = dedup.dedup_against_snapshot(new, rolled, "doc_id")
    assert again.count() == 0


def test_near_dup_against_snapshot_production_path(spark):
    """xxhash64 production probe: identical text across snapshot/new
    estimates Jaccard 1.0; an unrelated doc produces no pair; signature
    params are inferred from the stored snapshot signatures."""
    from sql_data_warehouse_analytics_project_spark.llm import dedup

    base = (
        "the quick brown fox jumps over the lazy dog near the quiet river "
        "bank while morning light settles across the open valley fields"
    )
    snap = spark.createDataFrame(
        [(1, base), (2, "completely different content about machine tools "
                        "and factory calibration schedules for inspectors")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base), (11, "unrelated fresh text on oceanography and deep "
                          "sea instrument moorings during winter storms")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(snap, "doc_id", num_hashes=32)
    out = dedup.near_dup_against_snapshot(
        new, sigs, "doc_id", threshold=0.7, num_bands=8
    ).collect()
    pairs = {(r.id_new, r.id_snapshot): r.est_jaccard for r in out}
    assert (10, 1) in pairs and pairs[(10, 1)] == 1.0
    assert all(k == (10, 1) for k in pairs)


def test_line_dedup_removes_boilerplate_keeps_order(spark):
    """Line-level corpus dedup: a footer repeated across 3 docs is removed
    at max_doc_frequency=2, unique prose lines survive in original order,
    and a doc made entirely of boilerplate comes back empty (row kept)."""
    from sql_data_warehouse_analytics_project_spark.llm import text as T

    footer = "(c) example corp - all rights reserved"
    docs = spark.createDataFrame(
        [
            (1, f"alpha prose line\n{footer}\nsecond alpha line"),
            (2, f"{footer}\nbeta unique line"),
            (3, f"gamma one\ngamma two\n{footer}"),
            (4, footer),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.text
        for r in T.line_dedup(docs, "doc_id", max_doc_frequency=2).collect()
    }
    assert out[1] == "alpha prose line\nsecond alpha line"
    assert out[2] == "beta unique line"
    assert out[3] == "gamma one\ngamma two"
    assert out[4] == ""
    freq = {
        r.line: r.n_docs
        for r in T.line_doc_frequency(docs, "doc_id").collect()
    }
    assert freq[footer] == 4 and freq["beta unique line"] == 1


def test_bm25_ranks_self_and_relevant_first(spark):
    """BM25 sanity: a document used as its own query ranks itself #1; a
    query with terms only in one doc retrieves exactly that doc; scores
    are positive and ranks contiguous."""
    from sql_data_warehouse_analytics_project_spark.llm import retrieval

    docs = spark.createDataFrame(
        [
            (1, "spark shuffles data between executors during wide joins"),
            (2, "cats purr softly in the warm afternoon sun"),
            (3, "executors spill shuffle data to disk under pressure"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "spark shuffles data between executors during wide joins"),
         (2, "cats purr")],
        "query_id long, text string",
    )
    out = retrieval.bm25_topk(docs, queries, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    q1 = sorted(by_q[1], key=lambda r: r.rank)
    assert q1[0].doc_id == 1 and q1[0].score > 0
    assert [r.rank for r in q1] == list(range(1, len(q1) + 1))
    q2 = sorted(by_q[2], key=lambda r: r.rank)
    assert q2[0].doc_id == 2


def test_bm25_index_roundtrip_matches_one_shot(spark, tmp_path):
    """The persisted-index lifecycle (build → write_dataset → read →
    search) returns bit-identical results to the one-shot ``bm25_topk``:
    the corpus-statistics pass is reusable across jobs, which at scale is
    the entire cost of retrieval."""
    import json

    from sql_data_warehouse_analytics_project_spark.llm import retrieval
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        read_dataset,
        write_dataset,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark shuffles data between executors during wide joins"),
            (2, "cats purr softly in the warm afternoon sun"),
            (3, "executors spill shuffle data to disk under pressure"),
            (4, "the sun warms the disk of the galaxy"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(1, "spark executors shuffle data"), (2, "warm sun")],
        "query_id long, text string",
    )
    one_shot = sorted(
        map(tuple, retrieval.bm25_topk(docs, queries, k=3).collect())
    )

    index = retrieval.build_bm25_index(docs)
    ppath = str(tmp_path / "bm25_postings")
    tpath = str(tmp_path / "bm25_term_stats")
    write_dataset(index["postings"], ppath, sort_by=["term"])
    write_dataset(index["term_stats"], tpath, sort_by=["term"])
    # scalars persist as plain JSON alongside the two datasets
    meta = json.loads(
        json.dumps(
            {
                "n_docs": index["n_docs"],
                "total_dl": index["total_dl"],
                "id_type": index["id_type"],
            }
        )
    )
    reloaded = {
        "postings": read_dataset(spark, ppath),
        "term_stats": read_dataset(spark, tpath),
        **meta,
    }
    via_index = sorted(
        map(tuple, retrieval.search_bm25(reloaded, queries, k=3).collect())
    )
    assert via_index == one_shot
    assert len(via_index) > 0
    # k<=0 returns unranked scores for every matching pair
    pairs = retrieval.search_bm25(reloaded, queries, k=0)
    assert pairs.columns == ["query_id", "doc_id", "score"]
    assert pairs.count() >= len(via_index)


def test_bm25_bucketed_index_partition_pruned_update(spark, tmp_path):
    """Round-8/9: the doc-bucketed, manifest-committed on-disk layout
    makes incremental BM25 maintenance PARTITION-PRUNED — an update
    reads and writes only the bucket directories the batch's ids hash
    into (unaffected bucket files are byte-untouched on disk AND stay
    referenced by the published manifest; the retire scan's file listing
    contains ONLY affected bucket dirs) while scoring bit-identically to
    the DataFrame-path update AND a full rebuild. Also covers the refold
    rebuild-derived-stats helper."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_analytics_project_spark.llm import retrieval
    from sql_data_warehouse_analytics_project_spark.sources import manifest

    base = spark.createDataFrame(
        [
            (1, "spark shuffles data between executors during wide joins"),
            (2, "cats purr softly in the warm afternoon sun"),
            (3, "zebras graze quietly on the open savanna"),
            (4, "executors spill shuffle data to disk under pressure"),
            (5, "the sun warms the disk of the galaxy"),
            (6, "rivers carve canyons over geological time"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (2, "dogs bark loudly in the cold morning rain"),  # replace
            (3, ""),                                           # delete
            (7, "new telescopes resolve distant spiral galaxies"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bm25_bucketed")
    retrieval.write_bm25_index(
        retrieval.build_bm25_index(base), path, doc_buckets=8
    )

    import os

    def bucket_state():
        """bucket -> (generation, [(file, size, mtime)]) via the manifest."""
        m = manifest.read_manifest(path)
        state = {}
        for b, gid in m["extra"]["buckets"].items():
            d = f"{manifest.generation_dir(path, gid)}/postings/_bucket={b}"
            state[int(b)] = (
                gid,
                [
                    (f, os.path.getsize(f"{d}/{f}"), os.path.getmtime(f"{d}/{f}"))
                    for f in sorted(os.listdir(d))
                ],
            )
        return state

    before = bucket_state()
    affected = {
        int(r[0])
        for r in batch.select(
            F.pmod(F.xxhash64("doc_id"), F.lit(8)).alias("b")
        ).distinct().collect()
    }
    assert affected and set(before) - affected  # some buckets untouched

    # the retire scan is FILE-level pruned: its listing contains only the
    # affected buckets' directories (stronger than a PartitionFilter — the
    # unaffected dirs are never even listed)
    m0 = manifest.read_manifest(path)
    pruned = retrieval._read_postings(spark, path, m0, only_buckets=affected)
    for f in pruned.inputFiles():
        assert any(f"_bucket={b}/" in f for b in affected), f

    updated_disk = retrieval.update_bm25_index_on_disk(spark, path, batch)
    after = bucket_state()
    for b, (gid, files) in before.items():
        if b not in affected:
            assert after[b] == (gid, files), f"untouched bucket {b} was rewritten"
    # affected buckets that survived moved to the NEW generation; the new
    # manifest references both old and new generations
    m1 = manifest.read_manifest(path)
    assert m1["current"] != m0["current"]
    assert set(m1["referenced"]) >= {m1["current"]}

    # scores ≡ the DataFrame-path update ≡ a full rebuild
    updated_df = retrieval.update_bm25_index(
        retrieval.build_bm25_index(base), batch
    )
    assert updated_disk["n_docs"] == updated_df["n_docs"] == 6
    assert updated_disk["total_dl"] == updated_df["total_dl"]
    ts_d = {r.term: r.df for r in updated_disk["term_stats"].collect()}
    ts_f = {r.term: r.df for r in updated_df["term_stats"].collect()}
    assert ts_d == ts_f and "zebras" not in ts_d and "dogs" in ts_d
    queries = spark.createDataFrame(
        [(1, "spark executors shuffle data"), (2, "dogs in the rain"),
         (3, "zebras on the savanna")],
        "query_id long, text string",
    )
    got = sorted(map(tuple, retrieval.search_bm25(updated_disk, queries, k=5).collect()))
    want = sorted(map(tuple, retrieval.search_bm25(updated_df, queries, k=5).collect()))
    assert got == want and len(got) > 0

    # refold recovery recomputes the same scalars from live postings
    meta = retrieval.refold_bm25_meta(spark, path)
    assert meta["n_docs"] == updated_disk["n_docs"]
    assert meta["total_dl"] == updated_disk["total_dl"]


def test_bm25_disk_index_concurrent_reader_never_sees_mixed_state(spark, tmp_path):
    """The round-8 verdict's done-criterion for the manifest protocol: a
    reader loop running DURING repeated on-disk BM25 updates always gets
    a CONSISTENT snapshot — the postings its resolved manifest references
    agree exactly with that manifest's own scalars (distinct-doc count ==
    n_docs, Σdl == total_dl), with no missing or mixed generation.
    Each publish deletes the generations neither it nor the previous
    manifest references, and the index still reads."""
    import os
    import threading

    from pyspark.sql import functions as F

    from sql_data_warehouse_analytics_project_spark.llm import retrieval
    from sql_data_warehouse_analytics_project_spark.sources import manifest

    path = str(tmp_path / "bm25_hot")
    words = ("spark", "cats", "zebras", "rivers", "disks", "suns", "rain")
    base = spark.createDataFrame(
        [(i, f"{words[i % 7]} doc number {i} with shared corpus words")
         for i in range(1, 21)],
        "doc_id long, text string",
    )
    retrieval.write_bm25_index(
        retrieval.build_bm25_index(base), path, doc_buckets=8
    )

    stop = threading.Event()
    failures: list[str] = []

    def reader():
        while not stop.is_set():
            idx = retrieval.read_bm25_index(spark, path)  # pinned snapshot
            got = idx["postings"].select("doc", "dl").distinct().agg(
                F.count(F.lit(1)).alias("n"), F.sum("dl").alias("t")
            ).collect()[0]
            if (int(got["n"] or 0), int(got["t"] or 0)) != (
                idx["n_docs"], idx["total_dl"]
            ):
                failures.append(
                    f"postings n={got['n']} t={got['t']} vs manifest "
                    f"n={idx['n_docs']} t={idx['total_dl']}"
                )
                return

    t = threading.Thread(target=reader)
    t.start()
    referenced = []
    try:
        for k in range(4):
            batch = spark.createDataFrame(
                [(2 + k, f"replaced version {k} of the document text"),
                 (100 + k, f"fresh doc {k} joins the corpus midstream")],
                "doc_id long, text string",
            )
            retrieval.update_bm25_index_on_disk(spark, path, batch)
            referenced.append(manifest.read_manifest(path)["referenced"])
    finally:
        stop.set()
        t.join(timeout=180)
    assert not failures, failures

    # each publish keeps only what it and the previous manifest reference
    live = set(os.listdir(f"{path}/_generations"))
    assert live == set(referenced[-1]) | set(referenced[-2])
    idx = retrieval.read_bm25_index(spark, path)
    assert idx["n_docs"] == 20 + 4  # 4 replaces + 4 fresh docs
    got = idx["postings"].select("doc").distinct().count()
    assert got == idx["n_docs"]


def test_bm25_incremental_update_matches_rebuild(spark):
    """update_bm25_index absorbs a batch (including a RE-INGESTED doc
    whose text changed) without re-tokenizing history, and the updated
    index scores bit-identically to a full rebuild over the final
    corpus; the append-only fast path (assume_disjoint) agrees when the
    batch truly is disjoint."""
    from sql_data_warehouse_analytics_project_spark.llm import retrieval

    base = spark.createDataFrame(
        [
            (1, "spark shuffles data between executors during wide joins"),
            (2, "cats purr softly in the warm afternoon sun"),
            (3, "executors spill shuffle data to disk under pressure"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (3, "executors spill to disk and also to remote storage"),  # replaced
            (4, "the sun warms the disk of the galaxy"),                 # new
            (5, "spark executors shuffle wide data"),                    # new
        ],
        "doc_id long, text string",
    )
    final_corpus = base.filter("doc_id != 3").unionByName(batch)
    queries = spark.createDataFrame(
        [(1, "spark executors shuffle data"), (2, "warm sun disk")],
        "query_id long, text string",
    )

    updated = retrieval.update_bm25_index(
        retrieval.build_bm25_index(base), batch
    )
    rebuilt = retrieval.build_bm25_index(final_corpus)
    assert updated["n_docs"] == rebuilt["n_docs"]
    assert updated["total_dl"] == rebuilt["total_dl"]
    got = sorted(map(tuple, retrieval.search_bm25(updated, queries, k=5).collect()))
    want = sorted(map(tuple, retrieval.search_bm25(rebuilt, queries, k=5).collect()))
    assert got == want and len(got) > 0
    # term_stats merged exactly (df deltas, replaced doc's terms removed)
    ts_u = {r.term: r.df for r in updated["term_stats"].collect()}
    ts_r = {r.term: r.df for r in rebuilt["term_stats"].collect()}
    assert ts_u == ts_r
    assert "pressure" not in ts_u  # only doc 3 had it, and doc 3 changed

    # append-only fast path: disjoint batch, probe skipped
    disjoint = batch.filter("doc_id >= 4")
    fast = retrieval.update_bm25_index(
        retrieval.build_bm25_index(base), disjoint, assume_disjoint=True
    )
    slow = retrieval.build_bm25_index(base.unionByName(disjoint))
    got_f = sorted(map(tuple, retrieval.search_bm25(fast, queries, k=5).collect()))
    want_f = sorted(map(tuple, retrieval.search_bm25(slow, queries, k=5).collect()))
    assert got_f == want_f


def test_rrf_fuse_hand_computed(spark):
    """RRF on two hand-made lists: scores are exact reciprocal sums,
    candidates present in both lists beat single-list candidates, and a
    list-missing candidate still scores on the other list alone."""
    from sql_data_warehouse_analytics_project_spark.llm import retrieval

    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 30, 3)],
        "query_id long, doc_id long, rank int",
    )
    sem = spark.createDataFrame(
        [(1, 20, 1), (1, 40, 2)],
        "query_id long, doc_id long, rank int",
    )
    out = {r.doc_id: r for r in retrieval.rrf_fuse([lex, sem], k=10).collect()}
    assert out[20].rrf_score == round(1 / 62 + 1 / 61, 6)  # both lists
    assert out[10].rrf_score == round(1 / 61, 6)           # lexical only
    assert out[40].rrf_score == round(1 / 62, 6)           # semantic only
    assert out[20].rank == 1  # dual-list candidate wins
    ranks = sorted(r.rank for r in out.values())
    assert ranks == [1, 2, 3, 4]
    with pytest.raises(ValueError):
        retrieval.rrf_fuse([])


def test_source_dup_matrix_canonical_cells(spark):
    """Near-dup pairs land in lexicographic (source_a, source_b) cells;
    within-source dups hit the diagonal; counts and rounded mean
    jaccard match hand computation."""
    dup = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, dup, "src_b"),
            (2, dup, "src_a"),          # cross-source exact dup of 1
            (3, dup, "src_b"),          # within-source dup of 1
            (4, "totally different text here now", "src_a"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r.source_a, r.source_b): r
        for r in dedup.source_dup_matrix(docs, threshold=0.8).collect()
    }
    # pairs: (1,2) a-b cross, (1,3) b-b diagonal, (2,3) a-b cross
    assert out[("src_a", "src_b")].n_pairs == 2
    assert out[("src_b", "src_b")].n_pairs == 1
    assert out[("src_a", "src_b")].avg_jaccard == 1.0
    assert ("src_a", "src_a") not in out


def test_source_dup_matrix_null_source_sentinel(spark):
    """A null source coalesces to the '(null)' sentinel before
    least/greatest canonicalization — no null cells, and the unlabelled
    docs aggregate into one well-defined row."""
    dup = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [(1, dup, None), (2, dup, "src_a"), (3, dup, None)],
        "doc_id long, text string, source string",
    )
    out = {
        (r.source_a, r.source_b): r
        for r in dedup.source_dup_matrix(docs, threshold=0.8).collect()
    }
    assert all(a is not None and b is not None for a, b in out)
    assert out[("(null)", "src_a")].n_pairs == 2   # (1,2), (2,3)
    assert out[("(null)", "(null)")].n_pairs == 1  # (1,3)


def test_select_token_budget_greedy_prefix(spark):
    """Token-budget selection keeps the quality-DESC prefix that fits
    ENTIRELY within the budget: a high-quality doc too large to fit is
    excluded along with everything after it reaching the budget; audit
    columns carry exact token counts and running sums."""
    from sql_data_warehouse_analytics_project_spark.llm import curate

    good = ("the data is on the disk and it is warm for now " * 3).strip()
    docs = spark.createDataFrame(
        [
            (1, good),                     # high quality
            (2, good + " extra tokens"),   # high quality
            (3, "zzzz qqqq " * 40),        # low quality (no stopwords)
        ],
        "doc_id long, text string",
    )
    n1 = len(good.split())
    out = {r.doc_id: r for r in curate.select_token_budget(docs, n1 + 5).collect()}
    # doc 1 fits; doc 2 (same quality, higher id) would overflow; doc 3 never reached
    assert set(out) == {1}
    assert out[1].n_tokens == n1 and out[1].running_tokens == n1
    assert 0.0 < out[1].quality <= 1.0
    # a budget covering everything keeps all docs
    assert curate.select_token_budget(docs, 10_000).count() == 3
    # zero budget keeps nothing
    assert curate.select_token_budget(docs, 0).count() == 0


def test_select_token_budget_refuses_reserved_columns(spark):
    """Inputs already carrying an output/audit column name are refused,
    never silently overwritten (same contract as global_running_sum)."""
    from sql_data_warehouse_analytics_project_spark.llm import curate

    for col in ("n_tokens", "quality", "running_tokens", "_q"):
        docs = spark.createDataFrame(
            [(1, "some text", 7)], f"doc_id long, text string, {col} long"
        )
        with pytest.raises(ValueError, match=col):
            curate.select_token_budget(docs, 100)


def test_ivfpq_compression_determinism_and_recall(spark, tmp_path):
    """Round-9 (verdict #5): the IVF-PQ index stores m uint8 codes per
    vector instead of the raw floats — a >=16x payload cut proven on
    disk — with deterministic training (identical codebooks across
    builds), PQ-only search returning well-formed rankings, and the
    FAISS-style exact-rerank refinement holding aggregate recall@5 vs
    brute force above the qd56 gate."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_analytics_project_spark.llm import similarity
    from sql_data_warehouse_analytics_project_spark.sources.readers import (
        load_table,
    )
    from sql_data_warehouse_analytics_project_spark.sources.writers import (
        dataset_file_stats,
        write_dataset,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)

    # deterministic training: two builds produce identical codebooks
    cb1 = similarity.train_pq(emb, m=8, n_codes=16)
    cb2 = similarity.train_pq(emb, m=8, n_codes=16)
    assert cb1 == cb2
    assert len(cb1) == 8 and len(cb1[0]) == 16 and len(cb1[0][0]) == 8

    index = similarity.build_ivfpq_index(emb, n_centroids=16, m=8, n_codes=16)
    # every encoded vector is exactly m bytes
    lens = index["assignments"].select(
        F.length("pq_code").alias("n")
    ).distinct().collect()
    assert [r.n for r in lens] == [8]

    # on-disk: the PQ payload column is dramatically smaller than the raw
    # float vectors it replaces
    pq_path = str(tmp_path / "pq_codes")
    raw_path = str(tmp_path / "raw_vecs")
    write_dataset(index["assignments"].select("neighbor_id", "pq_code"), pq_path)
    write_dataset(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"), raw_path
    )
    pq_b = dataset_file_stats(pq_path)["total_bytes"]
    raw_b = dataset_file_stats(raw_path)["total_bytes"]
    assert pq_b * 4 < raw_b, (pq_b, raw_b)

    # PQ-only search is well-formed (contiguous ranks, k rows per query)
    pq_only = similarity.search_ivfpq_index(index, queries, k=5)
    per_q = pq_only.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rank").alias("mx")
    ).collect()
    assert all(r.n == 5 and r.mx == 5 for r in per_q)

    # refinement stage clears the aggregate recall gate
    exact = similarity.cosine_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id"
    )
    refined = similarity.search_ivfpq_index(
        index, queries, k=5, rerank_with=emb, oversample=16
    )
    hit = refined.select("query_id", "neighbor_id").join(
        exact, ["query_id", "neighbor_id"]
    ).count()
    assert hit / exact.count() >= 0.6
    # refined scores are TRUE cosines: spot-check one pair against the
    # brute-force scorer
    got = {
        (r.query_id, r.neighbor_id): r.score for r in refined.collect()
    }
    want = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.cosine_topk(emb, queries, k=5).collect()
    }
    shared = set(got) & set(want)
    assert shared and all(abs(got[p] - want[p]) < 1e-9 for p in shared)

    # empty corpus: searchable, zero results
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    eidx = similarity.build_ivfpq_index(empty, n_centroids=4, m=8, n_codes=4)
    assert similarity.search_ivfpq_index(eidx, queries, k=5).count() == 0


def test_png_codec_roundtrip_and_all_filters(spark):
    """Round-9 (verdict #6): the dependency-free PNG codec. Round-trips
    every supported channel count, decodes a hand-FILTERED image (all
    five PNG filter types constructed by an independent reference
    implementation in this test), honestly refuses unsupported shapes,
    and the Spark kernels (features/resize/pixel stats) run real pixels
    end-to-end with corruption flagging — no Pillow anywhere."""
    import struct
    import zlib

    import numpy as np

    from sql_data_warehouse_analytics_project_spark.llm import multimodal as mm

    # round-trip: gray, gray+alpha, RGB, RGBA
    rng_free = lambda h, w, ch: (  # noqa: E731 — deterministic fill
        (np.arange(h * w * ch, dtype=np.int64) * 37 + 11) % 256
    ).astype(np.uint8).reshape(h, w, ch)
    for ch in (1, 2, 3, 4):
        arr = rng_free(7, 5, ch)
        back = mm.decode_png(mm.encode_png(arr))
        assert back.shape == (7, 5, ch) and (back == arr).all()

    # all five filters, constructed by a REFERENCE filterer (independent
    # per-pixel code, the inverse of the decoder's unfilter loop)
    h, w, ch = 5, 4, 3
    img = rng_free(h, w, ch)
    flat = img.reshape(h, w * ch).astype(np.int32)

    def filt(y, ft):
        line = flat[y]
        prev = flat[y - 1] if y else np.zeros(w * ch, dtype=np.int32)
        out = np.empty(w * ch, dtype=np.int32)
        for x in range(w * ch):
            a = line[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out[x] = (line[x] - pred) % 256
        return bytes([ft]) + out.astype(np.uint8).tobytes()

    raw = b"".join(filt(y, y % 5) for y in range(h))

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw))
           + chunk(b"IEND", b""))
    assert (mm.decode_png(png) == img).all()
    assert mm.png_dims(png) == (w, h)

    # honest refusals: 16-bit depth and palette color raise
    import pytest as _pytest

    bad = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(b"\x00" * 25))
           + chunk(b"IEND", b""))
    with _pytest.raises(NotImplementedError):
        mm.decode_png(bad)

    # Spark kernels over real PNGs: features, pixel stats, resize
    docs = spark.range(1, 40).select(F.col("id").alias("doc_id"))
    media = mm.synthesize_png_media(docs)
    feats = {r.media_id: r for r in
             mm.extract_image_features(media, decode="png").collect()}
    assert feats[1].width == 17 and feats[1].height == 17  # 16+1%8, 16+1%5
    assert all(not feats[i].decode_ok for i in feats if i % 97 == 0)
    stats = {r.media_id: r for r in
             mm.image_pixel_stats(media, decode="png").collect()}
    r1 = stats[1]
    hh, ww = 16 + 1 % 5, 16 + 1 % 8
    want = sum((1 + 3 * y + 5 * x + 7 * c) % 256
               for y in range(hh) for x in range(ww) for c in range(3))
    assert r1.pixel_sum == want and r1.channels == 3
    resized = {r.media_id: r for r in
               mm.resize_images(media, max_side=8, decode="png").collect()}
    assert resized[1].width <= 8 and resized[1].height <= 8
    back = mm.decode_png(bytes(resized[1].content))
    assert back.shape == (resized[1].height, resized[1].width, 3)


def test_ivfpq_disk_index_pruned_search_matches_memory(spark, tmp_path):
    """The persisted IVF-PQ layout (manifest-committed, cell-partitioned):
    search through the on-disk index equals search through the in-memory
    one, and the probe's scan physically reads ONLY the probed cells'
    partition directories (inputFiles subset + PartitionFilters in the
    plan). Republish is atomic (new generation; old one intact until
    vacuum)."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_analytics_project_spark.llm import similarity
    from sql_data_warehouse_analytics_project_spark.sources import manifest
    from sql_data_warehouse_analytics_project_spark.sources.readers import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    index = similarity.build_ivfpq_index(emb, n_centroids=16, m=8, n_codes=16)
    path = str(tmp_path / "ivfpq")
    similarity.write_ivfpq_index(index, path)
    disk = similarity.read_ivfpq_index(spark, path)
    assert disk["centroids"] == index["centroids"]
    assert disk["codebooks"] == index["codebooks"]

    got = sorted(map(tuple, similarity.search_ivfpq_index(
        disk, queries, k=5, rerank_with=emb, oversample=8
    ).collect()))
    want = sorted(map(tuple, similarity.search_ivfpq_index(
        index, queries, k=5, rerank_with=emb, oversample=8
    ).collect()))
    assert got == want and len(got) > 0

    # physical pruning: the filtered assignment scan lists only the
    # probed cells' directories
    import numpy as np

    cmat = np.array(disk["centroids"])
    qprobe = (
        queries.select(F.col("vec_id").alias("id"),
                       F.col("embedding").cast("array<double>").alias("v"))
        .mapInPandas(similarity._ivf_assign_kernel(spark, cmat, 4),
                     schema="id long, centroid_id int")
    )
    cells = {r[0] for r in qprobe.select("centroid_id").distinct().collect()}
    assert len(cells) < 16  # some cells NOT probed at n_probe=4
    pruned = disk["assignments"].filter(
        F.col("centroid_id").isin(sorted(cells))
    )
    plan = pruned._jdf.queryExecution().executedPlan().treeString()
    assert "PartitionFilters: [" in plan
    assert "centroid_id" in plan.split("PartitionFilters:")[1].split("]")[0]
    # and the pruned scan actually reads fewer rows than the full index
    assert pruned.count() < disk["assignments"].count()

    # atomic republish: a rebuild writes a new generation; the old stays
    # for one more publish (readers drain), and the next publish drops it
    g1 = manifest.read_manifest(path)["current"]
    similarity.write_ivfpq_index(index, path)
    m2 = manifest.read_manifest(path)
    assert m2["current"] != g1
    import os

    assert os.path.isdir(manifest.generation_dir(path, g1))
    similarity.write_ivfpq_index(index, path)
    assert not os.path.isdir(manifest.generation_dir(path, g1))
    assert os.path.isdir(manifest.generation_dir(path, m2["current"]))
    assert similarity.read_ivfpq_index(spark, path)["assignments"].count() > 0


def test_ivfpq_incremental_update_matches_pinned_rebuild(spark, tmp_path):
    """Round-10 verdict #1: `update_ivfpq_index` — the qd46/qd52
    incremental-maintenance lifecycle applied to the ANN stack. A batch
    (new ids + re-ingested ids whose vectors MOVED cells + null-vector
    deletes) absorbed into a persisted index must yield an assignment
    table value-identical to re-encoding the union corpus under the
    pinned models; unaffected cell directories stay byte-untouched; a
    reader holding the pre-update snapshot is undisturbed; a second
    update composes (tombstone max-seq)."""
    import os

    from pyspark.sql import functions as F

    from sql_data_warehouse_analytics_project_spark.llm import similarity
    from sql_data_warehouse_analytics_project_spark.sources import manifest
    from sql_data_warehouse_analytics_project_spark.sources.readers import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    fresh = emb.filter(F.col("vec_id") % 50 == 0).select("vec_id", "embedding")
    moved = base.filter(F.col("vec_id") % 35 == 7).select(
        "vec_id",
        F.expr("transform(embedding, x -> float(-x))").alias("embedding"),
    )
    deleted = base.filter(F.col("vec_id") % 35 == 11).select(
        "vec_id", F.lit(None).cast("array<float>").alias("embedding")
    )
    batch = fresh.unionByName(moved).unionByName(deleted)

    index = similarity.build_ivfpq_index(base, n_centroids=16, m=8, n_codes=16)
    assert index["qerr"] is not None and 0.0 <= index["qerr"] <= 2.0
    path = str(tmp_path / "ivfpq_inc")
    similarity.write_ivfpq_index(index, path)
    m0 = manifest.read_manifest(path)

    def cell_files(cells_map):
        out = {}
        for c, g in cells_map.items():
            d = f"{path}/_generations/{g}/assignments/centroid_id={c}"
            out[c] = sorted(
                (f, os.path.getsize(os.path.join(d, f)),
                 os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d)
            )
        return out

    before = cell_files(m0["extra"]["cells"])
    pre_reader = similarity.read_ivfpq_index(spark, path)
    queries = emb.filter(F.col("vec_id") < 8)
    pre_results = sorted(map(tuple, similarity.search_ivfpq_index(
        pre_reader, queries, k=5
    ).collect()))

    updated = similarity.update_ivfpq_index(spark, path, batch)
    m1 = manifest.read_manifest(path)

    # value-level: live assignments == pinned-model encode of the union
    union = (
        base.join(batch.select("vec_id"), "vec_id", "anti")
        .select("vec_id", "embedding")
        .unionByName(batch)
    )
    ref = sorted(map(tuple, similarity._assign_encode(
        union, index["centroids"], index["codebooks"],
        "vec_id", "embedding", index["id_type"],
    ).collect()))
    got = sorted(map(tuple, updated["assignments"].collect()))
    assert got == ref and len(got) > 0

    # ...and so does the search through it (same models → same results)
    refidx = dict(index)
    refidx["assignments"] = spark.createDataFrame(
        ref, f"neighbor_id {index['id_type']}, centroid_id int, pq_code binary"
    )
    s_got = sorted(map(tuple, similarity.search_ivfpq_index(
        updated, queries, k=5, rerank_with=union, oversample=8
    ).collect()))
    s_ref = sorted(map(tuple, similarity.search_ivfpq_index(
        refidx, queries, k=5, rerank_with=union, oversample=8
    ).collect()))
    assert s_got == s_ref and len(s_got) > 0

    # deleted ids are gone; moved ids live in exactly one (new) cell
    live = updated["assignments"].groupBy("neighbor_id").count()
    del_ids = [r[0] for r in deleted.select("vec_id").collect()]
    assert live.filter(F.col("neighbor_id").isin(del_ids)).count() == 0
    moved_ids = [r[0] for r in moved.select("vec_id").collect()]
    dup = live.filter(F.col("neighbor_id").isin(moved_ids))
    assert dup.filter(F.col("count") != 1).count() == 0

    # unaffected cell directories byte-untouched (qd52 file-level assert)
    untouched = [
        c for c, g in m1["extra"]["cells"].items()
        if g == m0["extra"]["cells"].get(c)
    ]
    after = cell_files({c: m1["extra"]["cells"][c] for c in untouched})
    assert all(before[c] == after[c] for c in untouched)

    # concurrent reader: the pre-update snapshot is pinned and intact
    assert sorted(map(tuple, similarity.search_ivfpq_index(
        pre_reader, queries, k=5
    ).collect())) == pre_results

    # second update composes: the moved ids move BACK (tombstone max-seq
    # must keep only the latest row)
    moved_back = base.filter(F.col("vec_id") % 35 == 7).select(
        "vec_id", "embedding"
    )
    upd2 = similarity.update_ivfpq_index(spark, path, moved_back)
    union2 = (
        union.join(moved_back.select("vec_id"), "vec_id", "anti")
        .select("vec_id", "embedding")
        .unionByName(moved_back)
    )
    ref2 = sorted(map(tuple, similarity._assign_encode(
        union2, index["centroids"], index["codebooks"],
        "vec_id", "embedding", index["id_type"],
    ).collect()))
    assert sorted(map(tuple, upd2["assignments"].collect())) == ref2

    # empty batch: a no-op that publishes nothing
    cur = manifest.read_manifest(path)["current"]
    noop = similarity.update_ivfpq_index(
        spark, path, batch.filter(F.lit(False))
    )
    assert manifest.read_manifest(path)["current"] == cur
    assert noop["assignments"].count() == len(ref2)


def test_ivfpq_update_drift_flags_retrain(spark, tmp_path):
    """The quantization-error drift trigger: a base corpus the PQ
    codebooks fit well (tiny baseline qerr) updated with an
    out-of-distribution batch must flip ``retrain_recommended``; an
    in-distribution batch must not."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_analytics_project_spark.llm import similarity
    from sql_data_warehouse_analytics_project_spark.sources import manifest

    # base: two tight direction clusters in dim 8 (PQ reconstructs them
    # almost exactly → small nonzero baseline qerr)
    rows = []
    for i in range(64):
        eps = (i % 7) * 1e-3
        if i % 2 == 0:
            v = [1.0, eps, 0.0, eps, 0.0, 0.0, eps, 0.0]
        else:
            v = [0.0, eps, 1.0, 0.0, eps, 0.0, 0.0, eps]
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    index = similarity.build_ivfpq_index(emb, n_centroids=4, m=4, n_codes=4)
    assert index["qerr"] is not None and 0.0 < index["qerr"] < 0.05
    path = str(tmp_path / "ivfpq_drift")
    similarity.write_ivfpq_index(index, path)

    # in-distribution batch: no flag
    ok = spark.createDataFrame(
        [(100 + i, rows[i][1]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    upd = similarity.update_ivfpq_index(spark, path, ok)
    assert upd["retrain_recommended"] is False

    # out-of-distribution batch (orthogonal-ish directions): flag flips
    # and STAYS flipped on the next ordinary update
    odd = spark.createDataFrame(
        [(200 + i, [0.0, 1.0, 0.0, -1.0, 1.0, 0.0, -1.0, 1.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    upd2 = similarity.update_ivfpq_index(spark, path, odd)
    assert upd2["retrain_recommended"] is True
    hist = manifest.read_manifest(path)["extra"]["qerr_history"]
    assert len(hist) == 2 and hist[1]["batch_qerr"] > hist[0]["batch_qerr"]
    upd3 = similarity.update_ivfpq_index(spark, path, ok.withColumn(
        "vec_id", F.col("vec_id") + 300
    ))
    assert upd3["retrain_recommended"] is True

    # re-writing the index whole is the compaction: tombstones fold away
    # and the flag resets with fresh codebooks
    rebuilt = similarity.build_ivfpq_index(
        spark.createDataFrame(
            [(r[0], r[1]) for r in rows], "vec_id long, embedding array<float>"
        ),
        n_centroids=4, m=4, n_codes=4,
    )
    similarity.write_ivfpq_index(rebuilt, path)
    m = manifest.read_manifest(path)
    assert m["extra"]["tombstones"] == []
    assert m["extra"]["retrain_recommended"] is False


def test_qd62_generated_sql_twin_matches_spark_bpe(spark, tmp_path):
    """Round-11 stretch: the driver-facing unrolled-CTE BPE twin. Its
    island-greedy window formulation must equal the Spark trainer's
    greedy fold on the hard cases — odd/even same-symbol runs ("aaa"
    under (a,a), where naive string replace provably diverges),
    frequency ties, early stop below min_freq — for several merge
    budgets."""
    import duckdb

    from sql_data_warehouse_analytics_project_spark import queries_llm
    from sql_data_warehouse_analytics_project_spark.llm import vocab

    docs = spark.createDataFrame(
        [
            (1, "aaa aaaa aaaaaa banana bandana"),
            (2, "aaa aaaa aaaaaa banana bandana"),
            (3, "abab ababab cdcdcd cdcd"),
            (4, "zz zz yy yy"),  # tie: (z,z) vs (y,y) breaks on s1
            (5, "rare"),
        ],
        "doc_id long, text string",
    )
    pq = str(tmp_path / "docs.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(pq)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')"
    )
    for num_merges, min_freq in ((4, 1), (8, 2), (16, 2)):
        duck = sorted(con.execute(
            queries_llm._qd62_sql(num_merges, min_freq)
        ).fetchall())
        sp = sorted(map(tuple, vocab.train_bpe(
            docs, num_merges=num_merges, min_freq=min_freq
        )["merges"].collect()))
        assert duck == sp, (num_merges, min_freq, duck, sp)
    assert len(sp) > 0


def test_tokenizer_persistence_roundtrip_and_republish(spark, tmp_path):
    """Round-11 verdict #4: trained tokenizers persist through the
    generation manifest like BM25/IVF-PQ indexes. Read-back encode must
    equal in-memory encode bit-for-bit (BPE and unigram), republish is
    atomic with pinned concurrent readers, and kind/shape mismatches
    refuse honestly."""
    import pytest as _pytest

    from sql_data_warehouse_analytics_project_spark.llm import unigram, vocab
    from sql_data_warehouse_analytics_project_spark.sources import manifest

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cats chatter at the mats"),
            (3, "that mat that cat that chat"),
        ],
        "doc_id long, text string",
    )

    # BPE round-trip
    bpe = vocab.train_bpe(docs, num_merges=6, min_freq=1)
    bpath = str(tmp_path / "tok_bpe")
    vocab.write_tokenizer(bpe, bpath)
    back = vocab.read_tokenizer(spark, bpath)
    assert back["kind"] == "bpe" and back["n_merges"] == bpe["n_merges"]
    assert sorted(map(tuple, back["merges"].collect())) == sorted(
        map(tuple, bpe["merges"].collect())
    )
    enc_mem = sorted(map(tuple, vocab.bpe_encode(
        docs, "doc_id", "text", bpe["word_pieces"]
    ).collect()))
    enc_disk = sorted(map(tuple, vocab.bpe_encode(
        docs, "doc_id", "text", bpath
    ).collect()))
    enc_dict = sorted(map(tuple, vocab.bpe_encode(
        docs, "doc_id", "text", back
    ).collect()))
    assert enc_mem == enc_disk == enc_dict and len(enc_mem) == 3

    # unigram round-trip (logp bit-exact through parquet doubles)
    uni = unigram.train_unigram(docs, vocab_size=8, em_iters=2)
    upath = str(tmp_path / "tok_uni")
    vocab.write_tokenizer(uni, upath)
    uback = vocab.read_tokenizer(spark, upath)
    assert uback["kind"] == "unigram"
    assert (uback["n_single"], uback["n_iters"]) == (
        uni["n_single"], uni["n_iters"]
    )
    assert sorted(map(tuple, uback["pieces"].collect())) == sorted(
        map(tuple, uni["pieces"].collect())
    )
    u_mem = sorted(map(tuple, unigram.unigram_encode(
        docs, "doc_id", "text", uni["pieces"]
    ).collect()))
    u_disk = sorted(map(tuple, unigram.unigram_encode(
        docs, "doc_id", "text", upath
    ).collect()))
    assert u_mem == u_disk and len(u_mem) == 3

    # atomic republish: a reader resolved BEFORE keeps its pinned
    # snapshot; a fresh read sees the new model
    pinned = vocab.read_tokenizer(spark, bpath)
    pinned_rows = sorted(map(tuple, pinned["word_pieces"].collect()))
    docs2 = docs.unionByName(spark.createDataFrame(
        [(4, "zebras graze in the amazing maze")], "doc_id long, text string"
    ))
    bpe2 = vocab.train_bpe(docs2, num_merges=6, min_freq=1)
    vocab.write_tokenizer(bpe2, bpath)
    assert sorted(
        map(tuple, pinned["word_pieces"].collect())
    ) == pinned_rows
    fresh = vocab.read_tokenizer(spark, bpath)
    assert sorted(map(tuple, fresh["merges"].collect())) == sorted(
        map(tuple, bpe2["merges"].collect())
    )
    assert manifest.read_manifest(bpath)["current"] == "g000002"

    # honest refusals
    with _pytest.raises(ValueError, match="not unigram"):
        unigram.unigram_encode(docs, "doc_id", "text", bpath)
    with _pytest.raises(ValueError, match="not bpe"):
        vocab.bpe_encode(docs, "doc_id", "text", upath)
    with _pytest.raises(FileNotFoundError):
        vocab.read_tokenizer(spark, str(tmp_path / "missing"))
    with _pytest.raises(ValueError, match="not a tokenizer model"):
        vocab.write_tokenizer({"nope": 1}, str(tmp_path / "bad"))


def test_retrain_ivfpq_if_needed_consumes_drift_flag(spark, tmp_path):
    """Round-11 verdict #5: `retrain_ivfpq_if_needed` consumes the drift
    flag — a no-op while it is down, and when an OOD update raises it:
    rebuild models on the live corpus, atomically swap generations,
    reset the baseline/tombstones/flag, and recover quantization quality
    for the drifted distribution; pre-retrain readers stay pinned."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_analytics_project_spark.llm import similarity
    from sql_data_warehouse_analytics_project_spark.sources import manifest

    rows = []
    for i in range(64):
        eps = (i % 7) * 1e-3
        if i % 2 == 0:
            v = [1.0, eps, 0.0, eps, 0.0, 0.0, eps, 0.0]
        else:
            v = [0.0, eps, 1.0, 0.0, eps, 0.0, 0.0, eps]
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    index = similarity.build_ivfpq_index(emb, n_centroids=4, m=4, n_codes=4)
    path = str(tmp_path / "ivfpq_retrain")
    similarity.write_ivfpq_index(index, path)

    # flag down → cheap no-op: no new generation published
    cur0 = manifest.read_manifest(path)["current"]
    out = similarity.retrain_ivfpq_if_needed(spark, path, emb)
    assert out["retrained"] is False
    assert manifest.read_manifest(path)["current"] == cur0

    # OOD update raises the flag
    odd = spark.createDataFrame(
        [(200 + i, [0.0, 1.0, 0.0, -1.0, 1.0, 0.0, -1.0, 1.0])
         for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    upd = similarity.update_ivfpq_index(spark, path, odd)
    assert upd["retrain_recommended"] is True
    drifted_qerr = manifest.read_manifest(path)["extra"]["qerr_history"][-1][
        "batch_qerr"
    ]
    pre_reader = similarity.read_ivfpq_index(spark, path)
    queries = emb.filter(F.col("vec_id") < 4)
    pre_results = sorted(map(tuple, similarity.search_ivfpq_index(
        pre_reader, queries, k=3
    ).collect()))

    # retrain on the LIVE union corpus: flag consumed, models refreshed
    union = emb.unionByName(odd)
    out2 = similarity.retrain_ivfpq_if_needed(spark, path, union)
    assert out2["retrained"] is True
    m2 = manifest.read_manifest(path)["extra"]
    assert m2["retrain_recommended"] is False
    assert m2["tombstones"] == [] and m2["qerr_history"] == []
    # geometry carried over from the manifest
    assert (len(m2["centroids"]), m2["m"], m2["n_codes"]) == (4, 4, 4)

    # quality recovered: the fresh codebooks fit the drifted rows far
    # better than the stale ones did
    new_qerr = similarity._mean_qerr(
        odd, m2["codebooks"], "vec_id", "embedding"
    )
    assert new_qerr is not None and new_qerr < drifted_qerr / 2
    # and the retrained index holds every live vector
    assert out2["index"]["assignments"].count() == union.count()

    # pre-retrain reader keeps its pinned snapshot
    assert sorted(map(tuple, similarity.search_ivfpq_index(
        pre_reader, queries, k=3
    ).collect())) == pre_results

    # force=True retrains even with the flag down
    out3 = similarity.retrain_ivfpq_if_needed(spark, path, union, force=True)
    assert out3["retrained"] is True

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        similarity.retrain_ivfpq_if_needed(
            spark, str(tmp_path / "missing"), emb
        )


def test_wav_codec_roundtrip_features_and_decimation(spark):
    """Round-9: the dependency-free WAV codec. Round-trips PCM16 mono
    (incl. an extra LIST chunk and odd-length word alignment), honestly
    refuses compressed/stereo/8-bit shapes, and the Spark kernels
    (audio_features / downsample_audio) run real samples end-to-end with
    corruption flagging — no soundfile/ffmpeg anywhere."""
    import struct

    import numpy as np

    from sql_data_warehouse_analytics_project_spark.llm import multimodal as mm

    s = ((np.arange(200, dtype=np.int64) * 131 + 7) % 65536 - 32768).astype(
        np.int16
    )
    back, rate = mm.decode_wav(mm.encode_wav(s, 16000))
    assert rate == 16000 and (back == s).all()

    # chunk-list tolerance: a LIST chunk (odd length → word-aligned pad)
    # before fmt/data must be skipped, like real recorder output
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    pcm = np.array([5, -3, 0, 7], dtype=np.int16).tobytes()
    body = (b"WAVE"
            + b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # pad
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(pcm)) + pcm)
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    got, rate = mm.decode_wav(wav)
    assert rate == 8000 and list(got) == [5, -3, 0, 7]

    # honest refusals: stereo, 8-bit, and float tags raise
    for tag, nch, depth in ((1, 2, 16), (1, 1, 8), (3, 1, 16)):
        badfmt = struct.pack("<HHIIHH", tag, nch, 8000, 16000, 2, depth)
        bad = (b"RIFF" + struct.pack("<I", 28 + len(pcm)) + b"WAVE"
               + b"fmt " + struct.pack("<I", len(badfmt)) + badfmt
               + b"data" + struct.pack("<I", len(pcm)) + pcm)
        with pytest.raises(NotImplementedError):
            mm.decode_wav(bad)
    with pytest.raises(ValueError):
        mm.decode_wav(b"CORRUPT")

    # out-of-int16-range samples raise instead of silently wrapping
    with pytest.raises(ValueError):
        mm.encode_wav([0, 40000])
    with pytest.raises(ValueError):
        mm.encode_wav([-32769])

    # a short (malformed) fmt chunk raises the documented ValueError,
    # not struct.error
    shortfmt = struct.pack("<HHII", 1, 1, 8000, 16000)  # 12 bytes < 16
    bad = (b"RIFF" + struct.pack("<I", 24 + len(pcm)) + b"WAVE"
           + b"fmt " + struct.pack("<I", len(shortfmt)) + shortfmt
           + b"data" + struct.pack("<I", len(pcm)) + pcm)
    with pytest.raises(ValueError, match="malformed fmt"):
        mm.decode_wav(bad)

    # Spark kernels over real WAVs: features match the closed form
    docs = spark.range(1, 40).select(F.col("id").alias("doc_id"))
    media = mm.synthesize_wav_media(docs)
    feats = {r.media_id: r for r in
             mm.audio_features(media, decode="wav").collect()}
    i = 3
    n = 64 + i % 32
    samples = [(i * 7 + k * 13) % 4096 - 2048 for k in range(n)]
    r = feats[i]
    assert r.n_samples == n and r.sample_rate == 8000
    assert r.duration_ms == n * 1000 // 8000
    assert r.amp_sum == sum(samples)
    assert r.energy == sum(v * v for v in samples)
    assert r.amp_min == min(samples) and r.amp_max == max(samples)
    assert r.zero_crossings == sum(
        1 for a, b in zip(samples, samples[1:]) if a * b < 0
    )

    # decimation round trip: every 4th sample at rate/4
    down = {r.media_id: r for r in
            mm.downsample_audio(media, factor=4).collect()}
    d3, _ = mm.decode_wav(bytes(down[i].content))
    assert list(d3) == samples[::4]
    assert down[i].sample_rate == 2000 and down[i].n_samples == len(samples[::4])


def test_jpeg_codec_roundtrips_and_guards(spark):
    """Round-10 stretch: the dependency-free baseline JPEG codec.
    Per-block-constant grayscale images round-trip EXACTLY (the qd67
    oracle property); arbitrary gray/RGB images round-trip within
    coefficient-rounding tolerance; ZRL/EOB Huffman paths and restart
    intervals are exercised directly; progressive/arithmetic/subsampled
    shapes refuse honestly; the Spark pixel-stats kernel flags corrupt
    rows."""
    import struct

    import numpy as np

    from sql_data_warehouse_analytics_project_spark.llm import multimodal as mm

    # exactness on per-block-constant images with partial edge blocks
    for i in (3, 12, 45):
        h, w = 17 + i % 5, 19 + i % 8
        by, bx = np.indices((h, w)) // 8
        pix = ((i * 5 + bx * 3 + by * 7) % 256).astype(np.uint8)
        arr = mm.decode_jpeg(mm.encode_jpeg_gray(pix))
        assert arr.shape == (h, w, 1) and (arr[:, :, 0] == pix).all()

    # arbitrary gray image: unit-quant JPEG is lossy only through
    # coefficient rounding — error ≤ a few counts
    busy = ((np.arange(24 * 40).reshape(24, 40) * 37) % 256).astype(np.uint8)
    dec = mm.decode_jpeg(mm.encode_jpeg_gray(busy))[:, :, 0].astype(np.int64)
    assert np.abs(dec - busy.astype(np.int64)).max() <= 2

    # RGB: encoder converts to YCbCr, decoder back — ±3 from the two
    # rounded color transforms
    rgb = np.stack(
        [
            (np.arange(20 * 28).reshape(20, 28) * 11) % 256,
            (np.arange(20 * 28).reshape(20, 28) * 7 + 30) % 256,
            (np.arange(20 * 28).reshape(20, 28) * 3 + 90) % 256,
        ],
        axis=2,
    ).astype(np.uint8)
    dec3 = mm.decode_jpeg(mm.encode_jpeg(rgb)).astype(np.int64)
    assert dec3.shape == (20, 28, 3)
    assert np.abs(dec3 - rgb.astype(np.int64)).max() <= 3

    # Huffman block coding unit check: a coefficient pattern that forces
    # ZRL (16-zero runs) and EOB encodes and decodes bit-identically
    dc_codes = mm._huff_codes(mm._DC_BITS, mm._DC_VALS)
    ac_codes = mm._huff_codes(mm._AC_BITS, mm._AC_VALS)
    dc_tbl = {(c, l): s for s, (c, l) in dc_codes.items()}
    ac_tbl = {(c, l): s for s, (c, l) in ac_codes.items()}
    coefs = np.zeros(64, dtype=np.int64)
    coefs[0] = -57          # negative DC diff path
    coefs[1] = 3
    coefs[40] = -1          # > 2 ZRLs before it
    coefs[63] = 7           # last slot → no EOB after it
    bw = mm._JpegBitWriter()
    mm._encode_block(bw, coefs, 0, dc_codes, ac_codes)
    rd = mm._JpegBitReader(bw.flush(), 0)
    got, dc = mm._decode_block(rd, 0, dc_tbl, ac_tbl)
    assert dc == -57 and (got == coefs).all()

    # restart intervals: hand-built 8x16 stream with DRI=1 and an RST0
    # between the two MCUs; DC predictors reset at the marker
    blk = np.full((8, 8), 200, np.uint8)
    one = mm.encode_jpeg_gray(np.hstack([blk, blk]))
    base = mm.decode_jpeg(one)

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    zz = np.array(mm._ZIGZAG)
    d = mm._dct_matrix()
    head = (
        b"\xff\xd8"
        + seg(0xDB, bytes([0x00]) + bytes([1] * 64))
        + seg(0xC0, struct.pack(">BHHB", 8, 8, 16, 1) + bytes([1, 0x11, 0]))
        + seg(0xC4, bytes([0x00]) + bytes(mm._DC_BITS) + bytes(mm._DC_VALS))
        + seg(0xC4, bytes([0x10]) + bytes(mm._AC_BITS) + bytes(mm._AC_VALS))
        + seg(0xDD, struct.pack(">H", 1))
        + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    )
    body = b""
    for _ in range(2):
        bw = mm._JpegBitWriter()
        co = (d @ (blk.astype(np.float64) - 128.0) @ d.T).reshape(64)[zz]
        ints = (np.floor(np.abs(co) + 0.5) * np.sign(co)).astype(np.int64)
        mm._encode_block(bw, ints, 0, dc_codes, ac_codes)  # predictor reset
        body += bw.flush() + b"\xff\xd0"
    stream = head + body[:-2] + b"\xff\xd9"  # last RST replaced by EOI
    got = mm.decode_jpeg(stream)
    assert (got == base).all() and (got[:, :, 0] == 200).all()

    # honest refusals
    good = mm.encode_jpeg_gray(blk)
    with pytest.raises(ValueError):
        mm.decode_jpeg(b"CORRUPT")
    # C0→C2 byte-patching a BASELINE stream yields an INVALID progressive
    # scan (DC band with se=63) — rejected as corrupt, not decoded
    with pytest.raises(ValueError, match="progressive scan"):
        mm.decode_jpeg(good.replace(b"\xff\xc0", b"\xff\xc2", 1))
    # sampling factors are irrelevant in a single-component scan
    # (A.2.2) — a gray file whose SOF claims 2x2 decodes identically
    sub = bytearray(good)
    sub[good.index(b"\xff\xc0") + 11] = 0x22
    assert (mm.decode_jpeg(bytes(sub)) == mm.decode_jpeg(good)).all()
    # factors beyond 2x2 refuse honestly
    sub3 = bytearray(good)
    sub3[good.index(b"\xff\xc0") + 11] = 0x33
    with pytest.raises(NotImplementedError, match="beyond 2x2"):
        mm.decode_jpeg(bytes(sub3))
    trunc = good[: len(good) // 2]
    with pytest.raises((ValueError, NotImplementedError)):
        mm.decode_jpeg(trunc)

    # spec-valid marker-stream variants third-party encoders emit:
    # 0xFF fill-byte runs before a marker (B.1.1.2) and the standalone
    # length-less TEM marker must not abort the parse
    ref = mm.decode_jpeg(good)
    padded = good[:2] + b"\xff\xff\xff" + good[2:]
    assert (mm.decode_jpeg(padded) == ref).all()
    tem = good[:2] + b"\xff\x01" + good[2:]
    assert (mm.decode_jpeg(tem) == ref).all()

    # 4:2:0 (round 11): achromatic per-16x16-constant RGB is a LOSSLESS
    # fixed point under unit quant — partial MCUs included (37x51)
    ty, tx = np.indices((37, 51)) // 16
    v420 = ((ty * 7 + tx * 3) * 29 + 40) % 256
    rgb420 = np.stack([v420, v420, v420], axis=2).astype(np.uint8)
    d420 = mm.decode_jpeg(mm.encode_jpeg(rgb420, subsampling="420"))
    assert d420.shape == (37, 51, 3) and (d420 == rgb420).all()
    # arbitrary smooth color content survives 4:2:0 within chroma-
    # averaging tolerance
    yy, xx = np.indices((40, 56))
    img = np.stack(
        [(yy * 2 + 10) % 256, (xx * 2 + 30) % 256, (yy + xx) % 256], axis=2
    ).astype(np.uint8)
    err420 = np.abs(
        mm.decode_jpeg(mm.encode_jpeg(img, subsampling="420")).astype(int)
        - img.astype(int)
    ).max()
    assert err420 <= 16
    with pytest.raises(ValueError, match="subsampling"):
        mm.encode_jpeg(img, subsampling="422")

    # progressive (round 11): identical quantized coefficients ⇒ the
    # SOF2 decode must equal the baseline decode pixel-for-pixel, for
    # gray/RGB/4:2:0 and under a nonuniform quant table (exercising DC
    # successive approximation, AC band scans, EOB-runs, refinement
    # correction bits)
    rng = np.random.default_rng(11)
    g = rng.integers(0, 256, (29, 37), dtype=np.uint8)
    assert (mm.decode_jpeg(mm.encode_jpeg(g, progressive=True))
            == mm.decode_jpeg(mm.encode_jpeg(g))).all()
    c = rng.integers(0, 256, (37, 51, 3), dtype=np.uint8)
    for subm in ("444", "420"):
        assert (mm.decode_jpeg(
            mm.encode_jpeg(c, subsampling=subm, progressive=True)
        ) == mm.decode_jpeg(mm.encode_jpeg(c, subsampling=subm))).all()
    qt = np.clip(np.arange(64).reshape(8, 8) + 2, 2, 40)
    sm = np.outer(np.linspace(0, 255, 40), np.ones(48)).astype(np.uint8)
    assert (mm.decode_jpeg(mm.encode_jpeg(sm, quant=qt, progressive=True))
            == mm.decode_jpeg(mm.encode_jpeg(sm, quant=qt))).all()
    # block-constant + unit quant: progressive is ALSO lossless
    prog = mm.decode_jpeg(mm.encode_jpeg(blk, progressive=True))
    assert (prog[:, :, 0] == blk).all()

    # Spark kernel end-to-end: stats match the closed form, corrupt
    # rows flagged
    docs = spark.range(1, 30).select(F.col("id").alias("doc_id"))
    media = mm.synthesize_jpeg_media(docs)
    stats = {r.media_id: r for r in
             mm.image_pixel_stats(media, decode="jpeg").collect()}
    i = 7
    h, w = 17 + i % 5, 19 + i % 8
    by, bx = np.indices((h, w)) // 8
    vals = (i * 5 + bx * 3 + by * 7) % 256
    r = stats[i]
    assert (r.width, r.height, r.channels) == (w, h, 1)
    assert r.pixel_sum == int(vals.sum())
    assert r.pixel_min == int(vals.min()) and r.pixel_max == int(vals.max())
    assert r.decode_ok is True


def test_dsir_importance_weights_hand_check(spark):
    """DSIR (round 9): target-looking documents must outscore
    corpus-average ones, the weights must match an independent pure-Python
    replay (hashlib md5 bucketing + the same smoothed log-ratio math),
    and dsir_select's top-k must honor the (weight desc, id) tie-break."""
    import hashlib
    import math

    from sql_data_warehouse_analytics_project_spark.llm import sampling

    rows = [
        (1, "the quick brown fox jumps over the lazy dog", True),
        (2, "the quick brown fox leaps over the lazy cat", True),
        (3, "der schnelle braune fuchs springt sehr hoch", False),
        (4, "the quick brown fox jumps over the lazy dog", False),
        (5, "ein kleiner hund schlaeft unter dem baum dort", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    got = {
        r.doc_id: r
        for r in sampling.dsir_importance_weights(
            df, "doc_id", F.col("is_t"), num_buckets=64
        ).collect()
    }

    # independent replay
    def buckets(text):
        toks = [t for t in __import__("re").split(r"[^a-z0-9]+", text.lower()) if t]
        out = []
        for a, b in zip(toks, toks[1:]):
            h = hashlib.md5(f"dsir|{a} {b}".encode()).hexdigest()
            out.append(int(h[:15], 16) % 64)
        return out

    ct: dict[int, int] = {}
    cr: dict[int, int] = {}
    for _id, text, is_t in rows:
        for b in buckets(text):
            cr[b] = cr.get(b, 0) + 1
            if is_t:
                ct[b] = ct.get(b, 0) + 1
    tr, tt = sum(cr.values()), sum(ct.values())
    for _id, text, _ in rows:
        bs = buckets(text)
        lrs = [
            math.log((ct.get(b, 0) + 0.5) / (tt + 0.5 * 64))
            - math.log((cr.get(b, 0) + 0.5) / (tr + 0.5 * 64))
            for b in bs
        ]
        want = round(sum(lrs) / len(lrs), 6)
        assert got[_id].weight == pytest.approx(want, abs=2e-6)
        assert got[_id].n_features == len(bs)

    # doc 4 is textually identical to target doc 1 → same weight; both
    # must beat the German docs
    assert got[4].weight == got[1].weight
    assert min(got[1].weight, got[2].weight) > max(got[3].weight, got[5].weight)

    sel = sampling.dsir_select(
        sampling.dsir_importance_weights(df, "doc_id", F.col("is_t"), num_buckets=64),
        "doc_id",
        2,
    ).collect()
    # expected top-2 from the replayed weights, (weight desc, id asc) —
    # docs 1 and 4 are textually identical so their tie is real and the
    # id tie-break decides which survives the cut
    order = sorted(got, key=lambda i: (-got[i].weight, i))
    assert sorted(r.doc_id for r in sel) == sorted(order[:2])


def test_duplicate_span_stats_interval_merge(spark):
    """Span dedup (round 9): shared runs longer than the window merge into
    one covered interval (10 shared tokens = 3 windows → 10 covered
    tokens, not 24); unique and short documents report zero."""
    from sql_data_warehouse_analytics_project_spark.llm import dedup as dd

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (1, shared + " unique tail one two three"),
        (2, "prefix words here " + shared),
        (3, "completely different text with no duplicated spans at all ok"),
        (4, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           dd.duplicate_span_stats(df, "doc_id", span=8).collect()}
    # 10 shared tokens → 3 sliding 8-windows per doc, union = 10 tokens
    assert got[1].dup_spans == 3 and got[1].dup_tokens == 10
    assert got[2].dup_spans == 3 and got[2].dup_tokens == 10
    assert got[1].dup_fraction == pytest.approx(10 / 15, abs=1e-6)
    assert got[3].dup_spans == 0 and got[3].dup_tokens == 0
    assert got[4].n_tokens == 2 and got[4].dup_fraction == 0.0


def test_quality_classifier_auc_floor_and_contracts(spark):
    """Round-10: the hashed-ngram quality classifier must actually
    LEARN — AUC ≥ 0.9 separating the en slice of the smoke corpus (the
    DSIR-ceiling parity the NB-init buys; plain GD from zero measured
    ~0.73) — and honor its contracts: deterministic retrain, fixed-point
    integer weights, empty-doc exclusion, refusals. Value-level training
    equality vs DuckDB is the qd66 gate; this pins the semantics."""
    import bisect

    from sql_data_warehouse_analytics_project_spark.llm import text as tx
    from sql_data_warehouse_analytics_project_spark.sources.readers import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    model = tx.train_quality_classifier(
        docs, "doc_id", F.col("lang") == "en",
        num_buckets=4096, iters=3, lr=5.0,
    )
    assert model["n_docs"] == docs.count()
    assert all(isinstance(v, int) for v in model["w_q"].values())
    assert isinstance(model["b_q"], int)

    scored = tx.quality_classifier_scores(docs, model, "doc_id")
    joined = scored.join(
        docs.select("doc_id", (F.col("lang") == "en").alias("y")), "doc_id"
    ).collect()
    pos = sorted(r.score for r in joined if r.y)
    neg = sorted(r.score for r in joined if not r.y)
    auc = sum(
        bisect.bisect_left(neg, s)
        + 0.5 * (bisect.bisect_right(neg, s) - bisect.bisect_left(neg, s))
        for s in pos
    ) / (len(pos) * len(neg))
    assert auc >= 0.9, f"classifier failed the AUC floor: {auc:.4f}"

    # deterministic: retraining reproduces the model bit-for-bit
    again = tx.train_quality_classifier(
        docs, "doc_id", F.col("lang") == "en",
        num_buckets=4096, iters=3, lr=5.0,
    )
    assert again["w_q"] == model["w_q"] and again["b_q"] == model["b_q"]

    # docs that tokenize to nothing carry no features → excluded from
    # training and scoring (the qd51/qd60 convention)
    weird = spark.createDataFrame(
        [(1, "alpha beta alpha", True), (2, "!!!", False), (3, None, True)],
        "doc_id long, text string, y boolean",
    )
    m2 = tx.train_quality_classifier(weird, "doc_id", F.col("y"), iters=1)
    assert m2["n_docs"] == 1
    assert tx.quality_classifier_scores(
        weird, m2, "doc_id"
    ).count() == 1

    # the .5 rounding boundary helper matches engine semantics
    assert tx._round_half_away(0.5) == 1
    assert tx._round_half_away(-0.5) == -1
    assert tx._round_half_away(2.5) == 3
    assert tx._round_half_away(-2.3) == -2

    with pytest.raises(ValueError):
        tx.train_quality_classifier(docs, "doc_id", F.lit(True), iters=0)
    with pytest.raises(ValueError):
        tx.train_quality_classifier(docs, "doc_id", F.lit(True), num_buckets=1)


def test_train_unigram_learns_pieces_and_encodes(spark):
    """Round-10: unigram-LM training (`unigram.train_unigram`, Kudo
    2018). On a corpus of repeated morphemes the EM must surface them as
    multi-char pieces; encode must Viterbi-segment with them, round-trip
    every document (concat(pieces) == concat(tokens)), preserve
    empty-tokenizing docs with zero counts, and escape OOV characters at
    the floor score. The qd65 gate separately replays training against
    an independent pure-Python reference — this test pins the human-
    readable behavior."""
    from sql_data_warehouse_analytics_project_spark.llm import unigram as ug

    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "widest widest widest aaa aaa",
        "the cat sat on the mat the cat",
        "lowering the newest widest cat",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = ug.train_unigram(df, vocab_size=8, max_piece_len=4, em_iters=3)
    rows = got["pieces"].collect()
    model = {r.piece: (r["count"], r.logp) for r in rows}

    # every corpus character survives (never pruned), budgeted multis
    chars = sorted(set("".join(texts).replace(" ", "")))
    assert set(chars) <= set(model)
    multis = [p for p in model if len(p) > 1]
    assert 0 < len(multis) <= 8
    # the dominant morphemes are IN the learned vocabulary
    assert {"low", "est", "new"} <= set(multis)
    # counts are integers, logp consistent with the floored distribution
    import math

    floored = {p: (max(c, 1) if len(p) == 1 else c) for p, (c, _) in model.items()}
    total = sum(c for c in floored.values() if c > 0)
    for p, (c, lp) in model.items():
        assert lp == math.log(floored[p] / total)

    # encode: segmentation uses the learned pieces and round-trips
    enc = {
        r.doc_id: r
        for r in ug.unigram_encode(df, "doc_id", "text", got["pieces"]).collect()
    }
    assert list(enc[0].pieces) == ["low"] * 5
    import re

    for i, t in enumerate(texts):
        toks = [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
        assert "".join(enc[i].pieces) == "".join(toks)
        assert enc[i].n_tokens == len(toks)

    # empty + OOV contracts
    extra = spark.createDataFrame(
        [(90, "!!!"), (91, None), (92, "zq")], "doc_id long, text string"
    )
    enc2 = {
        r.doc_id: r
        for r in ug.unigram_encode(extra, "doc_id", "text", got["pieces"]).collect()
    }
    for i in (90, 91):
        r = enc2[i]
        assert (r.n_tokens, r.n_pieces, list(r.pieces), r.logp) == (0, 0, [], 0.0)
    assert list(enc2[92].pieces) == ["z", "q"] and enc2[92].logp < -1e8

    # refusals
    with pytest.raises(ValueError):
        ug.train_unigram(df, vocab_size=0)
    with pytest.raises(ValueError):
        ug.train_unigram(df, max_piece_len=1)


def test_duplicate_span_profile_any_length_exact(spark):
    """Round-10: `duplicate_span_profile` must report, per minimum match
    length, EXACTLY the tokens inside cross-doc shared runs ≥ that
    length — including runs whose length is NOT a multiple of any window
    width (the non-aligned case a fixed window was suspected of
    undercounting; stride-1 unions make it exact). Hand-built fixture:
    a 20-token shared run, a doc with two disjoint shared runs, and an
    empty doc."""
    from sql_data_warehouse_analytics_project_spark.llm import dedup as dd

    run20 = " ".join(f"s{i}" for i in range(20))  # the shared 20-token run
    run9 = " ".join(f"t{i}" for i in range(9))  # a second shared run
    rows = [
        # doc1: 5 unique + 20 shared + 5 unique = 30 tokens
        (1, "a1 a2 a3 a4 a5 " + run20 + " a6 a7 a8 a9 a10"),
        # doc2: 20 shared + 5 unique = 25 tokens
        (2, run20 + " b1 b2 b3 b4 b5"),
        # doc3: 9-token shared run + 3 unique + SAME 9-run again = 21
        (3, run9 + " c1 c2 c3 " + run9),
        # doc4: the other copy of the 9-run (8 unique + 9 shared = 17)
        (4, "d1 d2 d3 d4 d5 d6 d7 d8 " + run9),
        # doc5: too short to hold any window, shares nothing
        (5, "e1 e2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    prof = {
        (r.doc_id, r.min_len): r
        for r in dd.duplicate_span_profile(
            df, "doc_id", min_lens=(8, 16, 32)
        ).collect()
    }
    # grid: every (doc, threshold) pair present, zeros included
    assert set(prof) == {(d, w) for d in (1, 2, 3, 4, 5) for w in (8, 16, 32)}

    # the 20-token run: covered exactly at thresholds 8 and 16 (20 is a
    # multiple of neither), absent at 32; window counts are L-w+1
    for doc, n in ((1, 30), (2, 25)):
        assert prof[(doc, 8)].dup_tokens == 20
        assert prof[(doc, 8)].dup_spans == 13
        assert prof[(doc, 16)].dup_tokens == 20
        assert prof[(doc, 16)].dup_spans == 5
        assert prof[(doc, 32)].dup_tokens == 0
        assert prof[(doc, 8)].n_tokens == n
        assert prof[(doc, 8)].dup_fraction == round(20 / n, 6)

    # doc3 holds the 9-run twice (disjoint intervals → union 18); doc4
    # once; nothing reaches threshold 16
    assert prof[(3, 8)].dup_tokens == 18 and prof[(3, 8)].dup_spans == 4
    assert prof[(4, 8)].dup_tokens == 9 and prof[(4, 8)].dup_spans == 2
    assert prof[(3, 16)].dup_tokens == 0 and prof[(4, 16)].dup_tokens == 0

    # the empty-ish doc reports zeros at every threshold
    for w in (8, 16, 32):
        r = prof[(5, w)]
        assert (r.dup_spans, r.dup_tokens, r.dup_fraction) == (0, 0, 0.0)

    # profile ≡ fixed-width stats at each threshold (shared-core parity:
    # the multi-width pass must not disturb single-width semantics)
    for w in (8, 16, 32):
        fixed = {
            r.doc_id: (r.dup_spans, r.dup_tokens)
            for r in dd.duplicate_span_stats(df, "doc_id", span=w).collect()
        }
        got = {d: (prof[(d, w)].dup_spans, prof[(d, w)].dup_tokens)
               for d in (1, 2, 3, 4, 5)}
        assert got == fixed

    # refusals
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dd.duplicate_span_profile(df, "doc_id", min_lens=())
    with _pytest.raises(ValueError):
        dd.duplicate_span_profile(df, "doc_id", min_lens=(0, 8))


def test_remove_duplicate_spans_cuts_exact_intervals(spark):
    """Round-11: `remove_duplicate_spans` must CUT exactly the covered
    token intervals the profile measures — non-aligned run boundaries,
    two disjoint runs in one document, a fully-covered document (kept
    as an EMPTY row, never dropped), and an untouched short document."""
    import pytest as _pytest

    from sql_data_warehouse_analytics_project_spark.llm import dedup as dd

    run20 = " ".join(f"s{i}" for i in range(20))
    run9 = " ".join(f"t{i}" for i in range(9))
    rows = [
        (1, "a1 a2 a3 a4 a5 " + run20 + " a6 a7 a8 a9 a10"),
        (2, run20 + " b1 b2 b3 b4 b5"),
        (3, run9 + " c1 c2 c3 " + run9),
        (4, "d1 d2 d3 d4 d5 d6 d7 d8 " + run9),
        (5, "e1 e2"),
        (6, run20),  # fully covered → empty text, row preserved
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in dd.remove_duplicate_spans(df, "doc_id", min_len=8).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 6}  # every row preserved

    # exact kept text: interval boundaries are NOT window-aligned
    # (20 and 9 are multiples of neither 8 nor 16)
    assert out[1].text == "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    assert out[2].text == "b1 b2 b3 b4 b5"
    assert out[3].text == "c1 c2 c3"  # both disjoint 9-runs cut
    assert out[4].text == "d1 d2 d3 d4 d5 d6 d7 d8"
    assert out[5].text == "e1 e2"  # too short for any window: untouched
    assert out[6].text == ""  # empty-doc convention

    # n_removed_tokens ties to the profile's dup_tokens per doc
    prof = {
        r.doc_id: r.dup_tokens
        for r in dd.duplicate_span_stats(df, "doc_id", span=8).collect()
    }
    for d in out:
        assert out[d].n_removed_tokens == prof[d]
        assert out[d].n_tokens - out[d].n_removed_tokens == len(
            out[d].text.split()
        ) if out[d].text else True

    with _pytest.raises(ValueError):
        dd.remove_duplicate_spans(df, "doc_id", min_len=0)


def test_train_bpe_matches_reference_and_encode(spark):
    """BPE training (round 9): the Spark merge loop (JVM aggregate
    expressions) must reproduce an independent pure-Python Sennrich
    reference — merge table AND final segmentations — on a corpus with
    overlap cases ("aaa" under (a,a)) and frequency ties; bpe_encode
    round-trips in-vocab text and falls back to chars for OOV."""
    texts = [
        "low low low low low",
        "lower lower newest newest",
        "newest newest newest newest",
        "widest widest widest aaa aaa",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    from sql_data_warehouse_analytics_project_spark.llm import vocab as vb

    pinned_before = len(spark.sparkContext._jsc.getPersistentRDDs())
    got = vb.train_bpe(df, num_merges=8, min_freq=2)

    # independent reference (overlap-counted stats, greedy merge)
    import re

    words: dict[str, int] = {}
    for t in texts:
        for w in re.split(r"[^a-z0-9]+", t.lower()):
            if w:
                words[w] = words.get(w, 0) + 1
    segs = {w: tuple(w) for w in words}
    want_merges = []
    for rank in range(1, 9):
        pc: dict = {}
        for w, cnt in words.items():
            s = segs[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + cnt
        if not pc:
            break
        (s1, s2), freq = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if freq < 2:
            break
        want_merges.append((rank, s1, s2, freq))
        m = s1 + s2
        for w, s in segs.items():
            out, prev = [], None
            for x in s:
                if prev == s1 and x == s2:
                    out.append(m)
                    prev = None
                else:
                    if prev is not None:
                        out.append(prev)
                    prev = x
            if prev is not None:
                out.append(prev)
            segs[w] = tuple(out)

    assert [(r.rank, r.s1, r.s2, r.freq) for r in
            got["merges"].orderBy("rank").collect()] == want_merges
    assert got["n_merges"] == len(want_merges)
    pieces = {r.w: list(r.pieces) for r in got["word_pieces"].collect()}
    assert pieces == {w: list(s) for w, s in segs.items()}

    # encode: in-vocab text concatenates trained pieces in order; OOV
    # word ("zzz") falls back to chars
    enc = vb.bpe_encode(
        spark.createDataFrame([(9, "newest lower zzz")], "doc_id long, text string"),
        "doc_id", "text", got["word_pieces"],
    ).collect()[0]
    assert enc.n_tokens == 3
    assert list(enc.pieces) == list(segs["newest"]) + list(segs["lower"]) + ["z", "z", "z"]

    # empty-tokenizing documents are PRESERVED with zero counts (the
    # duplicate_span_stats convention), not dropped by the explode
    enc2 = {
        r.doc_id: r
        for r in vb.bpe_encode(
            spark.createDataFrame(
                [(1, "newest"), (2, "!!! ???"), (3, None)],
                "doc_id long, text string",
            ),
            "doc_id", "text", got["word_pieces"],
        ).collect()
    }
    assert set(enc2) == {1, 2, 3}
    assert enc2[1].n_tokens == 1 and list(enc2[1].pieces) == list(segs["newest"])
    for empty_id in (2, 3):
        r = enc2[empty_id]
        assert (r.n_tokens, r.n_pieces, list(r.pieces)) == (0, 0, [])

    # the merge loop must RELEASE each iteration's checkpointed blocks
    # (Dataset.unpersist is a no-op for localCheckpoint storage): after
    # training, at most the final word_pieces frame may still be pinned
    # beyond whatever earlier tests left in this shared session
    pinned = len(spark.sparkContext._jsc.getPersistentRDDs()) - pinned_before
    assert pinned <= 1, f"train_bpe leaked {pinned} checkpointed RDDs"
