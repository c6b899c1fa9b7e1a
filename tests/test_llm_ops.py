"""Dedup / similarity / text / multimodal operators (SURVEY §2.10)."""

import hashlib

import pytest
from pyspark.sql import functions as F

from hdfs_stream_processing_spark.operators.dedup import (
    dedup_exact,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signature,
    minhash_signature_wide,
    simhash,
)
from hdfs_stream_processing_spark.operators.multimodal import (
    attach_payload,
    decode_image,
    payload_meta,
)
from hdfs_stream_processing_spark.operators.similarity import (
    lsh_bucket_topk,
    similarity_topk,
)
from hdfs_stream_processing_spark.operators.text import (
    explode_edge_ngrams,
    text_stats,
)
from tests.conftest import SF_DIR


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dedup_exact_survivor_is_deterministic(spark):
    df = spark.createDataFrame(
        [(3, "k"), (1, "k"), (2, "k"), (9, "j")], "id bigint, key string"
    )
    # survivor must be min(id) regardless of input partitioning
    for parts in (1, 7):
        out = dedup_exact(df.repartition(parts), ["key"], [F.col("id").asc()])
        assert sorted(r["id"] for r in out.collect()) == [1, 9]


def test_minhash_identical_docs_identical_signatures(spark):
    df = _docs(spark, [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps")])
    sig = minhash_signature(df, "doc_id", "text", num_hashes=8, shingle_n=2)
    s1 = {r["seed"]: r["minhash"] for r in sig.where("doc_id = 1").collect()}
    s2 = {r["seed"]: r["minhash"] for r in sig.where("doc_id = 2").collect()}
    assert s1 == s2 and len(s1) == 8


def test_lsh_finds_near_duplicates(spark):
    df = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near-dup of 1
            (3, "completely different words entirely unrelated content here now"),
        ],
    )
    sig = minhash_signature_wide(df, "doc_id", "text", num_hashes=8, shingle_n=2)
    pairs = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sig, "doc_id").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_identical_is_one(spark):
    df = _docs(spark, [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")])
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           jaccard_pairs(df, "doc_id", "text", shingle_n=1, min_jaccard=0.0).collect()}
    assert out[(1, 2)] == 1.0
    assert (1, 3) not in out  # no shared shingle → no pair at all


def test_simhash_close_for_near_dups(spark):
    df = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "totally unrelated vocabulary everywhere something else again"),
        ],
    )
    fp = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id", "text").collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(fp[1], fp[2]) < ham(fp[1], fp[3])


def test_similarity_topk_exact(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),   # closest to 0
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),  # antipode of 0
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = similarity_topk(df, queries_filter=F.col("vec_id") == 0, k=3).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [1, 2, 3]
    assert out[0]["cosine"] <= 1.0 and all(r["query_id"] == 0 for r in out)


def test_lsh_buckets_group_similar_vectors(spark):
    # two tight clusters at opposite poles: bucketed ANN must pair
    # within clusters, never across
    rows = [(i, [1.0, 0.01 * i, 0.0]) for i in range(5)] + [
        (10 + i, [-1.0, 0.0, 0.01 * i]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = lsh_bucket_topk(df, num_planes=4, k=3).collect()
    assert len(out) > 0
    for r in out:
        same_cluster = (r["query_id"] < 5) == (r["neighbor_id"] < 5)
        assert same_cluster, (r["query_id"], r["neighbor_id"])


def test_edge_ngrams_match_es_analyzer(spark):
    df = _docs(spark, [(1, "Hello hi")])
    got = {(r["token"], r["ngram"]) for r in explode_edge_ngrams(df, "doc_id", "text").collect()}
    # lowercase + min_gram 2 .. max_gram 10 prefixes (convert-to-elasticsearch.py:32-39)
    assert got == {("hello", "he"), ("hello", "hel"), ("hello", "hell"),
                   ("hello", "hello"), ("hi", "hi")}


def test_ascii_fold_matches_es_analyzer(spark):
    """asciifolding parity: accented text tokenizes as ES would index it
    (convert-to-elasticsearch.py:32-39), Spark and DuckDB agree char for
    char, and the search side folds the query string too."""
    import duckdb

    from hdfs_stream_processing_spark.operators.text import (
        build_search_index,
        search_prefix,
    )
    from hdfs_stream_processing_spark.queries import sql_fold

    text = "Café Über naïve Groß señor ÉCLAIR"
    df = _docs(spark, [(1, text)])
    rows = explode_edge_ngrams(df, "doc_id", "text").collect()
    # reference filter ORDER is lowercase → edge_ngram → asciifolding:
    # tokens stay unfolded, every emitted gram is folded
    toks = {r["token"] for r in rows}
    assert toks == {"café", "über", "naïve", "groß", "señor", "éclair"}
    grams = {r["ngram"] for r in rows}
    assert {"cafe", "uber", "naive", "senor", "eclair"} <= grams
    # the ß-order fingerprint: grams are cut BEFORE the 1:2 ß→ss fold,
    # so 'groß' indexes gr/gro/gross — never 'gros' (exactly as ES does)
    gross_grams = {r["ngram"] for r in rows if r["token"] == "groß"}
    assert gross_grams == {"gr", "gro", "gross"}

    # engine parity: DuckDB's sql_fold produces the identical folded string
    duck = duckdb.connect().execute(
        f"SELECT {sql_fold('lower(?)')}", [text]
    ).fetchone()[0]
    assert duck == "cafe uber naive gross senor eclair"

    # search side: accented query prefix folds before the index lookup
    idx = build_search_index(df, "doc_id", "text")
    hits = search_prefix(idx, "doc_id", "caf").collect()
    assert len(hits) == 1 and hits[0]["n_hits"] == 1
    hits_accented = search_prefix(idx, "doc_id", "CAFÉ").collect()
    assert len(hits_accented) == 1


def test_text_stats_exact(spark):
    df = _docs(spark, [(1, "the cat sat")])
    r = text_stats(df, "doc_id", "text").collect()[0]
    assert r["n_words"] == 3 and r["n_distinct_words"] == 3
    assert r["avg_word_len"] == (3 + 3 + 3) / 3.0
    assert r["stopword_ratio"] == 1.0 / 3.0


def test_payload_meta_md5_matches_hashlib(spark):
    df = _docs(spark, [(1, "hello world")])
    r = payload_meta(attach_payload(df, "doc_id", "text")).collect()[0]
    assert r["n_bytes"] == len(b"hello world")
    assert r["payload_md5"] == hashlib.md5(b"hello world").hexdigest()


def test_bmp_codec_roundtrip_padded_and_unpadded():
    """encode_bmp/decode_bmp are exact inverses for both row layouts:
    W=5 (15-byte rows, 1-byte pad) and W=4 (12-byte rows, no pad)."""
    import numpy as np
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    for w, h in ((5, 3), (4, 2), (7, 1), (1, 6)):
        arr = (
            np.arange(h * w * 3, dtype=np.int64) * 37 % 256
        ).astype(np.uint8).reshape(h, w, 3)
        out = decode_bmp(encode_bmp(arr))
        assert out.shape == (h, w, 3)
        assert (out == arr).all(), (w, h)
    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"PNG-ish garbage that is clearly not a bitmap")
    # 16-bpp header must be rejected, not mis-parsed
    good = encode_bmp(np.zeros((2, 2, 3), dtype=np.uint8))
    bad = bytearray(good)
    bad[28] = 16
    with pytest.raises(ValueError, match="unsupported"):
        decode_bmp(bytes(bad))


def test_decode_image_real_bmp_payloads(spark):
    """decode_image now REALLY decodes (VERDICT r8 #3): staged BMP
    payloads come back with exact dims and raw top-down RGB bytes."""
    import numpy as np
    from hdfs_stream_processing_spark.operators.multimodal import encode_bmp

    imgs = {
        1: (np.arange(3 * 5 * 3) % 256).astype(np.uint8).reshape(3, 5, 3),
        2: (np.arange(2 * 4 * 3) % 251).astype(np.uint8).reshape(2, 4, 3),
    }
    df = spark.createDataFrame(
        [(k, bytearray(encode_bmp(v))) for k, v in imgs.items()],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in decode_image(df).collect()}
    for k, arr in imgs.items():
        r = rows[k]
        assert (r["height"], r["width"], r["n_channels"]) == arr.shape
        assert bytes(r["rgb"]) == arr.tobytes()


def test_ivf_groups_clusters(spark):
    from hdfs_stream_processing_spark.operators.similarity import ivf_topk

    # two antipodal clusters: k-means (any init, 3 Lloyd steps) must
    # place one centroid per pole, so nprobe=1 search stays in-pole
    rows = [(0, [1.0, 0.0, 0.0]), (1, [-1.0, 0.0, 0.0])]
    rows += [(2 + i, [1.0, 0.01 * i, 0.0]) for i in range(4)]
    rows += [(10 + i, [-1.0, 0.0, 0.01 * i]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = ivf_topk(df, n_cells=2, nprobe=1, k=3, n_iters=3).collect()
    assert len(out) > 0
    in_plus = lambda i: i < 10 and i != 1
    for r in out:  # nprobe=1: neighbors come from the query's own pole
        assert in_plus(r["query_id"]) == in_plus(r["neighbor_id"])


def test_ivf_kmeans_training_deterministic_and_improves_recall(spark):
    """k-means IVF (VERDICT r2 item 4): training is RNG-free (same
    centroids every run), recall@10 clears the brute-force-baseline
    threshold, and trained centroids beat the md5-init-only quantizer on
    the same budget."""
    from hdfs_stream_processing_spark.operators.similarity import (
        ivf_init_centroids,
        ivf_topk,
        similarity_topk,
        train_ivf_centroids,
    )
    from hdfs_stream_processing_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    c1 = train_ivf_centroids(emb, n_cells=8, n_iters=2)
    c2 = train_ivf_centroids(emb, n_cells=8, n_iters=2)
    assert c1 == c2  # deterministic: md5 init + exact integer means

    truth = {}
    for r in similarity_topk(emb, k=10).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(t & got.get(q, set())) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    trained = recall(ivf_topk(emb, n_cells=8, nprobe=3, k=10, n_iters=3).collect())
    init_only = recall(
        ivf_topk(emb, n_cells=8, nprobe=3, k=10,
                 centroids=ivf_init_centroids(emb, n_cells=8)).collect()
    )
    # deterministic values on this fixture: trained≈0.642, init≈0.562
    assert trained >= 0.6, trained
    assert trained > init_only, (trained, init_only)


def test_ann_recall_contract(spark):
    """The recall-vs-nprobe contract behind the ann_recall query
    (VERDICT r5 #7): recall@10 is monotone in nprobe, clears 0.9 at
    nprobe=12 even on uniform-random embeddings (the worst case for a
    partitioning index), and hits exactly 1.0 at exhaustive
    nprobe = n_cells — where IVF degenerates to brute force."""
    from pyspark.sql import functions as F

    import hdfs_stream_processing_spark.queries as Q
    from hdfs_stream_processing_spark.operators.similarity import (
        ivf_topk,
        similarity_topk,
    )
    from hdfs_stream_processing_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    qf = F.col("vec_id") < 100
    exact = (
        similarity_topk(emb, "vec_id", "embedding", queries_filter=qf, k=10)
        .select("query_id", "neighbor_id")
        .cache()
    )
    n_truth = exact.count()

    def recall(nprobe):
        ap = ivf_topk(
            emb, n_cells=16, nprobe=nprobe, k=10, n_iters=3, queries_filter=qf
        ).select("query_id", "neighbor_id")
        return exact.join(ap, ["query_id", "neighbor_id"]).count() / n_truth

    r2, r12, r16 = recall(2), recall(12), recall(16)
    assert r2 <= r12 <= r16, (r2, r12, r16)
    assert r12 >= 0.9, r12
    assert r16 == 1.0, r16
    # and the registered query reports the same nprobe=2 operating point
    mean = (
        Q.QUERIES["ann_recall"](spark, SF_DIR)
        .agg(F.avg("recall_at_10"))
        .collect()[0][0]
    )
    assert abs(mean - r2) < 1e-9, (mean, r2)
    exact.unpersist()


def test_assign_cells_join_path_matches_literal_path(spark):
    """The broadcast-join assignment (the >256-cell scale path) must
    agree row-for-row with the literal-codegen path — same affinity
    expression tree, same lowest-cell tie rule."""
    from hdfs_stream_processing_spark.operators.similarity import (
        assign_cells,
        ivf_init_centroids,
        quantized,
    )
    from hdfs_stream_processing_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = ivf_init_centroids(emb, n_cells=8)
    q = emb.select("vec_id", quantized("embedding").alias("qv"))
    lit = {r["vec_id"]: r["cell"] for r in assign_cells(q, cents).collect()}
    join = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(
            q, cents, id_col="vec_id", max_literal_cells=0
        ).collect()
    }
    assert lit == join


def test_ivf_topk_join_probe_path_matches_literal_path(spark):
    """ADVICE r3: beyond max_literal_cells, ivf_topk's nprobe cell
    selection switches to the broadcast-join path (_probe_cells_join) —
    the full result (probes + re-rank) must agree row-for-row with the
    literal-codegen path: same affinities, same (aff DESC, cell ASC)
    probe order, same final ranking."""
    from hdfs_stream_processing_spark.operators.similarity import (
        ivf_init_centroids,
        ivf_topk,
    )
    from hdfs_stream_processing_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = ivf_init_centroids(emb, n_cells=8)
    lit = ivf_topk(emb, nprobe=2, k=10, centroids=cents).collect()
    join = ivf_topk(emb, nprobe=2, k=10, centroids=cents, max_literal_cells=0).collect()
    assert sorted(map(tuple, lit)) == sorted(map(tuple, join))
    assert len(lit) > 0


def test_lsh_multiprobe_improves_recall_monotonically(spark):
    """Multi-probe LSH: probing the least-confident flipped buckets must
    strictly add candidates, so recall@10 is monotone in nprobe_flips
    (deterministic fixture — exact values, not a statistical bound)."""
    from hdfs_stream_processing_spark.operators.similarity import (
        lsh_bucket_topk,
        similarity_topk,
    )
    from hdfs_stream_processing_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    truth = {}
    for r in similarity_topk(emb, k=10).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(t & got.get(q, set())) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    r = [
        recall(lsh_bucket_topk(emb, num_planes=6, k=10, dims=64, nprobe_flips=m).collect())
        for m in (0, 1, 2)
    ]
    # monotone in probes, and materially so at 2 flips (deterministic
    # fixture values quoted in README §recall)
    assert r[0] < r[1] < r[2], r
    assert r[2] > r[0] * 1.5, r  # flips=2 ≈ 2.9× flips=0 on this fixture
    print(f"LSH recall@10 by nprobe_flips 0/1/2: {[round(x, 3) for x in r]}")


def test_ivf_recall_monotone_in_nprobe(spark):
    """IVF ANN (VERDICT r3 #7): recall@10 vs exact ground truth must
    rise monotonically with nprobe — more probed cells can only add
    candidates (deterministic fixture — exact values, not a bound)."""
    from hdfs_stream_processing_spark.operators.similarity import (
        ivf_init_centroids,
        ivf_topk,
        similarity_topk,
    )
    from hdfs_stream_processing_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    truth = {}
    for r in similarity_topk(emb, k=10).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(t & got.get(q, set())) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    cents = ivf_init_centroids(emb, n_cells=8)
    r = [
        recall(ivf_topk(emb, nprobe=n, k=10, centroids=cents).collect())
        for n in (1, 2, 4)
    ]
    assert r[0] < r[1] < r[2], r
    assert r[2] >= 0.65, r  # 4 of 8 cells probed: 0.691 on this fixture
    print(f"IVF recall@10 by nprobe 1/2/4: {[round(x, 3) for x in r]}")


def test_numpy_topk_guards_driver_collect(spark):
    """The GEMM path collects the query side to the driver by contract —
    an unfiltered call past the bound must raise, not OOM (VERDICT r2
    item 7)."""
    from hdfs_stream_processing_spark.operators.similarity import similarity_topk_np
    from hdfs_stream_processing_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(ValueError, match="query side"):
        similarity_topk_np(emb, k=5, max_queries=100)  # 500-row corpus, no filter


def test_extract_features_deterministic(spark):
    import hashlib as hl

    from hdfs_stream_processing_spark.operators.multimodal import (
        attach_payload,
        extract_features,
    )

    df = attach_payload(_docs(spark, [(1, "hello")]), "doc_id", "text")
    r = extract_features(df, dims=4).collect()[0]
    d = hl.md5(b"hello").digest()
    expected = [round(d[i] / 255.0, 6) for i in range(4)]
    # array<float> is float32 on the wire — compare at float32 precision
    assert r["feature"] == pytest.approx(expected, rel=1e-6)
    assert r["n_bytes"] == 5


def test_numpy_topk_agrees_with_exact(spark):
    """The GEMM variant must produce the same neighbor SETS as the
    exact quantized variant (scores differ in ulps; membership should
    not, except at quantization-tie boundaries — none in this fixture)."""
    from hdfs_stream_processing_spark.operators.similarity import (
        similarity_topk,
        similarity_topk_np,
    )
    from hdfs_stream_processing_spark.sources.io import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    flt = F.col("vec_id") < 5
    exact = similarity_topk(emb, queries_filter=flt, k=5).collect()
    fast = similarity_topk_np(emb, queries_filter=flt, k=5).collect()
    by_q = lambda rows: {
        q: {r["neighbor_id"] for r in rows if r["query_id"] == q}
        for q in {r["query_id"] for r in rows}
    }
    assert by_q(exact) == by_q(fast)


def test_connected_components_and_representatives(spark):
    from hdfs_stream_processing_spark.operators.graph import (
        cluster_representatives,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a bigint, id_b bigint"
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}

    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in (1, 2, 3, 5, 6, 9)], "doc_id bigint, text string"
    )
    kept = sorted(
        r["doc_id"]
        for r in cluster_representatives(docs, connected_components(edges), "doc_id").collect()
    )
    assert kept == [1, 5, 9]  # cluster mins survive; untouched 9 passes through


def test_sample_frames(spark):
    from hdfs_stream_processing_spark.operators.multimodal import (
        attach_payload,
        sample_frames,
    )

    df = attach_payload(_docs(spark, [(1, "a" * 10)]), "doc_id", "text")
    frames = sample_frames(df, frame_size=4, stride=3).collect()
    # 10 bytes, size 4, stride 3 -> offsets 0,3,6 (9 would overrun)
    assert [r["frame_idx"] for r in sorted(frames, key=lambda r: r["frame_idx"])] == [0, 1, 2]
    assert frames[0]["frame_md5"] == hashlib.md5(b"aaaa").hexdigest()


def test_resize_image_nearest_neighbor_and_stats(spark):
    """resize_image is exact nearest-neighbor (index map, no pixel
    arithmetic); image_stats returns exact channel sums plus the
    position-weighted checksum that catches a row-order flip."""
    import numpy as np
    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        image_stats,
        resize_image,
    )

    arr = (np.arange(6 * 8 * 3, dtype=np.int64) * 11 % 256).astype(
        np.uint8
    ).reshape(6, 8, 3)
    df = spark.createDataFrame(
        [(7, bytearray(encode_bmp(arr)))], "doc_id long, payload binary"
    )
    decoded = decode_image(df)
    [r] = resize_image(decoded, out_w=3, out_h=2).collect()
    xs = (np.arange(3) * 8) // 3
    ys = (np.arange(2) * 6) // 2
    expect = arr[np.ix_(ys, xs)]
    assert (r["width"], r["height"]) == (3, 2)
    assert bytes(r["rgb"]) == expect.tobytes()

    [s] = image_stats(decoded).collect()
    pix = arr.astype(np.int64)
    weight = np.arange(6)[:, None] * 8 + np.arange(8)[None, :] + 1
    assert [s["sum_r"], s["sum_g"], s["sum_b"]] == list(pix.sum(axis=(0, 1)))
    assert [s["wsum_r"], s["wsum_g"], s["wsum_b"]] == list(
        (pix * weight[:, :, None]).sum(axis=(0, 1))
    )
    # the weighted checksum is row-order sensitive: a vertically
    # flipped image keeps the plain sums but not wsum
    flipped = spark.createDataFrame(
        [(7, bytearray(encode_bmp(arr[::-1].copy())))],
        "doc_id long, payload binary",
    )
    [sf] = image_stats(decode_image(flipped)).collect()
    assert [sf["sum_r"], sf["sum_g"], sf["sum_b"]] == [s["sum_r"], s["sum_g"], s["sum_b"]]
    assert sf["wsum_r"] != s["wsum_r"]


def test_connected_components_high_diameter(spark):
    """A 30-node path graph needs ~29 propagation hops — the loop must
    run to convergence, never stop at an arbitrary iteration cap."""
    from hdfs_stream_processing_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(29)], "id_a bigint, id_b bigint"
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert set(comp.values()) == {0} and len(comp) == 30


def test_bm25_rank_orders_by_relevance(spark):
    """BM25-style ranking: a document saturated with the query terms
    outranks a diluted one; a document with none of the terms scores
    exactly 0; top-n arrives via TakeOrderedAndProject (per-partition
    k-heap), not a global sort."""
    from hdfs_stream_processing_spark.operators.text import bm25_rank

    df = _docs(
        spark,
        [
            (1, "spark value spark value spark"),
            (2, "spark noise noise noise noise noise noise noise"),
            (3, "noise only noise only noise"),
        ],
    )
    out = bm25_rank(df, "doc_id", "text", ["spark", "value"], top_n=3)
    rows = {r["doc_id"]: (r["score"], r["rank"]) for r in out.collect()}
    assert rows[1][1] == 1 and rows[2][1] == 2 and rows[3][1] == 3
    assert rows[3][0] == 0.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan  # k-heap, not a global sort


def test_phrase_adjacency_exact(spark):
    """match_phrase semantics: only ADJACENT 'value table' counts, every
    occurrence counts, and near-misses with an intervening token don't."""
    from hdfs_stream_processing_spark.operators.text import tokens

    df = _docs(
        spark,
        [
            (1, "value table value table"),   # two occurrences
            (2, "value x table"),             # gap -> no match
            (3, "table value"),               # wrong order -> no match
        ],
    )
    toks = tokens("text")
    n = F.size(
        F.filter(
            F.sequence(F.lit(1), F.size(toks) - F.lit(1)),
            lambda i: (F.element_at(toks, i) == F.lit("value"))
            & (F.element_at(toks, i + F.lit(1)) == F.lit("table")),
        )
    ).cast("long")
    got = {r["doc_id"]: r["n"] for r in df.select("doc_id", n.alias("n")).collect()}
    assert got == {1: 2, 2: 0, 3: 0}


# ------------------------------------------------------------------
# LLM corpus curation (operators/llmdata.py)
# ------------------------------------------------------------------


def test_chunk_documents_boundaries_and_overlap(spark):
    from hdfs_stream_processing_spark.operators.llmdata import chunk_documents

    words = " ".join(f"w{i}" for i in range(70))
    df = _docs(spark, [(1, words)])
    rows = {
        r["chunk_id"]: r
        for r in chunk_documents(df, "doc_id", "text", chunk_size=64, stride=48).collect()
    }
    # starts at 0 and 48 -> two chunks; second covers tokens 48..69
    assert set(rows) == {0, 1}
    assert rows[0]["n_tokens"] == 64
    assert rows[1]["n_tokens"] == 70 - 48
    assert rows[0]["chunk_text"].split()[:2] == ["w0", "w1"]
    assert rows[1]["chunk_text"].split()[0] == "w48"
    # overlap: chunk 0's last 16 tokens == chunk 1's first 16
    assert rows[0]["chunk_text"].split()[48:] == rows[1]["chunk_text"].split()[:16]
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", stride=0)


def test_chunk_documents_is_narrow(spark):
    from hdfs_stream_processing_spark.operators.llmdata import chunk_documents
    from hdfs_stream_processing_spark.plans.inspect import count_shuffles

    df = _docs(spark, [(1, "a b c")])
    assert count_shuffles(chunk_documents(df, "doc_id", "text")) == 0


def test_redact_pii_counts_and_replacements(spark):
    from hdfs_stream_processing_spark.operators.llmdata import redact_pii

    df = _docs(
        spark,
        [(1, "mail a.b-c@x.io and 10.20.30.40 and ref 12345678 ok"),
         (2, "nothing to scrub 123")],
    )
    out = {r["doc_id"]: r for r in redact_pii(df, "doc_id", "text").collect()}
    assert out[1]["clean_text"] == "mail <EMAIL> and <IP> and ref <NUM> ok"
    assert (out[1]["n_email"], out[1]["n_ip"], out[1]["n_num"]) == (1, 1, 1)
    assert out[2]["clean_text"] == "nothing to scrub 123"
    assert (out[2]["n_email"], out[2]["n_ip"], out[2]["n_num"]) == (0, 0, 0)


def test_decontaminate_flags_exact_ngram_overlap(spark):
    from hdfs_stream_processing_spark.operators.llmdata import decontaminate

    shared = " ".join(f"s{i}" for i in range(8))
    docs = _docs(
        spark,
        [(1, "clean doc with none of it " + " ".join(f"x{i}" for i in range(8))),
         (2, f"prefix {shared} suffix")],
    )
    bench = _docs(spark, [(100, f"other words {shared}")])
    out = {r["doc_id"]: r for r in decontaminate(docs, bench, "doc_id", "text", n=8).collect()}
    assert out[2]["contaminated"] and out[2]["n_hits"] >= 1
    assert not out[1]["contaminated"] and out[1]["n_hits"] == 0
    # benchmark side is broadcast: corpus probe must not shuffle-join
    from hdfs_stream_processing_spark.plans.inspect import assert_broadcast_join

    assert_broadcast_join(decontaminate(docs, bench, "doc_id", "text", n=8))


def test_mix_sources_membership_and_validation(spark):
    from hdfs_stream_processing_spark.operators.llmdata import mix_sources

    df = spark.createDataFrame(
        [(i, f"src{i % 4}") for i in range(400)], "doc_id bigint, source string"
    )
    out = mix_sources(df, "doc_id", "source", {"src0": 1.0, "src3": 0.0}, default_weight=0.5)
    by_src = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src["src0"] == 100          # weight 1.0 keeps everything
    assert "src3" not in by_src           # weight 0.0 keeps nothing
    assert 0 < by_src["src1"] < 100       # default rate samples strictly
    # deterministic: same membership on a different partitioning
    again = mix_sources(df.repartition(7), "doc_id", "source", {"src0": 1.0, "src3": 0.0}, default_weight=0.5)
    assert sorted(r["doc_id"] for r in out.collect()) == sorted(r["doc_id"] for r in again.collect())
    with pytest.raises(ValueError):
        mix_sources(df, "doc_id", "source", {"src0": 1.5})


def test_shard_assign_dense_positions_and_seed_reshuffle(spark):
    from hdfs_stream_processing_spark.operators.llmdata import shard_assign

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id bigint")
    out = shard_assign(df, "doc_id", 4, seed="s0").collect()
    assert len(out) == 200
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard_id"], []).append(r["pos"])
    assert set(by_shard) == {0, 1, 2, 3}
    for shard, positions in by_shard.items():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # a different seed must produce a different order
    other = shard_assign(df, "doc_id", 4, seed="s1").collect()
    k0 = {(r["doc_id"]): (r["shard_id"], r["pos"]) for r in out}
    k1 = {(r["doc_id"]): (r["shard_id"], r["pos"]) for r in other}
    assert k0 != k1
    # determinism under repartitioning
    again = shard_assign(df.repartition(13), "doc_id", 4, seed="s0").collect()
    assert k0 == {(r["doc_id"]): (r["shard_id"], r["pos"]) for r in again}


def test_repetition_stats_gates_boilerplate(spark):
    from hdfs_stream_processing_spark.operators.llmdata import repetition_stats

    spam = " ".join(["buy now"] * 30)                       # one dominant bigram
    prose = " ".join(f"tok{i}" for i in range(60))          # all bigrams distinct
    df = _docs(spark, [(1, spam), (2, prose)])
    out = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert not out[1]["passes_repetition"]
    assert out[1]["top_ngram_frac"] > 0.4
    assert out[2]["passes_repetition"]
    assert out[2]["distinct_frac"] == 1.0


def test_resample_sources_upsamples_fractionally(spark):
    from hdfs_stream_processing_spark.operators.llmdata import resample_sources

    df = spark.createDataFrame(
        [(i, f"src{i % 2}") for i in range(200)], "doc_id bigint, source string"
    )
    out = resample_sources(df, "doc_id", "source", {"src0": 2.5, "src1": 0.0}).collect()
    assert all(r["source"] == "src0" for r in out)        # weight 0 drops src1
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["copy"])
    assert len(per_doc) == 100                            # every src0 doc survives
    for copies in per_doc.values():
        assert sorted(copies) == list(range(len(copies))) # dense copy index
        assert len(copies) in (2, 3)                      # floor(2.5)=2, +1 for the md5 half
    n3 = sum(1 for c in per_doc.values() if len(c) == 3)
    assert 30 < n3 < 70                                   # ~half get the third copy
    # deterministic under repartitioning
    again = resample_sources(
        df.repartition(9), "doc_id", "source", {"src0": 2.5, "src1": 0.0}
    ).collect()
    assert sorted((r["doc_id"], r["copy"]) for r in out) == sorted(
        (r["doc_id"], r["copy"]) for r in again
    )
    with pytest.raises(ValueError):
        resample_sources(df, "doc_id", "source", {"src0": -0.1})


def test_ivf_probe_join_path_parity_at_512_cells(spark):
    """VERDICT r4 #6: exercise _probe_cells_join at a cell count that
    actually EXCEEDS max_literal_cells (the scale regime it exists for —
    real deployments size n_cells ~ sqrt(corpus) at 10^4-10^5).  512
    deterministic centroids: the default config routes both corpus
    assignment and probe selection through the broadcast-join paths;
    forcing the literal path on the same centroids must give the
    identical result set (same affinities, same tie rules, same
    re-rank)."""
    from hdfs_stream_processing_spark.operators.similarity import ivf_topk
    from hdfs_stream_processing_spark.sources.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = [[((i * 31 + j * 17) % 41) - 20 for j in range(64)] for i in range(512)]
    assert all(any(v != 0 for v in cv) for cv in cents)  # no zero-norm cells
    join = ivf_topk(emb, nprobe=2, k=5, centroids=cents).collect()  # 512 > 256 default
    lit = ivf_topk(emb, nprobe=2, k=5, centroids=cents, max_literal_cells=1024).collect()
    assert sorted(map(tuple, join)) == sorted(map(tuple, lit))
    assert len(join) > 0


def test_pack_sequences_prefix_sums_and_boundaries(spark):
    """seq_id/seq_off are the concat-and-split coordinates: within each
    shard (in pos order) the running prior-token total t satisfies
    seq_id = t // capacity and seq_off = t % capacity, starting at
    (0, 0)."""
    from hdfs_stream_processing_spark.operators.llmdata import pack_sequences

    df = spark.createDataFrame(
        [(i, 7 * (i % 5) + 1) for i in range(200)], "doc_id long, n_tok long"
    )
    out = pack_sequences(df, "doc_id", "n_tok", capacity=64, n_shards=3).collect()
    by_shard = {}
    for r in sorted(out, key=lambda r: (r["shard_id"], r["pos"])):
        by_shard.setdefault(r["shard_id"], []).append(r)
    assert len(by_shard) == 3 and len(out) == 200
    for rows in by_shard.values():
        cum = 0
        for i, r in enumerate(rows):
            assert r["pos"] == i + 1
            assert r["seq_id"] == cum // 64
            assert r["seq_off"] == cum % 64
            cum += r["n_tok"]


def test_pack_sequences_deterministic_and_seed_sensitive(spark):
    from hdfs_stream_processing_spark.operators.llmdata import pack_sequences

    df = spark.createDataFrame([(i, 10) for i in range(100)], "doc_id long, n_tok long")
    a = sorted(map(tuple, pack_sequences(df, "doc_id", "n_tok", 32, 4).collect()))
    b = sorted(map(tuple, pack_sequences(df.repartition(7), "doc_id", "n_tok", 32, 4).collect()))
    c = sorted(map(tuple, pack_sequences(df, "doc_id", "n_tok", 32, 4, seed="s1").collect()))
    assert a == b          # partitioning-independent
    assert a != c          # seed reshuffles the layout
    import pytest
    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id", "n_tok", 0, 4)
    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id", "n_tok", 32, 0)


def test_dedup_incremental_drops_known_keeps_fresh(spark):
    """Recrawls of corpus content drop; in-batch duplicates collapse to
    the min-id survivor; genuinely new docs survive untouched."""
    from hdfs_stream_processing_spark.operators.dedup import dedup_incremental

    existing = spark.createDataFrame([("h1",), ("h2",)], "h string")
    batch = spark.createDataFrame(
        [(10, "h1"),            # already in corpus -> dropped
         (11, "h9"), (12, "h9"),  # in-batch dup -> 11 survives
         (13, "h8")],           # fresh
        "doc_id long, h string",
    )
    out = sorted(
        (r["doc_id"], r["h"])
        for r in dedup_incremental(batch, existing, ["h"], [F.col("doc_id")]).collect()
    )
    assert out == [(11, "h9"), (13, "h8")]


def test_dedup_near_incremental_cross_and_within_batch(spark):
    """Batch docs near-identical to corpus docs drop via the band-table
    join; near-dup clusters WITHIN the corpus-clean remainder collapse
    to the min-id survivor; dissimilar docs pass through."""
    from hdfs_stream_processing_spark.operators.dedup import (
        band_hashes,
        dedup_near_incremental,
        minhash_signature_wide,
    )

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame([(1, base)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, base + " extra"),                      # near-dup of corpus 1 -> drop
         (11, "completely different words about spark shuffles and joins here now"),
         (12, "completely different words about spark shuffles and joins here soon"),
         (13, "unrelated singleton content nothing shares any shingle with this")],
        "doc_id long, text string",
    )
    corpus_bands = band_hashes(
        minhash_signature_wide(corpus, "doc_id", "text", num_hashes=8, shingle_n=2),
        "doc_id", num_hashes=8, band_size=2,
    )
    out = sorted(
        r["doc_id"]
        for r in dedup_near_incremental(
            batch, corpus, corpus_bands, "doc_id", "text",
            num_hashes=8, band_size=2, shingle_n=2, min_jaccard=0.5,
        ).collect()
    )
    # 10 dropped (corpus dup); 11/12 cluster -> 11 survives; 13 passes
    # (deterministic: md5-derived minhash, so the LSH collision is too)
    assert out == [11, 13]


def test_pack_extend_from_empty_equals_pack_sequences(spark):
    """The initial load is just an extension of the empty state — and
    chained extensions tile the stream exactly like one combined pack
    over the composite (load order, seeded order)."""
    from hdfs_stream_processing_spark.operators.llmdata import (
        pack_extend,
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(i, 5 + i % 7) for i in range(120)], "doc_id long, n_tok long"
    )
    empty = spark.createDataFrame([], "shard_id long, n_docs long, total_toks long")
    cols = ["doc_id", "n_tok", "shard_id", "pos", "seq_id", "seq_off"]
    a = sorted(map(tuple, pack_sequences(df, "doc_id", "n_tok", 32, 3).select(cols).collect()))
    b = sorted(map(tuple, pack_extend(empty, df, "doc_id", "n_tok", 32, 3).select(cols).collect()))
    assert a == b

    first, second = df.where("doc_id < 60"), df.where("doc_id >= 60")
    p1 = pack_extend(empty, first, "doc_id", "n_tok", 32, 3)
    state = p1.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("total_toks")
    )
    p2 = pack_extend(state, second, "doc_id", "n_tok", 32, 3)
    # the union tiles each shard stream with chained offsets: per shard,
    # positions are dense 1..n and cum coordinates chain across loads
    rows = sorted(
        p1.unionByName(p2).collect(), key=lambda r: (r["shard_id"], r["pos"])
    )
    cum = {}
    npos = {}
    for r in rows:
        c = cum.get(r["shard_id"], 0)
        assert r["pos"] == npos.get(r["shard_id"], 0) + 1
        assert r["seq_id"] == c // 32 and r["seq_off"] == c % 32
        cum[r["shard_id"]] = c + r["n_tok"]
        npos[r["shard_id"]] = r["pos"]


def test_embedding_dedup_incremental_drops_by_cosine(spark):
    """Batch vectors near a same-bucket corpus vector drop; near a
    lower-id batch vector drop; different-bucket twins survive (the
    bucket bounds every comparison)."""
    from hdfs_stream_processing_spark.operators.similarity import (
        embedding_dedup_incremental,
    )

    corpus = spark.createDataFrame(
        [(1, 0, [1.0, 0.0, 0.0])], "vec_id long, label int, embedding array<float>"
    )
    batch = spark.createDataFrame(
        [(10, 0, [0.99, 0.01, 0.0]),   # ~corpus vec, same bucket -> drop
         (11, 1, [1.0, 0.0, 0.0]),     # identical direction, DIFFERENT bucket -> survives
         (12, 1, [0.0, 1.0, 0.0]),     # orthogonal to 11 -> survives
         (13, 1, [0.01, 0.999, 0.0])], # ~12, same bucket, higher id -> drop
        "vec_id long, label int, embedding array<float>",
    )
    out = sorted(
        r["vec_id"]
        for r in embedding_dedup_incremental(
            batch, corpus, "vec_id", "label", "embedding", min_cosine=0.9
        ).collect()
    )
    assert out == [11, 12]


def test_kmeans_refine_partitions_the_corpus(spark):
    """One Lloyd step (r6): every vector lands in exactly one cell —
    for each dimension, member counts across cells sum to the corpus
    size — and the recomputed centroid components are finite ints."""
    import pyspark.sql.functions as F

    import hdfs_stream_processing_spark.queries as Q
    from hdfs_stream_processing_spark.sources.io import load_table
    from tests.conftest import SF_DIR

    out = Q.QUERIES["kmeans_refine"](spark, SF_DIR)
    n_vecs = load_table(spark, SF_DIR, "embeddings").count()
    per_pos = out.groupBy("pos").agg(F.sum("n").alias("total")).collect()
    assert per_pos and all(r["total"] == n_vecs for r in per_pos)


def test_embed_quantize_range_and_extremes(spark):
    """int8 quantization (r6): every quantized component is in
    [-128, 127], and each vector hits both endpoints (its min maps to
    -128, its max to 127)."""
    import pyspark.sql.functions as F

    import hdfs_stream_processing_spark.queries as Q
    from tests.conftest import SF_DIR

    out = Q.QUERIES["embed_quantize"](spark, SF_DIR)
    stats = out.groupBy("vec_id").agg(
        F.min("q8").alias("lo"), F.max("q8").alias("hi")
    )
    bad = stats.where((F.col("lo") != -128) | (F.col("hi") != 127)).count()
    assert bad == 0
    assert out.where((F.col("q8") < -128) | (F.col("q8") > 127)).count() == 0


def test_connected_components_driver_and_distributed_agree(spark):
    """The adaptive small-graph path (driver union-find) and the
    distributed star-contraction loop are the same exact fixpoint —
    force BOTH paths over the same random-ish graph (self-loops,
    isolated-by-self-loop vertices, a chain, a clique, duplicate and
    reversed edges) and require identical labelings."""
    from hdfs_stream_processing_spark.operators.graph import connected_components

    pairs = (
        [(i, i + 1) for i in range(0, 12)]          # chain 0..12
        + [(20, 21), (21, 22), (22, 20), (20, 22)]  # clique w/ dup edge
        + [(30, 30), (31, 31)]                      # self-loop-only nodes
        + [(40, 41), (41, 40)]                      # reversed duplicate
    )
    edges = spark.createDataFrame(pairs, "id_a bigint, id_b bigint")
    via_driver = {
        r["id"]: r["component"]
        for r in connected_components(edges).collect()  # default: driver path
    }
    via_loop = {
        r["id"]: r["component"]
        for r in connected_components(edges, driver_max_edges=0).collect()
    }
    assert via_driver == via_loop
    assert via_driver[12] == 0 and via_driver[22] == 20
    assert via_driver[30] == 30 and via_driver[41] == 40


def test_bpe_merge_step_semantics(spark):
    """One BPE iteration: pair counts weight by word freq, the winner
    tiebreaks (count DESC, l ASC, r ASC), and application is greedy
    left-to-right non-overlapping — '<a><a><a>' with merge (a,a)
    becomes '<aa><a>', never '<a><aa>'."""
    from hdfs_stream_processing_spark.operators.text import (
        bpe_apply_merge,
        bpe_best_pair,
        bpe_init,
        bpe_pair_counts,
        bpe_symbol_counts,
    )

    words = spark.createDataFrame(
        [("the", 2), ("then", 1), ("at", 1), ("i", 5)], ["word", "freq"]
    ).withColumn("rep", bpe_init("word"))
    pairs = {(r["l_sym"], r["r_sym"]): r["pair_count"]
             for r in bpe_pair_counts(words).collect()}
    # 'i' (1 symbol) contributes nothing; th=3, he=3, en=1, at=1
    assert pairs == {("t", "h"): 3, ("h", "e"): 3, ("e", "n"): 1, ("a", "t"): 1}
    [best] = bpe_best_pair(bpe_pair_counts(words)).collect()
    assert (best["l_sym"], best["r_sym"]) == ("h", "e")  # tie: he < th

    merged = words.crossJoin(
        F.broadcast(bpe_best_pair(bpe_pair_counts(words)))
    ).select(bpe_apply_merge("rep", "l_sym", "r_sym").alias("rep"), "freq")
    counts = {r["symbol"]: r["count"] for r in bpe_symbol_counts(merged).collect()}
    assert counts == {"t": 4, "he": 3, "n": 1, "a": 1, "i": 5}

    # greedy left-to-right: aaa -> (aa, a)
    tri = spark.createDataFrame([("aaa", 1)], ["word", "freq"]).withColumn(
        "rep", bpe_init("word")
    )
    [r] = tri.select(
        bpe_apply_merge("rep", F.lit("a"), F.lit("a")).alias("rep")
    ).collect()
    assert r["rep"] == "<aa><a>"


def test_bpe_multichar_merge_chain(spark):
    """Ordered merges compose: th+e only fires where th exists, and a
    one-char symbol cannot false-match inside a multi-char one."""
    from hdfs_stream_processing_spark.operators.text import (
        bpe_apply_merge,
        bpe_init,
        bpe_symbol_counts,
    )

    words = spark.createDataFrame(
        [("theft", 1), ("tithe", 1), ("he", 1)], ["word", "freq"]
    )
    rep = bpe_init("word")
    for l, r in [("t", "h"), ("th", "e")]:
        rep = bpe_apply_merge(rep, F.lit(l), F.lit(r))
    staged = words.select(rep.alias("rep"), "freq")
    reps = sorted(r["rep"] for r in staged.collect())
    # theft -> the+f+t; tithe -> t+i+the; he untouched (h+e as symbols
    # exists only where adjacent: 'he' word -> <h><e> has pair (h,e),
    # NOT (th,e) — no false merge)
    assert reps == ["<h><e>", "<t><i><the>", "<the><f><t>"]
    counts = {r["symbol"]: r["count"] for r in bpe_symbol_counts(staged).collect()}
    assert counts == {"the": 2, "f": 1, "t": 2, "i": 1, "h": 1, "e": 1}


def test_pq_assign_codes_exact(spark):
    """PQ codes are exact argmin-L2 per subspace with ties to the
    lowest code; codebooks derive from the md5-ordered sample."""
    from hdfs_stream_processing_spark.operators.similarity import (
        pq_assign_codes,
        pq_init_codebooks,
        quantized,
    )

    rows = [(i, [float(i + j) / 10.0 for j in range(8)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cb = pq_init_codebooks(df, m_subs=2, k_codes=3)
    assert len(cb) == 6 and all(len(cw) == 4 for _, _, cw in cb)
    out = pq_assign_codes(df, m_subs=2, k_codes=3).collect()
    assert len(out) == 12  # 6 vectors × 2 subspaces
    # verify one assignment by hand against the quantized arithmetic
    qv = {r["vec_id"]: r["qv"] for r in
          df.select("vec_id", quantized("embedding").alias("qv")).collect()}
    books = {(m, c): cw for m, c, cw in cb}
    for r in out:
        v = qv[r["vec_id"]][r["sub"] * 4:(r["sub"] + 1) * 4]
        dists = {c: sum((a - b) ** 2 for a, b in zip(v, books[(r["sub"], c)]))
                 for c in range(3)}
        best = min(dists, key=lambda c: (dists[c], c))
        assert (r["code"], r["d2"]) == (best, dists[best])

    with pytest.raises(ValueError, match="subspaces"):
        pq_init_codebooks(df, m_subs=3, k_codes=2)


def test_pq_adc_high_recall_on_clustered_data(spark):
    """On compressible (clustered) data — the regime PQ exists for —
    ADC must rank same-cluster vectors ahead of other clusters.  Three
    tight clusters, 6 members each: every query's ADC top-5 must be
    exactly its own cluster's other members ∪ itself.  k_codes=8: the
    md5-ordered sample's first 8 of 18 ids cover all three clusters
    (at k=4 the sample misses cluster 0 entirely and clusters 0/2
    become code-identical in subspace 1 — the honest failure mode of
    an unrepresentative codebook, not an operator bug)."""
    from hdfs_stream_processing_spark.operators.similarity import pq_adc_topk

    centers = [[10.0] * 8, [-10.0] * 8, [10.0] * 4 + [-10.0] * 4]
    rows = []
    for c, center in enumerate(centers):
        for j in range(6):
            rows.append(
                (c * 6 + j, [x + 0.01 * j * ((i % 2) * 2 - 1)
                             for i, x in enumerate(center)])
            )
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = pq_adc_topk(
        df, F.col("vec_id") % 6 == 0, m_subs=2, k_codes=8, k=5
    ).collect()
    assert len(out) == 15  # 3 queries × 5
    for r in out:
        assert r["query_id"] // 6 == r["neighbor_id"] // 6, (
            r["query_id"], r["neighbor_id"])


def test_ivfpq_assign_residual_codes_exact(spark):
    """IVF-PQ codes are exact: min-L2 cell against the md5-top-n
    centroids, then per-sub argmin of the RESIDUAL against the offset
    sample's residual codebook — verified by hand in integer space."""
    from hdfs_stream_processing_spark.operators.similarity import (
        ivfpq_assign_codes,
        ivfpq_init,
        quantized,
    )

    rows = [(i, [float(i * 3 + j) / 10.0 for j in range(8)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents, cb = ivfpq_init(df, n_cells=4, m_subs=2, k_codes=4)
    assert len(cents) == 4 and len(cb) == 8  # 4 codes × 2 subs
    out = ivfpq_assign_codes(df, n_cells=4, m_subs=2, k_codes=4).collect()
    assert len(out) == 24  # 12 vectors × 2 subspaces
    qv = {r["vec_id"]: list(r["qv"]) for r in
          df.select("vec_id", quantized("embedding").alias("qv")).collect()}
    books = {(m, c): cw for m, c, cw in cb}
    for r in out:
        v = qv[r["vec_id"]]
        cd = {cell: sum((a - b) ** 2 for a, b in zip(v, cv))
              for cell, cv in enumerate(cents)}
        cell = min(cd, key=lambda c: (cd[c], c))
        assert r["cell"] == cell
        rv = [a - b for a, b in zip(v, cents[cell])][r["sub"] * 4:(r["sub"] + 1) * 4]
        dists = {c: sum((a - b) ** 2 for a, b in zip(rv, books[(r["sub"], c)]))
                 for c in range(4)}
        assert r["code"] == min(dists, key=lambda c: (dists[c], c))

    with pytest.raises(ValueError, match="at least"):
        ivfpq_init(df, n_cells=8, m_subs=2, k_codes=8)


def test_ivfpq_prunes_scan_to_probed_cells(spark):
    """The pruning contract, checked against the operator's own
    deterministic init: a vector whose cell is NOT among a query's
    nprobe min-L2 cells cannot appear in that query's ADC result — and
    the unprobed cells are non-empty, so the restriction is doing
    real work (pq_adc_topk by contrast scans every code)."""
    from hdfs_stream_processing_spark.operators.similarity import (
        _min_l2_cell,
        ivfpq_adc_topk,
        ivfpq_init,
        quantized,
    )

    centers = [[50.0] * 8, [-50.0] * 8, [50.0] * 4 + [-50.0] * 4]
    rows = []
    for c, center in enumerate(centers):
        for j in range(8):
            rows.append(
                (c * 8 + j, [x + 0.01 * j * ((i % 2) * 2 - 1)
                             for i, x in enumerate(center)])
            )
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    n_cells, nprobe = 3, 1
    cents, _ = ivfpq_init(df, n_cells=n_cells, m_subs=2, k_codes=8)
    qv = {r["vec_id"]: [int(x) for x in r["qv"]] for r in
          df.select("vec_id", quantized("embedding").alias("qv")).collect()}
    cell_of = {i: _min_l2_cell(v, cents) for i, v in qv.items()}
    assert len(set(cell_of.values())) > nprobe, "fixture fits one probe"
    out = ivfpq_adc_topk(
        df, F.col("vec_id") % 8 == 0,
        n_cells=n_cells, nprobe=nprobe, m_subs=2, k_codes=8, k=24,
    ).collect()
    assert out, "no results"
    for r in out:
        # nprobe=1: the only probed cell is the query's own min-L2 cell
        assert cell_of[r["neighbor_id"]] == cell_of[r["query_id"]], (
            r["query_id"], r["neighbor_id"])
    # pruned: even with k ≥ |corpus| a query never sees other cells
    per_q = {}
    for r in out:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    pop = {c: sum(1 for v in cell_of.values() if v == c)
           for c in set(cell_of.values())}
    for q, n in per_q.items():
        assert n == pop[cell_of[q]], (q, n, pop[cell_of[q]])


def test_ivfpq_recall_geq_plain_pq_on_clustered_fixture(spark):
    """VERDICT r9 #1 contract: on the clustered fixture the composed
    IVF-PQ retrieval recalls at least as much of the exact top-10 as
    the full-scan plain-PQ ranking (both 1.0 here — cells separate the
    clusters and residual codes carry the within-cluster offsets)."""
    from hdfs_stream_processing_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    pq = {r["query_id"]: r["recall_at_10"]
          for r in QUERIES["pq_recall_clustered"](spark, sf).collect()}
    ivfpq = {r["query_id"]: r["recall_at_10"]
             for r in QUERIES["ivfpq_recall"](spark, sf).collect()}
    assert set(pq) == set(ivfpq) and pq, "query sets differ"
    for q in pq:
        assert ivfpq[q] >= pq[q], (q, ivfpq[q], pq[q])
    assert all(v == 1.0 for v in ivfpq.values()), ivfpq


def test_ppm_header_variants_and_rejects():
    """P6 header parsing: comments and arbitrary whitespace between
    tokens are legal; non-P6 magic, wrong maxval, and truncated pixel
    data all raise instead of mis-parsing."""
    import numpy as np

    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_payload,
        decode_ppm,
        encode_ppm,
    )

    arr = (np.arange(5 * 3 * 3) % 256).astype(np.uint8).reshape(3, 5, 3)
    body = arr.tobytes()
    assert (decode_ppm(b"P6 # c\n5\t3\r\n# x\n255\n" + body) == arr).all()
    with pytest.raises(ValueError, match="not a P6"):
        decode_ppm(b"P5\n5 3\n255\n" + body)
    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n5 3\n65535\n" + body)
    with pytest.raises(ValueError, match="truncated PPM pixel"):
        decode_ppm(b"P6\n5 3\n255\n" + body[:-1])
    with pytest.raises(ValueError, match="unrecognized image magic"):
        decode_payload(b"\x89PNG....")


def test_png_rejects_and_crc():
    """PNG decode rejects corrupted and unsupported payloads instead
    of mis-parsing: CRC mismatch, non-truecolor variants, truncated
    chunks, short signatures, and scanline-length mismatches."""
    import struct
    import zlib

    import numpy as np

    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    arr = (np.arange(4 * 6 * 3) % 256).astype(np.uint8).reshape(4, 6, 3)
    good = encode_png(arr)
    # flip a byte inside IDAT: CRC check must catch it
    bad = bytearray(good)
    bad[8 + 25 + 8 + 2] ^= 0xFF  # inside IDAT data (after sig + IHDR chunk)
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(bad))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"\x89PNG....")
    # cut into the IDAT chunk's CRC (IEND is 12 bytes; one more byte
    # shears the IDAT chunk itself)
    with pytest.raises(ValueError, match="truncated PNG chunk"):
        decode_png(good[:-13])
    # rebuild IHDR claiming RGBA (color type 6): rejected explicitly
    ihdr = struct.pack(">IIBBBBB", 6, 4, 8, 6, 0, 0, 0)
    crc = zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    forged = (
        good[:8]
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + struct.pack(">I", crc)
        + good[8 + 25:]
    )
    with pytest.raises(ValueError, match="unsupported PNG variant"):
        decode_png(forged)


def test_flip_and_crop_index_maps(spark):
    """flip_image mirrors columns exactly; crop_image extracts exactly
    the (x0, y0, w, h) window and raises on an oversized window —
    checked against numpy on a decoded frame that flows through the
    real mapInPandas stages."""
    import numpy as np

    from hdfs_stream_processing_spark.operators.multimodal import (
        crop_image,
        decode_image,
        encode_ppm,
        flip_image,
    )

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(6, 11, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(arr)))], "doc_id bigint, payload binary"
    )
    decoded = decode_image(df)
    flipped = flip_image(decoded).collect()[0]
    got = np.frombuffer(flipped["rgb"], dtype=np.uint8).reshape(6, 11, 3)
    assert (got == arr[:, ::-1]).all()
    cropped = crop_image(decoded, x0=2, y0=1, out_w=7, out_h=4).collect()[0]
    assert (cropped["width"], cropped["height"]) == (7, 4)
    got = np.frombuffer(cropped["rgb"], dtype=np.uint8).reshape(4, 7, 3)
    assert (got == arr[1:5, 2:9]).all()
    with pytest.raises(Exception, match="exceeds"):
        crop_image(decoded, x0=8, y0=0, out_w=7, out_h=4).collect()
    with pytest.raises(ValueError, match="positive dims"):
        crop_image(decoded, x0=0, y0=0, out_w=0, out_h=4)


def test_normalize_stats_exact_integer_centering(spark):
    """normalize_stats' dev = p·N − S checked against numpy on a frame
    that flows through the real decode stage; the plain dev sum is
    zero by construction, so the emitted L1 mass and weighted sum are
    the signal-carrying reductions."""
    import numpy as np

    from hdfs_stream_processing_spark.operators.multimodal import (
        decode_image,
        encode_ppm,
        normalize_stats,
    )

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(arr)))], "doc_id bigint, payload binary"
    )
    r = normalize_stats(decode_image(df)).collect()[0]
    pix = arr.astype(np.int64)
    n = 5 * 7
    dev = pix * n - pix.sum(axis=(0, 1))
    assert dev.sum(axis=(0, 1)).tolist() == [0, 0, 0]
    weight = (np.arange(5)[:, None] * 7 + np.arange(7)[None, :] + 1).astype(np.int64)
    for ci, ch in enumerate("rgb"):
        assert r[f"sum_absdev_{ch}"] == int(np.abs(dev[:, :, ci]).sum())
        assert r[f"wsum_dev_{ch}"] == int((dev[:, :, ci] * weight).sum())


def test_duplicated_spans_hand_computed(spark):
    """Substring-level dedup (r11): hand-computed span merge.  Docs 1 and
    2 share tokens 'a b c d e f' at different offsets; doc 3 is unique.
    With k=3, min_docs=2: doc 1 has duplicated windows at offsets 0..3
    (one span covering tokens 0..5), doc 2 at offsets 2..5 (span at 2,
    len 6).  Offsets are position-independent: content matching is what
    counts."""
    from hdfs_stream_processing_spark.operators.llmdata import duplicated_spans

    rows = [
        (1, "a b c d e f x1 y1 z1"),        # shared prefix at off 0
        (2, "p2 q2 a b c d e f r2"),        # same content at off 2
        (3, "u3 v3 w3 t3 s3 m3 n3 o3 k3"),  # all-unique
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        (r.doc_id, r.span_start): (r.span_len, r.n_windows)
        for r in duplicated_spans(df, "doc_id", "text", k=3, min_docs=2).collect()
    }
    assert out == {
        (1, 0): (6, 4),   # windows at 0,1,2,3 -> tokens 0..5
        (2, 2): (6, 4),   # windows at 2,3,4,5 -> tokens 2..7
    }


def test_duplicated_spans_islands_and_clipping(spark):
    """Two disjoint duplicated regions in one doc stay two spans (the
    gaps-and-islands split), and a span reaching the document end clips
    span_len at n_tokens."""
    from hdfs_stream_processing_spark.operators.llmdata import duplicated_spans

    rows = [
        # doc 1: 'a b c' dup at off 0, 'x y z' dup at off 5 (END of doc,
        # so the last window starts at 5 = n-k and span clips to len 3)
        (1, "a b c g1 h1 x y z"),
        (2, "m2 a b c n2"),
        (3, "q3 x y z w3"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    spans = sorted(
        (r.doc_id, r.span_start, r.span_len, r.n_windows)
        for r in duplicated_spans(df, "doc_id", "text", k=3, min_docs=2).collect()
    )
    assert spans == [
        (1, 0, 3, 1),
        (1, 5, 3, 1),
        (2, 1, 3, 1),
        (3, 1, 3, 1),
    ]


def test_duplicated_spans_guards(spark):
    from hdfs_stream_processing_spark.operators.llmdata import duplicated_spans

    df = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="k must be >= 2"):
        duplicated_spans(df, "doc_id", "text", k=1)
    with pytest.raises(ValueError, match="min_docs"):
        duplicated_spans(df, "doc_id", "text", min_docs=1)


def test_opq_permutation_pinned_and_l2_invariant(spark):
    """OPQ-lite (r11): the md5-ranked permutation is a fixed, engine-
    portable constant (pinned so the DuckDB oracle's spliced literal
    cannot drift), permute_embedding rejects non-permutations, and L2
    distances are invariant under it."""
    from hdfs_stream_processing_spark.operators.similarity import (
        opq_permutation,
        permute_embedding,
    )

    perm = opq_permutation(8)
    assert perm == [6, 7, 4, 1, 2, 0, 5, 3]
    assert sorted(perm) == list(range(8))

    df = spark.createDataFrame(
        [(1, [float(x) for x in (1, 2, 3, 4, 5, 6, 7, 8)])],
        "vec_id bigint, embedding array<double>",
    )
    out = permute_embedding(df, "embedding", perm).first()["embedding"]
    assert out == [7.0, 8.0, 5.0, 2.0, 3.0, 1.0, 6.0, 4.0]

    with pytest.raises(ValueError, match="permutation"):
        permute_embedding(df, "embedding", [0, 1, 1, 3])


def test_pq_rotate_beats_plain_on_anisotropic(spark):
    """The r11 rotation contract: on the correlated fixture (all signal
    in dims 0-1), permuted-layout PQ achieves recall@10 = 1.0 on every
    query while raw-layout PQ stays strictly below on average — the
    OPQ claim, value-level."""
    from hdfs_stream_processing_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["pq_rotate"](spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r.recall_rot == 1.0 for r in rows)
    avg_rot = sum(r.recall_rot for r in rows) / len(rows)
    avg_plain = sum(r.recall_plain for r in rows) / len(rows)
    assert avg_rot > avg_plain
    assert any(r.recall_plain < 1.0 for r in rows)


def test_scrub_spans_keeps_exactly_one_occurrence(spark):
    """r11 scrub contract, hand-computed: 'a b c d' duplicated across
    docs 1/2/3 — only doc 1 (smallest (doc_id, off)) keeps it; unique
    tokens always survive; counts reconcile."""
    from hdfs_stream_processing_spark.operators.llmdata import scrub_spans

    rows = [
        (1, "a b c d x1 y1"),
        (2, "p2 a b c d q2"),
        (3, "a b c d z3 w3 v3"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in scrub_spans(df, "doc_id", "text", k=4, min_docs=2).collect()}
    assert out[1].clean_text == "a b c d x1 y1" and out[1].n_removed == 0
    assert out[2].clean_text == "p2 q2" and out[2].n_removed == 4
    assert out[3].clean_text == "z3 w3 v3" and out[3].n_removed == 4
    assert all(out[i].n_tokens == len(rows[i - 1][1].split()) for i in (1, 2, 3))


def test_scrub_spans_keeper_coverage_wins_overlap(spark):
    """A token covered by BOTH a keeper window and a non-keeper
    duplicated window survives (keeper coverage wins), so the kept
    copy is never chewed up by an overlapping duplicate."""
    from hdfs_stream_processing_spark.operators.llmdata import scrub_spans

    # doc 1: 'a b c' (keeper, off 0) overlaps 'b c e' (dup with doc 3,
    # keeper is doc 1 off 1 too).  doc 1 keeps everything.
    rows = [
        (1, "a b c e f1"),
        (2, "g2 a b c h2"),
        (3, "i3 b c e j3"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in scrub_spans(df, "doc_id", "text", k=3, min_docs=2).collect()}
    assert out[1].clean_text == "a b c e f1" and out[1].n_removed == 0
    assert out[2].clean_text == "g2 h2"
    assert out[3].clean_text == "i3 j3"


def test_token_shingles_and_span_merge(spark):
    """r11 refactor: the shared shingle head + gaps-and-islands tail
    compose back into duplicated_spans exactly."""
    import pytest

    from hdfs_stream_processing_spark.operators.llmdata import (
        duplicated_spans,
        spans_from_marked,
        token_shingles,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "x y a b c d z w"),
        ],
        "doc_id bigint, text string",
    )
    sh = token_shingles(docs, "doc_id", "text", k=3)
    # doc 1 has 6 windows (8 tokens, k=3); offsets 0-based via posexplode
    assert sh.where(F.col("doc_id") == 1).count() == 6
    dup = (
        sh.groupBy("_sh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("_sh")
    )
    spans = {
        (r.doc_id, r.span_start, r.span_len)
        for r in spans_from_marked(sh.join(dup, "_sh"), "doc_id", k=3).collect()
    }
    # shared run "a b c d": windows (abc, bcd) -> one merged span of 4
    assert spans == {(1, 0, 4), (2, 2, 4)}
    direct = {
        (r.doc_id, r.span_start, r.span_len)
        for r in duplicated_spans(docs, "doc_id", "text", k=3).collect()
    }
    assert direct == spans

    with pytest.raises(ValueError):
        token_shingles(docs, "doc_id", "text", k=1)


def test_split_assign_is_md5_deterministic(spark):
    """r11 train/val/test split: assignment equals the manual md5
    bucket computation row-for-row, and bad weight vectors are
    rejected."""
    import hashlib

    import pytest

    from hdfs_stream_processing_spark.operators.llmdata import split_assign

    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id bigint")
    got = {
        r.doc_id: r.split
        for r in split_assign(
            df, "doc_id", [("train", 80), ("val", 10), ("test", 10)]
        ).collect()
    }

    def expect(i: int) -> str:
        b = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    assert got == {i: expect(i) for i in range(200)}
    assert set(got.values()) == {"train", "val", "test"}

    with pytest.raises(ValueError):
        split_assign(df, "doc_id", [("train", 80), ("val", 10)])
    with pytest.raises(ValueError):
        split_assign(df, "doc_id", [])


def test_bpe_train_deep_driver_matches_distributed(spark, monkeypatch):
    """r15 (VERDICT r14 #7): the driver-side 16-level BPE trainer must
    equal the staged distributed chain symbol-for-symbol, count-for-
    count — including every merge pick's (count DESC, l_sym, r_sym)
    tie rule, which both paths replay transitively."""
    import hdfs_stream_processing_spark.queries  # noqa: F401 — load order
    from hdfs_stream_processing_spark import queries_llmdata as QL

    fn = QL.q_bpe_train_deep
    got_driver = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    monkeypatch.setattr(QL, "_BPE_DRIVER_MAX_WORDS", 0)  # force distributed
    got_dist = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert got_driver == got_dist
    assert len(got_driver) > 0
