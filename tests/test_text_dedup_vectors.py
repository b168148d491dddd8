"""North-star extension operators: text analysis, dedup, similarity search,
multimodal plumbing."""

import math

import pytest
from pyspark.sql import functions as F

from makinage_spark import dedup, materialize, multimodal, pipe, text, vectors

DOCS = [
    (1, "The quick brown fox jumps over the lazy dog and it is fine for all"),
    (2, "The quick brown fox jumps over the lazy dog and it is fine for all"),  # exact dup
    (3, "The quick brown fox jumps over the lazy dog and it is fine for most"),  # near dup
    (4, "Le chat est sur la table et il est content de la vie que les gens"),
    (5, "completely different content about spark engines and distributed systems"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_token_count(spark, docs):
    out = docs.select("doc_id", text.token_count("text").alias("n"))
    got = {r.doc_id: r.n for r in out.collect()}
    assert got[1] == 15 and got[5] == 9


def test_language_id(spark, docs):
    out = docs.select("doc_id", text.language_id("text").alias("lang"))
    got = {r.doc_id: r.lang for r in out.collect()}
    assert got[1] == "en" and got[4] == "fr"


def test_quality_score_range(spark, docs):
    out = docs.select(text.quality_score("text").alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in out)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame([(1, "A  b C"), (2, "a b c")], "doc_id long, text string")
    out = df.select(text.fingerprint("text").alias("fp")).collect()
    assert out[0]["fp"] == out[1]["fp"]


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs)
    got = {r.doc_id: r.dup_count for r in out.collect()}
    assert got[1] == 2 and 2 not in got  # doc 2 merged into doc 1
    keep = dedup.exact_dedup_keep(docs)
    assert sorted(r.doc_id for r in keep.collect()) == [1, 3, 4, 5]


def test_minhash_lsh_pairs(spark, docs):
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=16, bands=8)
    got = sorted((r.a, r.b) for r in pairs.collect())
    assert (1, 2) in got  # exact dup always collides
    assert (1, 3) in got  # near dup collides in some band
    assert (1, 5) not in got and (4, 5) not in got


def test_ngram_jaccard_pairs(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r.a, r.b): r.jaccard for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.5 <= got[(1, 3)] < 1.0
    assert (1, 5) not in got


def test_simhash_pairs(spark, docs):
    pairs = dedup.simhash_pairs(docs, max_hamming=4)
    got = sorted((r.a, r.b) for r in pairs.collect())
    assert (1, 2) in got and (1, 3) in got
    assert (1, 5) not in got


def test_simhash_deterministic(spark, docs):
    h1 = docs.select(dedup.simhash("text").alias("h")).collect()
    h2 = docs.select(dedup.simhash("text").alias("h")).collect()
    assert [r.h for r in h1] == [r.h for r in h2]


EMB = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.99, 0.01, 0.0, 0.0]),
    (3, [0.0, 1.0, 0.0, 0.0]),
    (4, [0.0, 0.0, 1.0, 0.0]),
]


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(EMB, "vec_id long, embedding array<float>")


def test_embedding_neardup(spark, emb):
    pairs = dedup.embedding_neardup_pairs(emb, threshold=0.95)
    got = sorted((r.a, r.b) for r in pairs.collect())
    assert got == [(1, 2)]


def test_brute_force_topk(spark, emb):
    out = vectors.brute_force_topk(emb, [1.0, 0.0, 0.0, 0.0], k=2)
    ids = [r.vec_id for r in out.collect()]
    assert ids == [1, 2]


def test_lsh_topk_contains_near(spark, emb):
    out = vectors.lsh_topk(emb, [1.0, 0.0, 0.0, 0.0], k=4, planes=2)
    ids = [r.vec_id for r in out.collect()]
    assert 1 in ids


def test_ivf(spark, emb):
    cents = vectors.ivf_centroids(emb, n_cells=2, sample_rows=10, seed=1)
    out = vectors.ivf_topk(emb, cents, [1.0, 0.0, 0.0, 0.0], k=1, nprobe=2)
    assert out.collect()[0]["vec_id"] == 1


def test_multimodal_decode_plumbing(spark):
    assets = multimodal.synthetic_assets(spark, n=9)
    feats = pipe(assets, multimodal.decode_features(fake=True))
    got = feats.collect()
    assert len(got) == 9
    assert all(len(r.feature) == 8 for r in got)
    # deterministic: same payload → same features
    again = pipe(assets, multimodal.decode_features(fake=True)).collect()
    assert got[0].feature == again[0].feature


def test_multimodal_frame_sampling(spark):
    assets = multimodal.synthetic_assets(spark, n=3)
    frames = pipe(assets, multimodal.sample_frames(every_n=16, max_frames=4))
    got = frames.collect()
    assert {r.asset_id for r in got} == {0, 1, 2}
    assert all(0 <= r.frame_idx < 4 for r in got)


def test_multimodal_real_decode_raises(spark):
    assets = multimodal.synthetic_assets(spark, n=1)
    with pytest.raises(Exception):
        pipe(assets, multimodal.decode_features(fake=False)).collect()


def test_connected_components_chain_and_triangle(spark):
    # chain 1-2-3-4-5 (diameter 4, exercises pointer jumping), triangle
    # 10-11-12, isolated pair (20, 21)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a long, b long",
    )
    from makinage_spark.dedup import connected_components

    got = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_star_forest_proof_requires_unique_bigs(spark):
    """ADVICE r13 #1: the fixpoint proof must reject a node hanging off two
    roots. {(5,1),(4,1),(4,2)} has no small endpoint that is also a big
    one, yet node 4 would be labeled twice."""
    schema = "big long, small long"
    assert not dedup._is_star_forest(
        spark.createDataFrame([(5, 1), (4, 1), (4, 2)], schema)
    )
    assert not dedup._is_star_forest(spark.createDataFrame([(5, 4), (4, 1)], schema))
    assert dedup._is_star_forest(
        spark.createDataFrame([(5, 1), (4, 1), (3, 2)], schema)
    )


def test_pack_sequences_assigns_by_start_offset(spark):
    from makinage_spark.data import pack_sequences

    df = spark.createDataFrame(
        [("s", 1, 60), ("s", 2, 60), ("s", 3, 60), ("s", 4, 60), ("t", 1, 250)],
        "src string, doc long, n_tok long",
    )
    got = {
        (r["src"], r["doc"]): r["seq_id"]
        for r in pack_sequences(df, "n_tok", 100, order_by=["doc"], by=["src"]).collect()
    }
    # starts: 0, 60, 120, 180 → bins 0, 0, 1, 1; t resets per-partition
    assert got == {("s", 1): 0, ("s", 2): 0, ("s", 3): 1, ("s", 4): 1, ("t", 1): 0}


def test_pii_redact_and_counts(spark):
    from makinage_spark.text import pii_counts, pii_redact
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("mail a@b.com and c.d+x@e.org, call 555-123-4567, host 10.0.0.1 end",)],
        "t string",
    )
    counts = pii_counts("t")
    row = df.select(
        pii_redact("t").alias("red"), *[c.alias(k) for k, c in counts.items()]
    ).collect()[0]
    assert row["n_email"] == 2 and row["n_phone"] == 1 and row["n_ip"] == 1
    assert row["red"] == "mail <EMAIL> and <EMAIL>, call <PHONE>, host <IP> end"


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from makinage_spark.dedup import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent[find(u)] = find(v)
    nodes = sorted(parent)
    expected = {}
    roots = {}
    for x in nodes:  # min node id per component, like the operator
        r = find(x)
        roots.setdefault(r, x)
        expected[x] = roots[r]

    pairs = spark.createDataFrame(
        [(min(u, v), max(u, v)) for u, v in edges], "a long, b long"
    )
    got = {r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()}
    assert got == expected


def test_sq8_quantize_range_and_fidelity(spark):
    from makinage_spark.vectors import sq8_quantize, sq8_stats
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, [0.0, 10.0]), (2, [1.0, 20.0]), (3, [2.0, 15.0])],
        "vec_id long, embedding array<float>",
    )
    q = sq8_quantize(df, sq8_stats(df))
    rows = q.collect()
    assert all(0 <= r["qv"] <= 255 for r in rows)
    # min/max of each dim map to code 0/255 exactly
    codes = {(r["vec_id"], r["pos"]): r["qv"] for r in rows}
    assert codes[(1, 0)] == 0 and codes[(3, 0)] == 255
    assert codes[(1, 1)] == 0 and codes[(2, 1)] == 255
    # reconstruction error bounded by half a quantization step
    err = q.select(
        F.max(
            F.abs(F.col("v") - (F.col("mn") + F.col("qv") * (F.col("mx") - F.col("mn")) / 255.0))
            / ((F.col("mx") - F.col("mn")) / 255.0)
        ).alias("e")
    ).collect()[0]["e"]
    assert err <= 0.5 + 1e-9


def test_kmeans_lloyd_separates_obvious_clusters(spark):
    # two tight blobs around (10,10,0,0) and (0,0,10,10); seeds = ids 0 and 1
    # land one in each blob, so 2 rounds must recover the partition exactly
    rows = [
        (0, [10.0, 10.0, 0.0, 0.1]),
        (1, [0.1, 0.0, 10.0, 10.0]),
        (2, [9.9, 10.1, 0.0, 0.0]),
        (3, [0.0, 0.2, 9.8, 10.0]),
        (4, [10.2, 9.8, 0.1, 0.0]),
        (5, [0.0, 0.0, 10.1, 9.9]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.cluster for r in vectors.kmeans_lloyd(df, k=2, iters=2).collect()}
    assert got == {0: 0, 2: 0, 4: 0, 1: 1, 3: 1, 5: 1}


def test_kmeans_lloyd_partitioning_invariant(spark):
    rows = [(i, [float((i * 7) % 5), float((i * 3) % 4), 1.0]) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    one = {r.vec_id: r.cluster
           for r in vectors.kmeans_lloyd(df.coalesce(1), k=3, iters=2).collect()}
    many = {r.vec_id: r.cluster
            for r in vectors.kmeans_lloyd(df.repartition(8), k=3, iters=2).collect()}
    assert one == many


def test_ivf_assign_single_centroid_and_null(spark):
    # k=1: least() needs >=2 args, so the assign degenerates to a constant;
    # a NULL embedding belongs to no cell -> NULL cell id (documented contract)
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0]), (2, None)],
        "vec_id long, embedding array<float>",
    )
    cell = vectors.ivf_assign([[0.0, 0.0]])
    got = {r.vec_id: r.c for r in df.select("vec_id", cell.alias("c")).collect()}
    assert got == {0: 0, 1: 0, 2: None}
    # k=2 null passthrough
    cell2 = vectors.ivf_assign([[0.0, 0.0], [10.0, 10.0]])
    got2 = {r.vec_id: r.c for r in df.select("vec_id", cell2.alias("c")).collect()}
    assert got2 == {0: 0, 1: 0, 2: None}


def test_kmeans_lloyd_k1(spark):
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r.cluster for r in vectors.kmeans_lloyd(df, k=1, iters=2).collect()}
    assert got == {i: 0 for i in range(6)}


def test_bpe_learn_merges_classic_example(spark):
    # hand-computed: (a,a)=12 wins round 1 and greedy apply gives "aa aa"
    # (never "a aa a"); round 2 is the (e,s)/(s,t) 9-9 tie broken
    # lexicographically; round 3 merges the MERGED symbol pair (es,t);
    # round 4 falls to (l,o)=7
    vocab = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3), ("aaaa", 4)],
        "word string, n long",
    )
    got = [tuple(r) for r in text.bpe_learn_merges(vocab, rounds=4).collect()]
    assert got == [
        (1, "a", "a", "aa", 12),
        (2, "e", "s", "es", 9),
        (3, "es", "t", "est", 9),
        (4, "l", "o", "lo", 7),
    ]


def test_cdc_chunks_byte_shift_robust(spark):
    # one-char PREFIX insertion: fixed-size blocking would misalign every
    # block; content-defined boundaries re-sync within ~one chunk, so most
    # chunk bytes of the shifted twin are still shared with the original
    body = (
        "key agg row scan slow fast table value part hash merge batch line "
        "sort window order data column join small customer query big group "
        "stream spark key agg row scan slow fast table value part hash"
    )
    docs = spark.createDataFrame(
        [(1, body), (2, "z" + body)], "doc_id long, text string"
    )
    ch = dedup.cdc_chunks(docs, "text", "doc_id", k=16, divisor=32)
    fps = ch.groupBy("fp").agg(F.countDistinct("doc_id").alias("nd"))
    rows = (
        ch.join(fps, "fp")
        .groupBy("doc_id")
        .agg(
            F.sum("clen").alias("total"),
            F.sum(F.when(F.col("nd") > 1, F.col("clen")).otherwise(0)).alias(
                "shared"
            ),
        )
        .collect()
    )
    got = {r.doc_id: r.shared / r.total for r in rows}
    assert got[2] > 0.5, got  # most of the shifted twin re-syncs
    # chunks reassemble exactly: per-doc lengths sum to document length
    lens = {r.doc_id: r.total for r in rows}
    assert lens[1] == len(body) and lens[2] == len(body) + 1


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="abc xyz", min_size=1, max_size=120),
        min_size=1,
        max_size=6,
    )
)
def test_cdc_chunks_reassembly_property(spark, texts):
    # chunks partition the document exactly: per-doc lengths sum to the
    # document length and every chunk is non-empty, for arbitrary text
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ch = dedup.cdc_chunks(docs, "text", "doc_id", k=16, divisor=8)
    got = {
        r.doc_id: (r.total, r.mn)
        for r in ch.groupBy("doc_id")
        .agg(F.sum("clen").alias("total"), F.min("clen").alias("mn"))
        .collect()
    }
    for i, t in enumerate(texts):
        assert got[i][0] == len(t)
        assert got[i][1] >= 1


@settings(max_examples=6, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    )
)
def test_bpe_apply_reassembly_property(spark, words):
    # merging never loses or reorders characters: symbols concatenate back
    # to the original word under any merge table
    docs = spark.createDataFrame([(w,) for w in words], "word string")
    out = docs.select(
        "word",
        text.bpe_apply_merges(
            "word", [("a", "b"), ("ab", "c"), ("c", "d"), ("a", "a")]
        ).alias("rep"),
    )
    for r in out.collect():
        assert r.rep.replace(" ", "") == r.word


def test_bpe_apply_merges_greedy_and_rank_order(spark):
    words = spark.createDataFrame(
        [("aaaa",), ("join",), ("low",)], "word string"
    )
    # greedy leftmost: "aaaa" + (a,a) -> "aa aa", never "a aa a"
    one = words.select(
        "word", text.bpe_apply_merges("word", [("a", "a")]).alias("rep")
    )
    got = {r.word: r.rep for r in one.collect()}
    assert got["aaaa"] == "aa aa"
    assert got["low"] == "l o w"
    # rank order: later merges see earlier merges' symbols
    chain = words.select(
        "word",
        text.bpe_apply_merges(
            "word", [("a", "a"), ("aa", "aa"), ("j", "o"), ("i", "n"), ("jo", "in")]
        ).alias("rep"),
    )
    got = {r.word: r.rep for r in chain.collect()}
    assert got["aaaa"] == "aaaa"  # (a,a) twice then (aa,aa)
    assert got["join"] == "join"  # (j,o) + (i,n) then (jo,in)


def test_bpe_apply_no_false_tail_match(spark):
    # last symbol "ba" must NOT satisfy a merge whose left is "a"
    words = spark.createDataFrame([("bac",)], "word string")
    out = words.select(
        text.bpe_apply_merges("word", [("b", "a"), ("a", "c")]).alias("rep")
    )
    assert out.collect()[0].rep == "ba c"


@settings(max_examples=8, deadline=None)
@given(
    docs_sets=st.lists(
        st.sets(st.sampled_from("abcdefgh"), min_size=1, max_size=6),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_prefix_filter_pairs_is_lossless(spark, docs_sets, threshold):
    """PPJoin prefix filtering returns EXACTLY the brute-force all-pairs
    answer at any threshold — the losslessness theorem, property-checked
    against a plain-Python O(n²) reference."""
    rows = [(i, sorted(s)) for i, s in enumerate(docs_sets)]
    expect = {}
    for i, a in rows:
        for j, b in rows:
            if i < j:
                inter = len(set(a) & set(b))
                jac = inter / (len(a) + len(b) - inter)
                if jac >= threshold:
                    expect[(i, j)] = inter
    df = spark.createDataFrame(rows, "doc_id long, items array<string>")
    out = dedup.prefix_filter_pairs(df, "items", "doc_id", threshold=threshold)
    got = {(r.a, r.b): r.inter for r in out.collect()}
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(
    docs_sets=st.lists(
        st.sets(st.sampled_from("abcdefgh"), min_size=1, max_size=6),
        min_size=2,
        max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
def test_containment_pairs_is_lossless(spark, docs_sets, threshold):
    """Asymmetric containment prefix filtering returns EXACTLY the
    brute-force all-ordered-pairs answer at any threshold — the
    containment form of the losslessness theorem, property-checked against
    a plain-Python O(n²) reference (r12: the emit-once refactor made the
    pair stream duplicate-free BY CONSTRUCTION, so this also pins that no
    ordered pair is lost or doubled by the __pre suppression)."""
    rows = [(i, sorted(s)) for i, s in enumerate(docs_sets)]
    expect = {}
    for i, a in rows:
        for j, b in rows:
            if i != j:
                inter = len(set(a) & set(b))
                if inter / len(a) >= threshold:
                    expect[(i, j)] = inter
    df = spark.createDataFrame(rows, "doc_id long, items array<string>")
    out = dedup.containment_pairs(df, "items", "doc_id", threshold=threshold)
    collected = [(r.a, r.b, r.inter) for r in out.collect()]
    assert len(collected) == len({(a, b) for a, b, _ in collected})
    assert {(a, b): i for a, b, i in collected} == expect


def test_multimodal_real_ppm_decode(spark):
    """REAL image bytes through the real decoder: a hand-built 2x2 binary
    PPM (red, green, blue, white pixels) must yield exact channel means and
    luminance range — no codec library involved."""
    raster = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    ppm = b"P6\n# test image\n2 2\n255\n" + raster
    img = multimodal.decode_ppm(ppm)
    assert img.shape == (2, 2, 3) and img[0, 0, 0] == 255 and img[1, 1, 1] == 255
    df = spark.createDataFrame(
        [(1, "image/x-portable-pixmap", ppm, (2, 2, 0, "ppm"))],
        schema=multimodal.ASSET_SCHEMA,
    )
    row = pipe(df, multimodal.decode_features(fake=False)).collect()[0]
    assert (row.width, row.height) == (2, 2)
    f = row.feature
    # mean R/G/B over {red, green, blue, white} = (255+255)/4 each = 127.5
    assert f[0] == 2.0 and f[1] == 2.0
    assert abs(f[2] - 127.5) < 1e-6 and abs(f[3] - 127.5) < 1e-6
    assert abs(f[4] - 127.5) < 1e-6
    assert abs(f[5] - 85.0) < 1e-6      # min luminance: single-channel pixel
    assert abs(f[6] - 255.0) < 1e-6     # max luminance: white


def test_multimodal_real_wav_decode(spark):
    """REAL audio bytes via the stdlib wave writer → real decoder: a 1 kHz
    16-bit square wave's RMS, peak, duration and zero-crossing rate are
    physically exact."""
    import io
    import wave

    import numpy as np

    sr, n = 8000, 8000  # one second
    # square wave, period 8 samples (1 kHz at 8 kHz)
    samples = (np.where(np.arange(n) % 8 < 4, 16384, -16384)).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(samples.tobytes())
    payload = buf.getvalue()
    df = spark.createDataFrame(
        [(7, "audio/wav", payload, (0, 0, 1000, "pcm16"))],
        schema=multimodal.ASSET_SCHEMA,
    )
    row = pipe(df, multimodal.decode_features(fake=False)).collect()[0]
    f = row.feature
    assert f[0] == 8000.0 and f[1] == 8000.0      # sample rate, n samples
    assert abs(f[2] - 1.0) < 1e-9                  # duration 1s
    assert abs(f[3] - 0.5) < 1e-6                  # RMS of +-0.5 square
    assert abs(f[4] - 0.5) < 1e-6                  # peak
    # zero crossings: 2 per 8-sample period, minus the one that would land
    # past the final sample -> 2*1000 - 1
    assert f[6] == 1999.0


def test_multimodal_real_decode_unsupported_format_raises(spark):
    df = spark.createDataFrame(
        [(1, "image/jpeg", b"\xff\xd8\xff", (1, 1, 0, "jpeg"))],
        schema=multimodal.ASSET_SCHEMA,
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="codec libs|NotImplemented"):
        pipe(df, multimodal.decode_features(fake=False)).collect()


def test_repeated_ngram_spans_merge_and_localize(spark):
    # doc a and doc b share the 10-token run w1..w10 -> with n=3 the sliding
    # windows chain into ONE maximal span [start, start+9] in each doc;
    # doc c is all-unique and must produce no span.
    shared = " ".join(f"w{i}" for i in range(1, 11))
    rows = [
        ("a", f"{shared} apple banana cherry"),
        ("b", f"alpha beta {shared}"),
        ("c", " ".join(f"u{i}" for i in range(30))),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = text.repeated_ngram_spans(docs, n=3, min_count=2)
    got = {r.doc_id: (r.span_start, r.span_end, r.span_tokens, r.n_grams)
           for r in out.collect()}
    # 10 shared tokens, n=3 -> 8 witnessing windows merged into one island
    assert got == {"a": (1, 10, 10, 8), "b": (3, 12, 10, 8)}


def test_repeated_ngram_spans_within_doc_repeat_splits_islands(spark):
    # the same trigram repeated twice inside ONE doc, separated by unique
    # filler -> two disjoint spans (islands don't bridge the gap)
    doc = "x y z q1 q2 q3 q4 x y z"
    docs = spark.createDataFrame([("d", doc)], "doc_id string, text string")
    out = text.repeated_ngram_spans(docs, n=3, min_count=2)
    spans = sorted((r.span_start, r.span_end) for r in out.collect())
    assert spans == [(1, 3), (8, 10)]


def _ref_repeated_spans(docs, n, min_count):
    """Pure-python oracle for repeated_ngram_spans: dict doc_id -> token list."""
    from collections import Counter

    grams = []
    for d, toks in docs.items():
        for i in range(len(toks) - n + 1):
            grams.append((d, i + 1, tuple(toks[i : i + n])))
    counts = Counter(g for _, _, g in grams)
    spans = {}
    for d, pos, g in grams:
        if counts[g] >= min_count:
            spans.setdefault(d, []).append((pos, pos + n - 1))
    out = []
    for d, ivs in spans.items():
        ivs.sort()
        cur_s, cur_e, k = ivs[0][0], ivs[0][1], 1
        for s, e in ivs[1:]:
            if s <= cur_e:  # overlap/adjacent window chains the island
                cur_e = max(cur_e, e)
                k += 1
            else:
                out.append((d, cur_s, cur_e, cur_e - cur_s + 1, k))
                cur_s, cur_e, k = s, e, 1
        out.append((d, cur_s, cur_e, cur_e - cur_s + 1, k))
    return sorted(out)


def test_repeated_ngram_spans_property_vs_python_oracle(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    tok = st.sampled_from(["a", "b", "c", "d"])  # tiny alphabet forces repeats

    @given(
        st.lists(st.lists(tok, min_size=0, max_size=24), min_size=1, max_size=6),
        st.integers(min_value=2, max_value=4),
    )
    @settings(max_examples=12, deadline=None)
    def _case(docs_toks, n):
        docs = {f"d{i}": t for i, t in enumerate(docs_toks)}
        rows = [(d, " ".join(t)) for d, t in docs.items()]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        got = sorted(
            (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_grams)
            for r in text.repeated_ngram_spans(df, n=n, min_count=2).collect()
        )
        assert got == _ref_repeated_spans(docs, n, 2)

    _case()


def test_strip_repeated_spans_cuts_shared_run(spark):
    shared = " ".join(f"w{i}" for i in range(1, 11))
    rows = [
        ("a", f"{shared} apple banana cherry"),
        ("b", f"alpha beta {shared}"),
        ("c", " ".join(f"u{i}" for i in range(30))),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out = {r.doc_id: r for r in text.strip_repeated_spans(docs, n=3, min_count=2).collect()}
    assert out["a"].clean_text == "apple banana cherry"
    assert (out["a"].n_tokens, out["a"].kept_tokens) == (13, 3)
    assert out["b"].clean_text == "alpha beta"
    assert out["c"].kept_tokens == 30  # untouched doc passes through whole


def test_minhash_bucket_cap_drops_mega_bucket(spark):
    # 12 identical template docs form one mega-bucket in every band (12*11/2
    # = 66 pairs); two genuine near-dups differ by one char. A cap below 12
    # kills the template pairs but keeps the near-dup pair; a loose cap is a
    # no-op vs the uncapped result.
    rows = [(f"t{i:02d}", "lorem ipsum dolor sit amet consectetur adipiscing elit")
            for i in range(12)]
    rows += [("x1", "the quick brown fox jumps over the lazy dog tonight"),
             ("x2", "the quick brown fox jumps over the lazy dog tonite")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    uncapped = {(r.a, r.b) for r in dedup.minhash_lsh_pairs(df).collect()}
    capped = {(r.a, r.b) for r in
              dedup.minhash_lsh_pairs(df, bucket_cap=8).collect()}
    loose = {(r.a, r.b) for r in
             dedup.minhash_lsh_pairs(df, bucket_cap=1000).collect()}
    assert ("x1", "x2") in uncapped and ("x1", "x2") in capped
    assert not any(a.startswith("t") for a, _ in capped)
    assert len(uncapped - capped) == 66
    assert loose == uncapped


def test_minhash_pairs_duplicate_free_without_distinct(spark):
    """Emit-once (r11): the pair stream is duplicate-free BY CONSTRUCTION —
    no global distinct in the plan. Two identical docs collide in all four
    bands; the raw (un-set-ified) output must carry their pair exactly
    once, and the plan must contain no Aggregate-based dedup of the pair
    stream (the old distinct was an s²-row shuffle, measured at ~85% of the
    hot-corpus pipeline — SCALING.md r11)."""
    T = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
         "eiusmod tempor")
    df = spark.createDataFrame(
        [("y1", T), ("y2", T), ("z1", "a completely unrelated document "
                                      "about zebras and quartz")],
        "doc_id string, text string",
    )
    pairs = dedup.minhash_lsh_pairs(df)
    rows = [(r.a, r.b) for r in pairs.collect()]
    assert rows == [("y1", "y2")]  # once, not four times
    # the signature build keeps its groupBy(doc_id) aggregate; what must be
    # GONE is any aggregate keyed on the PAIR columns (the old distinct)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "keys=[a#" not in plan and "Deduplicate" not in plan, plan


def test_minhash_cap_emits_pair_whose_first_equal_band_is_dropped(spark):
    """The capped emit-once edge the __kept flags exist for: a pair whose
    EARLIEST equal band sits in a capped-away mega bucket but which also
    collides in a later, small (kept) band must still surface — the capped
    contract is "equal in ANY kept band", so first-hit suppression must not
    count dropped bands. Fixture (searched deterministically): 'ah ' + T
    keeps the template's band-0/1/3 buckets (mega with 10 copies of T →
    dropped at cap=8) but moves band 2 — so the identical pair (y1, y2) is
    equal at bands 0,1,3 inside dropped buckets and at band 2 in its own
    2-doc kept bucket. A naive emit-once (suppress on any earlier equality)
    would silently lose the pair. The whole output is also re-derived from
    the band table + cap semantics in-test as an independent reference."""
    T = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
         "eiusmod tempor")
    rows = [(f"t{i:02d}", T) for i in range(10)]
    rows += [("y1", "ah " + T), ("y2", "ah " + T)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    cap = 8
    # fixture sanity: y's band table agrees with the template's bucket at
    # band 0 (its first equal band WILL be dropped) and differs somewhere
    bt = {(r.doc_id, r.band): r.bucket
          for r in dedup.minhash_band_table(df).collect()}
    same = [b for b in range(4) if bt[("y1", b)] == bt[("t00", b)]]
    assert 0 in same and len(same) < 4, same
    # independent reference: pairs equal in any band whose bucket size <= cap
    from collections import Counter

    sizes = Counter((b, bt[(d, b)]) for d in {d for d, _ in bt} for b in range(4))
    ids = sorted({d for d, _ in bt})
    ref = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if any(
            bt[(a, k)] == bt[(b, k)] and sizes[(k, bt[(a, k)])] <= cap
            for k in range(4)
        )
    }
    assert ("y1", "y2") in ref  # the fixture really contains the edge
    out = [(r.a, r.b) for r in
           dedup.minhash_lsh_pairs(df, bucket_cap=cap).collect()]
    assert len(out) == len(set(out))  # still duplicate-free under the cap
    assert set(out) == ref


def test_simhash_block_cap_drops_mega_block(spark):
    rows = [(f"t{i:02d}", "lorem ipsum dolor sit amet consectetur adipiscing elit")
            for i in range(12)]
    rows += [("x1", "the quick brown fox jumps over the lazy dog tonight"),
             ("x2", "the quick brown fox jumps over the lazy dog tonite")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    uncapped = {(r.a, r.b) for r in dedup.simhash_pairs(df).collect()}
    capped = {(r.a, r.b) for r in dedup.simhash_pairs(df, block_cap=8).collect()}
    loose = {(r.a, r.b) for r in dedup.simhash_pairs(df, block_cap=1000).collect()}
    assert not any(a.startswith("t") for a, _ in capped)
    assert loose == uncapped


def test_prefix_filter_pairs_duplicate_free_without_distinct(spark):
    """Emit-once for the PPJoin mines (r12): two identical sets share EVERY
    prefix token, so the old plan emitted their pair once per shared token
    and collapsed with a global distinct(); the pair must surface exactly
    once (at the canonically-first shared token, via the capped __pre
    carry + arrays_overlap suppression). r13: the plan carries a pair-id
    dropDuplicates over the LONG-doc arms only (carry-cap backstop); on
    this all-short fixture those arms are empty, so the dedup sees zero
    rows and the exactly-once output comes from the suppression alone —
    pinned by the short arms' join count matching the output count."""
    items = [f"w{j}" for j in range(12)]
    df = spark.createDataFrame(
        [("y1", items), ("y2", items), ("z1", [f"v{j}" for j in range(9)])],
        "doc_id string, items array<string>",
    )
    out = dedup.prefix_filter_pairs(df, "items", threshold=0.8)
    rows = [(r.a, r.b) for r in out.collect()]
    assert rows == [("y1", "y2")]  # once, not once per shared prefix token
    # containment: the identical pair is mutually contained — BOTH directions
    # appear, each exactly once (emitted at the first shared token)
    cont = dedup.containment_pairs(df, "items", threshold=0.8)
    crows = sorted((r.a, r.b) for r in cont.collect())
    assert crows == [("y1", "y2"), ("y2", "y1")]


def test_ppjoin_carry_cap_far_path_is_lossless(spark, monkeypatch):
    """r13 carry cap: pairs whose first shared token sits beyond
    _PRE_CARRY_CAP on a side emit MORE than one candidate row (the capped
    __pre arrays cannot see the earlier match) and the verified-survivor
    dropDuplicates must absorb them bit-exactly. Cap monkeypatched to 1 so
    the far path actually executes on a fixture whose first shared token
    sits at prefix position 3 of both docs (behind three unique dfr=1 pad
    tokens); output must equal the plain-Python brute force exactly once
    per pair, both mines."""
    monkeypatch.setattr(dedup, "_PRE_CARRY_CAP", 1)
    rows = [
        (0, ["u0a", "u0b", "u0c", "s1", "s2", "s3", "s4", "s5"]),
        (1, ["u1a", "u1b", "u1c", "s1", "s2", "s3", "s4", "s5"]),
        (2, ["u2a", "s1", "s2", "s3", "s4", "s5", "s6", "s7"]),
    ]
    t = 0.3
    expect_j = {}
    expect_c = {}
    for i, a in rows:
        for j, b in rows:
            inter = len(set(a) & set(b))
            if i < j:
                jac = inter / (len(a) + len(b) - inter)
                if jac >= t:
                    expect_j[(i, j)] = inter
            if i != j and inter / len(a) >= t:
                expect_c[(i, j)] = inter
    df = spark.createDataFrame(rows, "doc_id long, items array<string>")
    got_j = [
        ((r.a, r.b), r.inter)
        for r in dedup.prefix_filter_pairs(df, "items", threshold=t).collect()
    ]
    assert len(got_j) == len(dict(got_j))  # exactly once per pair
    assert dict(got_j) == expect_j
    got_c = [
        ((r.a, r.b), r.inter)
        for r in dedup.containment_pairs(df, "items", threshold=t).collect()
    ]
    assert len(got_c) == len(dict(got_c))
    assert dict(got_c) == expect_c


def _mixed_length_sets(seed):
    """Seeded mixed-length item sets: short random sets over a small
    vocabulary, plus near-dup clusters of LONG sets (|s| ≈ 200) whose
    ~60-75 unique pad tokens sort first, so their first shared token sits
    past the real carry cap and many of their prefixes (> 64 at t = 0.5)
    are longer than the cap; a few short subsets of a cluster core make
    short-in-long containments."""
    import random

    rnd = random.Random(seed)
    vocab = [f"v{i}" for i in range(40)]
    sets = [rnd.sample(vocab, rnd.randint(3, 30)) for _ in range(30)]
    for c in range(4):
        core = [f"c{c}_{i}" for i in range(rnd.randint(120, 150))]
        for d in range(3):
            pads = [f"p{c}_{d}_{i}" for i in range(rnd.randint(60, 75))]
            sets.append(pads + [t for t in core if rnd.random() > 0.02])
        sets.append(rnd.sample(core, 10))
    return list(enumerate(sets))


@pytest.mark.parametrize("seed", [3, 11])
def test_ppjoin_long_arms_at_real_carry_cap(spark, seed):
    """The PPJoin long arms at the REAL _PRE_CARRY_CAP (no monkeypatch):
    both mines equal a plain-Python O(n²) brute force, each pair exactly
    once, on mixed-length sets where some expected pairs join two docs
    whose exploded sides exceed the cap."""
    t, cap = 0.5, dedup._PRE_CARRY_CAP
    rows = _mixed_length_sets(seed)
    plen = {i: len(s) - math.ceil(t * len(s)) + 1 for i, s in rows}
    size = {i: len(s) for i, s in rows}
    expect_j, expect_c = {}, {}
    for i, a in rows:
        for j, b in rows:
            inter = len(set(a) & set(b))
            if i < j and inter / (len(a) + len(b) - inter) >= t:
                expect_j[(i, j)] = inter
            if i != j and inter / len(a) >= t:
                expect_c[(i, j)] = inter
    assert any(plen[a] > cap and plen[b] > cap for a, b in expect_j)
    assert any(plen[a] > cap and size[b] > cap for a, b in expect_c)
    assert any(plen[a] <= cap < size[b] for a, b in expect_c)
    df = spark.createDataFrame(rows, "doc_id long, items array<string>")
    with materialize.scope():
        got_j = [((r.a, r.b), r.inter) for r in
                 dedup.prefix_filter_pairs(df, "items", threshold=t).collect()]
        got_c = [((r.a, r.b), r.inter) for r in
                 dedup.containment_pairs(df, "items", threshold=t).collect()]
    assert len(got_j) == len(dict(got_j)) and dict(got_j) == expect_j
    assert len(got_c) == len(dict(got_c)) and dict(got_c) == expect_c


@settings(max_examples=6, deadline=None)
@given(
    docs_words=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "omega",
                             "kappa", "sigma", "zeta"]),
            min_size=1, max_size=8,
        ),
        min_size=2, max_size=8,
    ),
    bits=st.sampled_from([8, 32]),
)
def test_simhash_matches_pure_python_oracle(spark, docs_words, bits):
    """Bit-level lock on the simhash contract against a fully independent
    pure-Python implementation (md5 hex prefix → per-bit token majority,
    MSB-first within the prefix value), plus the full pigeonhole pair mine
    (emit-once, r12) against a python blocking+hamming reference."""
    import hashlib

    def py_simhash(text: str) -> int:
        toks = sorted({w for w in text.lower().split() if w})
        if not toks:
            return 0
        vals = [int(hashlib.md5(t.encode()).hexdigest()[: bits // 4], 16)
                for t in toks]
        sh = 0
        for j in range(bits):
            ones = sum((v >> (bits - 1 - j)) & 1 for v in vals)
            if 2 * ones > len(vals):
                sh |= 1 << j
        return sh

    rows = [(f"d{i}", " ".join(ws)) for i, ws in enumerate(docs_words)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = {r.doc_id: r.sh for r in dedup.simhash_df(df, bits=bits).collect()}
    exp = {d: py_simhash(t) for d, t in rows}
    assert got == exp
    # pair mine vs python blocking reference (agree on >=1 whole block AND
    # hamming within radius), output duplicate-free
    blocks, mh = 4, bits // 2
    bb = bits // blocks
    ids = sorted(exp)
    ref = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(exp[a] ^ exp[b]).count("1") <= mh
        and any(
            (exp[a] >> (k * bb)) & ((1 << bb) - 1)
            == (exp[b] >> (k * bb)) & ((1 << bb) - 1)
            for k in range(blocks)
        )
    }
    out = [(r.a, r.b) for r in dedup.simhash_pairs(
        df, bits=bits, blocks=blocks, max_hamming=mh).collect()]
    assert len(out) == len(set(out))
    assert set(out) == ref


def test_simhash_pairs_duplicate_free_without_distinct(spark):
    """Emit-once for the simhash mine (r12, carrying the r11 minhash result
    over): a pair within the Hamming radius typically agrees on several
    whole blocks; it must surface exactly once (at its first agreeing
    block) with NO pair-keyed aggregate in the plan — the old global
    distinct() was a full shuffle of the pair stream."""
    T = "the quick brown fox jumps over the lazy dog tonight"
    df = spark.createDataFrame(
        [("y1", T), ("y2", T), ("z1", "completely unrelated zebra quartz")],
        "doc_id string, text string",
    )
    pairs = dedup.simhash_pairs(df, max_hamming=3)
    rows = [(r.a, r.b) for r in pairs.collect()]
    assert rows == [("y1", "y2")]  # once, not four times (one per block)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "keys=[a#" not in plan and "Deduplicate" not in plan, plan


def test_simhash_cap_emits_pair_whose_first_agreeing_block_is_dropped(spark):
    """The capped emit-once edge the simhash __kept flags exist for (same
    contract as the minhash test above): a pair whose EARLIEST agreeing
    block sits in a capped-away mega group but which also agrees in a
    later, small (kept) block must still surface. Fixture searched
    deterministically at bits=8/blocks=4 (2-bit blocks → only 4 values per
    block, so mega groups form with a handful of docs): seed 0 puts the
    identical pair (x1, x2) in dropped groups at blocks 0, 2, 3 (sizes
    7/12/5 > cap 3) and in its own 2-doc kept group at block 1. A naive
    emit-once (suppress on any earlier agreement) would silently lose the
    pair. The whole output is re-derived from the hashes + cap semantics
    in-test as an independent reference."""
    import random
    from collections import Counter

    BITS, BLOCKS, CAP = 8, 4, 3
    bb = BITS // BLOCKS
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi", "pi",
             "rho", "sigma", "tau", "ups"]
    random.seed(0)
    rows = [("x1", " ".join(random.sample(vocab, 6)))]
    rows.append(("x2", rows[0][1]))
    for i in range(14):
        rows.append((f"f{i:02d}", " ".join(random.sample(vocab, 6))))
    df = spark.createDataFrame(rows, "doc_id string, text string")
    sh = {r.doc_id: r.sh for r in dedup.simhash_df(df, bits=BITS).collect()}

    def val(d, j):
        return (sh[d] >> (j * bb)) & ((1 << bb) - 1)

    sizes = Counter((j, val(d, j)) for d in sh for j in range(BLOCKS))
    x_kept = [sizes[(j, val("x1", j))] <= CAP for j in range(BLOCKS)]
    # fixture sanity: first agreeing block dropped, a later one kept
    assert not x_kept[0] and any(x_kept[1:]), x_kept
    ids = sorted(sh)
    ref = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if any(
            val(a, k) == val(b, k) and sizes[(k, val(a, k))] <= CAP
            for k in range(BLOCKS)
        )
    }
    assert ("x1", "x2") in ref
    out = [(r.a, r.b) for r in dedup.simhash_pairs(
        df, bits=BITS, blocks=BLOCKS, max_hamming=BITS, block_cap=CAP
    ).collect()]
    assert len(out) == len(set(out))  # still duplicate-free under the cap
    assert set(out) == ref


def test_strip_repeated_spans_property_vs_python_oracle(spark):
    from hypothesis import given, settings
    from hypothesis import strategies as st

    tok = st.sampled_from(["a", "b", "c"])

    def _ref_strip(docs, n):
        spans = {}
        for d, s, e, _, _ in _ref_repeated_spans(docs, n, 2):
            spans.setdefault(d, []).append((s, e))
        out = {}
        for d, toks in docs.items():
            if not toks:
                continue
            sp = spans.get(d, [])
            kept = [t for i, t in enumerate(toks, 1)
                    if not any(s <= i <= e for s, e in sp)]
            out[d] = (len(toks), len(kept), " ".join(kept))
        return out

    @given(
        st.lists(st.lists(tok, min_size=0, max_size=18), min_size=1, max_size=5),
        st.integers(min_value=2, max_value=3),
    )
    @settings(max_examples=10, deadline=None)
    def _case(docs_toks, n):
        docs = {f"d{i}": t for i, t in enumerate(docs_toks)}
        df = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in docs.items()], "doc_id string, text string"
        )
        got = {r.doc_id: (r.n_tokens, r.kept_tokens, r.clean_text)
               for r in text.strip_repeated_spans(df, n=n, min_count=2).collect()}
        assert got == _ref_strip(docs, n)

    _case()


def test_minhash_signature_df_matches_inrow_fold(spark, docs):
    """Batch band tables use the grouped signature, streaming ones the
    in-row fold: the two minima must be bit-identical."""
    grouped = {tuple(r) for r in dedup.minhash_signature_df(docs).collect()}
    inrow = {tuple(r) for r in
             docs.select("doc_id", *dedup.minhash_signature("text")).collect()}
    assert grouped == inrow and len(grouped) > 0


def test_minhash_band_table_streaming_drops_null_text(spark, tmp_path):
    """ADVICE r4: NULL-text docs must drop out of BOTH band-table paths —
    without the guard every degenerate doc folds to one shared sentinel
    bucket and a stream-static screen flags each as a near-dup of every
    other. The streaming path is driven through a file stream."""
    import uuid

    from makinage_spark.streaming import run_available_now

    schema = "doc_id long, text string"
    df = spark.createDataFrame(
        [(1, None), (2, "the quick brown fox jumps over the dog")], schema
    )
    df.coalesce(1).write.parquet(str(tmp_path / "in"))
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "in"))
    grouped = {tuple(r) for r in dedup.minhash_band_table(df).collect()}
    streamed = {tuple(r) for r in run_available_now(
        dedup.minhash_band_table(stream), f"nulltext_{uuid.uuid4().hex[:6]}",
        str(tmp_path / "ck"),
    ).collect()}
    assert grouped == streamed
    assert {r[0] for r in streamed} == {2}


def _planted_corpus():
    """30 planted near-dup pairs (distinct topics, 1-char variants) + a
    20-doc identical-template mega-bucket."""
    import random

    rng = random.Random(7)
    words = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
             "kilo lima mike november oscar papa quebec romeo sierra tango "
             "uniform victor whiskey xray yankee zulu").split()
    rows = []
    planted = set()
    for p in range(30):
        base = " ".join(rng.sample(words, 9)) + f" topic{p:02d}"
        a, b = f"p{p:02d}a", f"p{p:02d}b"
        rows.append((a, base))
        rows.append((b, base[:-1] + "x"))  # 1-char variant
        planted.add((a, b))
    rows += [(f"t{i:02d}", "lorem ipsum dolor sit amet consectetur elit")
             for i in range(20)]
    return rows, planted


def test_minhash_bucket_cap_zero_recall_delta_on_planted(spark):
    """VERDICT r4 task 10: the capped pair path loses ZERO recall on planted
    duplicates outside mega-buckets — capped output restricted to non-template
    pairs equals the uncapped output exactly (the cap's contract: output
    unchanged whenever no bucket exceeds it)."""
    rows, planted = _planted_corpus()
    df = spark.createDataFrame(rows, "doc_id string, text string")
    unc = {(r.a, r.b) for r in dedup.minhash_lsh_pairs(df).collect()}
    cap = {(r.a, r.b) for r in
           dedup.minhash_lsh_pairs(df, bucket_cap=10).collect()}
    tmpl = lambda p: p[0].startswith("t") or p[1].startswith("t")  # noqa: E731
    assert {p for p in cap if not tmpl(p)} == {p for p in unc if not tmpl(p)}
    assert not any(tmpl(p) for p in cap)          # mega-bucket killed
    assert planted <= unc and planted <= cap      # every planted pair found


def test_simhash_block_cap_zero_recall_delta_on_planted(spark):
    rows, planted = _planted_corpus()
    df = spark.createDataFrame(rows, "doc_id string, text string")
    unc = {(r.a, r.b) for r in dedup.simhash_pairs(df).collect()}
    cap = {(r.a, r.b) for r in dedup.simhash_pairs(df, block_cap=10).collect()}
    tmpl = lambda p: p[0].startswith("t") or p[1].startswith("t")  # noqa: E731
    assert {p for p in cap if not tmpl(p)} == {p for p in unc if not tmpl(p)}
    assert not any(tmpl(p) for p in cap)
    # simhash's hamming threshold legitimately misses many short-doc 1-char
    # variants (few features → big per-bit swings); what this test pins is
    # that the CAP costs zero of the pairs the uncapped path finds, while
    # still recalling some planted pairs
    assert planted & cap == planted & unc
    assert len(planted & cap) >= 5


def test_simhash_60bit_scale_config(spark):
    """SCALING.md r5: the 60-bit/4-block configuration (15-bit blocks, 32k
    block values — the scale path once corpus >> 256*cap) produces identical
    hashes from both formulations and still pairs the planted near-dup."""
    rows = [("x1", "the quick brown fox jumps over the lazy dog tonight"),
            ("x2", "the quick brown fox jumps over the lazy dog tonite"),
            ("y1", "completely different text about maritime navigation")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    import pyspark.sql.functions as F

    a = df.select("doc_id", dedup.simhash("text", bits=60).alias("sh"))
    b = dedup.simhash_df(df, bits=60).withColumnRenamed("sh", "sh2")
    j = a.join(b, "doc_id")
    assert all(r.sh == r.sh2 for r in j.collect())
    assert all(0 <= r.sh < (1 << 60) for r in a.collect())
    pairs = {(r.a, r.b) for r in
             dedup.simhash_pairs(df, bits=60, max_hamming=6).collect()}
    assert pairs == {("x1", "x2")}


def test_containment_pairs_asymmetric(spark):
    """Doc-within-doc: a short doc quoted inside a long one has tiny Jaccard
    (union dominated by the container) but containment ~1 — only the
    contained->container direction fires, and the symmetric Jaccard path
    misses the pair entirely."""
    short = "alpha bravo charlie delta echo foxtrot golf hotel"
    filler = " ".join(f"word{i} item{i} thing{i}" for i in range(40))
    rows = [("small", short),
            ("big", filler + " " + short + " " + filler),
            ("other", "completely unrelated content about maritime law")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    toks = df.select("doc_id", text.tokens(F.lower(F.col("text"))).alias("t"))
    grams = toks.filter(F.size("t") >= 5).select(
        "doc_id",
        F.expr("transform(sequence(1, size(t) - 4),"
               " i -> array_join(slice(t, i, 5), ' '))").alias("items"),
    )
    got = {(r.a, r.b): r.containment
           for r in dedup.containment_pairs(grams, "items", threshold=0.8).collect()}
    assert ("small", "big") in got and got[("small", "big")] == 1.0
    assert ("big", "small") not in got          # container not contained
    assert not any("other" in p for p in got)
    # the symmetric path at the same threshold misses it
    jac = {(r.a, r.b) for r in
           dedup.prefix_filter_pairs(grams, "items", threshold=0.8).collect()}
    assert ("big", "small") not in jac and ("small", "big") not in jac


def test_kmeans_fast_path_matches_exact_on_separated_data(spark):
    """exact=False (production doubles) must produce the same clustering as
    the decimal-exact oracle path whenever clusters are separated — the
    paths differ only in arithmetic representation, not algorithm."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = []
    for c in range(4):
        center = np.zeros(8)
        center[c * 2] = 10.0 * (c + 1)
        for i in range(25):
            rows.append((c * 100 + i,
                         (center + rng.normal(0, 0.1, 8)).astype(float).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {r.vec_id: r.cluster
         for r in vectors.kmeans_lloyd(df, k=4, iters=2).collect()}
    b = {r.vec_id: r.cluster
         for r in vectors.kmeans_lloyd(df, k=4, iters=2, exact=False).collect()}
    assert a == b
    assert len(set(a.values())) == 4


def test_kmeans_table_path_matches_literal(spark):
    """The centroid-TABLE assignment path (large-k: one broadcast
    centroid-pack row + in-row array_min argmin, centroids never in the
    plan) must produce assignments identical to the literal path — same
    seeds, same arithmetic (shared _kmeans_dist), same tie-break — in both
    exact and production arithmetic."""
    rows = [(i, [float((i * 7) % 5), float((i * 3) % 4), 1.0]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for exact in (True, False):
        lit = {r.vec_id: r.cluster for r in vectors.kmeans_lloyd(
            df, k=5, iters=3, exact=exact).collect()}
        tbl = {r.vec_id: r.cluster for r in vectors._kmeans_lloyd_table(
            df, 5, 3, "embedding", "vec_id", exact).collect()}
        assert lit == tbl


def test_kmeans_table_path_argmin_tie_breaks_low_cluster(spark):
    """Exact distance ties must assign to the LOWEST cluster id — the
    min_by(cluster, struct(dist, cluster)) contract the r12 in-row
    array_min argmin replaced (array_min over (dist, cluster) structs is
    the same lexicographic minimum, independent of centroid-pack order).
    Fixture: vectors on the perpendicular bisector of the two seed
    vectors, so both arithmetics see bit-equal distances to clusters 0
    and 1; iters=1 keeps the seeds as the assignment centroids."""
    rows = [
        (0, [0.0, 2.0]),   # seed → cluster 0
        (1, [2.0, 0.0]),   # seed → cluster 1
        (2, [0.0, 0.0]),   # equidistant to both seeds
        (3, [1.0, 1.0]),   # equidistant to both seeds
        (4, [2.0, 2.0]),   # equidistant to both seeds
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for exact in (True, False):
        got = {r.vec_id: r.cluster for r in vectors._kmeans_lloyd_table(
            df, 2, 1, "embedding", "vec_id", exact).collect()}
        assert got == {0: 0, 1: 1, 2: 0, 3: 0, 4: 0}


def test_kmeans_two_level_exhaustive_equals_flat(spark):
    """probe_cells >= kc makes the coarse level a no-op filter: the
    two-level argmin over the SAME centroid table must equal the flat
    table argmin bit-for-bit (kmeans_centroid_table returns the centroids
    the Lloyd assignment was computed against, not one update past them)."""
    rows = [(i, [float((i * 7) % 5), float((i * 3) % 4), 1.0]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with materialize.scope():
        cents = materialize.materialize(
            vectors.kmeans_centroid_table(df, k=9, iters=2, exact=False))
        flat = {r.vec_id: r.cluster for r in vectors._kmeans_lloyd_table(
            df, 9, 2, "embedding", "vec_id", False).collect()}
        exh = {r.vec_id: r.cluster for r in vectors.kmeans_assign_two_level(
            df, cents, probe_cells=10**6).collect()}
        assert flat == exh


def test_kmeans_two_level_separated_clusters_pruned_probe(spark):
    """On well-separated data even probe_cells=1 must assign correctly:
    each blob's vectors, its centroid, and that centroid's supercell are
    mutually nearest, so coarse pruning loses nothing."""
    rows = []
    for c in range(4):
        for i in range(10):
            base = [0.0] * 8
            base[c * 2] = 50.0 * (c + 1)
            base[c * 2 + 1] = float(i % 3)  # tiny within-blob spread
            rows.append((c * 100 + i, base))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with materialize.scope():
        cents = materialize.materialize(
            vectors.kmeans_centroid_table(df, k=4, iters=2, exact=False))
        flat = {r.vec_id: r.cluster for r in vectors._kmeans_lloyd_table(
            df, 4, 2, "embedding", "vec_id", False).collect()}
        two = {r.vec_id: r.cluster for r in vectors.kmeans_assign_two_level(
            df, cents, probe_cells=1).collect()}
        assert two == flat


def test_kmeans_two_level_twins_co_assign(spark):
    """The dedup-relevant property of the pruned two-level path: vectors
    that are near-IDENTICAL see the same supercell distances and the same
    within-cell argmin, so they co-assign even at probe_cells=1 — pruning
    divergence only affects borderline vectors sitting near cell
    equidistance, which are not near-duplicates. SemDeDup recall therefore
    survives coarse pruning even when global agreement drops (0.42 on the
    structure-free 25x fixture at k=1000, SCALING.md r6)."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = []
    for i in range(120):
        base = [float(i % 12) * 10.0, float(i // 12) * 10.0, 1.0, 0.0]
        rows.append((i, base))
        if i < 40:  # twins of the first 40
            noisy = (np.asarray(base) + rng.normal(0, 1e-4, 4)).tolist()
            rows.append((1000 + i, noisy))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with materialize.scope():
        cents = materialize.materialize(
            vectors.kmeans_centroid_table(df, k=100, iters=2, exact=False))
        got = {r.vec_id: r.cluster for r in vectors.kmeans_assign_two_level(
            df, cents, probe_cells=1).collect()}
        for i in range(40):
            assert got[1000 + i] == got[i], f"twin {i} split under pruned probe"


def test_kmeans_table_path_planted_duplicates_k1000(spark):
    """Large-k regime the literal path cannot plan (1000 centroid structs
    blow codegen/plan-size limits): 1000 well-separated lattice seeds plus
    100 planted near-duplicate twins. Every twin must land in its base
    vector's cluster — the SemDeDup property the adaptive-k pipeline relies
    on (within-cell cosine screening only sees pairs the assignment
    co-locates)."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    for i in range(1000):  # seeds: distinct lattice points, pairwise far
        base = [float(i % 32) * 10.0, float(i // 32) * 10.0, 0.0, 0.0]
        rows.append((i, base))
    for j in range(100):  # planted twins of vectors 0..99, tiny noise
        base = [float(j % 32) * 10.0, float(j // 32) * 10.0, 0.0, 0.0]
        noisy = (np.asarray(base) + rng.normal(0, 1e-4, 4)).tolist()
        rows.append((10_000 + j, noisy))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r.cluster for r in vectors.kmeans_lloyd(
        df, k=1000, iters=2, exact=False).collect()}
    assert len(got) == 1100
    for j in range(100):
        assert got[10_000 + j] == got[j], f"twin {j} split from its base"
    # k=1000 must have taken the table path: the assignment for a
    # fresh seed equals its own id's seed-order cluster (seeds are the 1000
    # lowest ids, re-keyed 0..999 in id order)
    assert got[0] == 0 and got[999] == 999


def test_connected_components_empty_pairs(spark):
    """r7 sum-convergence edge case: an empty pair graph must converge on the
    first round (sum over zero rows is NULL == the initial sentinel) and
    return an empty (id, cluster_id) frame, not loop or crash."""
    from makinage_spark.dedup import connected_components

    pairs = spark.createDataFrame([], "a long, b long")
    out = connected_components(pairs)
    assert out.columns == ["id", "cluster_id"]
    assert out.count() == 0


def test_connected_components_self_pairs_are_singletons(spark):
    """r13 alternation pin: the "one row per node that appears in pairs"
    contract covers SELF-pairs (a == b). They cannot enter the
    large-star/small-star loop (a star edge needs two distinct endpoints),
    so the implementation re-unions them from the input checkpoint as
    singleton clusters — and a node with BOTH a self-pair and a real edge
    must appear exactly once, labeled by its real component."""
    from makinage_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 2)], "a long, b long"
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {7: 7, 1: 1, 2: 1}
    out = connected_components(pairs)
    assert out.count() == 3  # no duplicate row for node 2


def test_sized_persist_policy(spark):
    """The graph-sizing rule of ``materialize(size_by=...)`` (r8, un-clamped
    per VERDICT r7 task 2): small derived relations land at the floor of 4
    partitions; the partition count grows with the row count at ~250k
    rows/partition REGARDLESS of the session's shuffle-partitions config
    (the data, not the session default, picks the width); sizing works in
    BOTH directions (downsizes corpus-width relations, upsizes huge graphs
    built under a small session config); and sizing never changes the
    rows."""
    from pyspark.sql import functions as F

    from makinage_spark.materialize import _partitions_for, materialize, release

    small = spark.range(1000).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    ).repartition(32)
    sized = materialize(small, size_by="src")
    assert sized.rdd.getNumPartitions() == 4
    assert sized.count() == 1000
    release(sized)

    # 600k rows -> 600_000 // 250_000 + 1 = 3 -> floor 4 still wins
    mid = spark.range(600_000).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    ).repartition(32)
    sized_mid = materialize(mid, size_by="src")
    assert sized_mid.rdd.getNumPartitions() == 4
    release(sized_mid)

    # 1.3M rows -> 1_300_000 // 250_000 + 1 = 6 — NOT clamped to the
    # session's shuffle partitions (the test session pins 4): the r7 cap
    # would have squeezed a 10B-edge graph onto an untuned session's
    # 8-or-200 partitions. This also pins the UPSIZE path: the input
    # arrives at 2 partitions and must be widened to 6.
    big = spark.range(1_300_000).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    ).repartition(2)
    sized_big = materialize(big, size_by="src")
    assert sized_big.rdd.getNumPartitions() == 6
    assert sized_big.count() == 1_300_000
    release(sized_big)

    # pure-function contract of the width rule, including the 10B-edge
    # shape a local test can't materialize
    assert _partitions_for(0) == 4
    assert _partitions_for(250_000 * 40_000) == 40_001


def test_connected_components_unconverged_one_row_per_id(spark):
    """Stopped at max_iter before the star-forest fixpoint, CC still returns
    ONE row per id (ADVICE r13 #2): a mid-alternation edge list can list a
    node as the big endpoint of several edges, and as a root too. The
    collapse keeps the smallest label seen, which is always a node of the
    same component."""
    import random

    from makinage_spark.dedup import connected_components

    path = spark.range(64).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    perm = list(range(256))
    random.Random(7).shuffle(perm)
    shuffled = spark.createDataFrame(
        [(perm[i], perm[i + 1]) for i in range(255)], "a long, b long"
    )
    for pairs, n, max_iter in ((path, 65, 1), (shuffled, 256, 2)):
        stats: dict = {}
        with pytest.warns(UserWarning, match="smallest label"):
            out = connected_components(pairs, max_iter=max_iter, stats=stats)
        assert stats["converged"] is False
        rows = out.collect()
        assert len(rows) == n
        assert len({r["id"] for r in rows}) == n
        assert all(0 <= r["cluster_id"] <= r["id"] for r in rows)


def test_connected_components_deep_chain_logarithmic_rounds(spark):
    """Deep-diameter convergence pin (VERDICT r7 task 6; re-pinned r13 for
    the large-star/small-star alternation): the e2e dup graphs CC is tuned
    on are star-heavy and shallow (~5 rounds), so they never exercise the
    logarithmic-round claim. A 10k-node path graph (diameter 9 999) must
    converge to ONE cluster in O(log n) alternations, not O(diameter) —
    leaving max_iter=25 enough headroom for a ~2^22-node path. Measured:
    15 alternations (64→7, 1k→11, 250k→19 in the r13 A/B — ~ceil(log2 n)+2;
    the retired hash-to-min loop measured 13 here), bound ceil(log2 n) + 3."""
    import math

    from pyspark.sql import functions as F

    from makinage_spark.dedup import connected_components

    n = 10_000
    pairs = spark.range(n - 1).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    stats: dict = {}
    out = connected_components(pairs, stats=stats)
    agg = out.agg(
        F.count(F.lit(1)).alias("nodes"),
        F.count_distinct("cluster_id").alias("clusters"),
        F.max("cluster_id").alias("max_label"),
    ).first()
    assert (agg.nodes, agg.clusters, agg.max_label) == (n, 1, 0)
    assert 8 <= stats["rounds"] <= math.ceil(math.log2(n)) + 3, stats


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint="reliable" runs each CC round through
    sparkContext.setCheckpointDir storage (the cluster-mode lineage cut —
    executor loss resumes from the last round's materialized labels instead
    of source lineage): identical clusters to the local-checkpoint default,
    checkpoint files actually written, bad modes rejected."""
    import pytest

    from makinage_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)], "a long, b long"
    )
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ck"))
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs, checkpoint="reliable").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    ck_files = list((tmp_path / "ck").rglob("*"))
    assert ck_files, "reliable checkpoint wrote nothing"
    with pytest.raises(ValueError):
        connected_components(pairs, checkpoint="hdfs")


def test_connected_components_converged_stat_and_cap_warning(spark):
    """ADVICE r8: stats["rounds"] == max_iter is ambiguous between
    "converged exactly on the last allowed round" and "hit the cap with
    possibly-unconverged labels". The stats out-param now disambiguates via
    stats["converged"], and hitting the cap emits a warning."""
    import warnings as _w

    from pyspark.sql import functions as F

    from makinage_spark.dedup import connected_components

    # normal run: converges well inside the cap, no warning
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    stats: dict = {}
    with _w.catch_warnings():
        _w.simplefilter("error")
        out = connected_components(pairs, stats=stats)
        assert {r.cluster_id for r in out.collect()} == {1}
    assert stats["converged"] is True
    assert stats["rounds"] < 25

    # capped run: a 64-node path cannot converge in 1 round — the stat says
    # so and the warning fires (labels are still a valid partial result)
    chain = spark.range(63).select(F.col("id").alias("a"), (F.col("id") + 1).alias("b"))
    stats2: dict = {}
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        connected_components(chain, max_iter=1, stats=stats2).count()
    assert stats2 == {"rounds": 1, "converged": False}
    assert any("max_iter" in str(w.message) for w in rec)
