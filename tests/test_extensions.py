"""Quality tests for the approximate/plumbing extension operators that
have no SQL oracle (SURVEY.md §2C): MinHash-LSH recall, SimHash sanity,
ANN bucket behavior, multimodal decoder plumbing."""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F

from parquet_export_spark.operators import curation as CU
from parquet_export_spark.operators import dedup as D
from parquet_export_spark.operators import multimodal as M
from parquet_export_spark.operators import similarity as S
from parquet_export_spark.operators import text as TX
from parquet_export_spark.sources.lake import load_tables


@pytest.fixture(scope="module")
def tables(spark, sf_dir):
    return load_tables(spark, sf_dir)


def _exact_shingle_pairs(spark, tables, threshold):
    """Ground truth: all-pairs shingle jaccard >= threshold."""
    sh = D._shingles(tables["documents"])
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", (inter.cast("double") / union.cast("double")).alias("j")
        )
        .filter(F.col("j") >= threshold)
    )


def test_minhash_lsh_recall_and_precision(spark, tables):
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.neardup_minhash_lsh(tables, threshold=0.5).collect()
    }
    truth = {
        (r.doc_a, r.doc_b): r.j
        for r in _exact_shingle_pairs(spark, tables, 0.5).collect()
    }
    # Precision is exact by construction (candidates are verified with
    # exact jaccard): every reported pair must be a true pair.
    assert set(got) <= set(truth)
    for pair, j in got.items():
        assert abs(j - truth[pair]) < 1e-12
    # Recall: 8 bands x 4 rows catches j>=0.7 with prob ~1-(1-j^4)^8.
    high = {p for p, j in truth.items() if j >= 0.7}
    if high:
        found = len(high & set(got)) / len(high)
        assert found >= 0.9, f"recall {found} over {len(high)} high-sim pairs"


def test_minhash_signature_shape(spark, tables):
    sig = D.minhash_signatures(tables["documents"].limit(20))
    rows = sig.collect()
    assert all(len(r.sig) == D.N_HASHES for r in rows)
    # deterministic across runs
    again = {r.doc_id: r.sig for r in D.minhash_signatures(tables["documents"].limit(20)).collect()}
    assert {r.doc_id: r.sig for r in rows} == again


def test_simhash_identical_docs_zero_distance(spark, tables):
    docs = tables["documents"].limit(10)
    # duplicate every doc under a shifted id -> each pair must surface
    # with hamming 0
    dup = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    both = docs.select("doc_id", "text").union(dup)
    pairs = D.neardup_simhash({"documents": both}, max_hamming=0).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    for r in docs.collect():
        assert (r.doc_id, r.doc_id + 1_000_000) in got


def test_ann_buckets_deterministic_and_selective(spark, tables):
    b1 = {r.vec_id: r.bucket for r in S.ann_lsh_buckets(tables).collect()}
    b2 = {r.vec_id: r.bucket for r in S.ann_lsh_buckets(tables).collect()}
    assert b1 == b2
    n_buckets = len(set(b1.values()))
    assert n_buckets > 10  # actually partitions the space


def test_ann_neighbors_subset_of_bruteforce(spark, tables):
    from pyspark.sql import functions as F

    ann = S.ann_lsh_neighbors(tables, threshold=0.4)
    rows = ann.collect()
    assert rows, "multi-table LSH finds at least some true pairs"
    for r in rows:
        assert r.sim >= 0.4
        assert r.vec_a < r.vec_b
    # precision 1 by construction: every reported pair verifies against
    # brute-force cosine on the raw vectors
    emb = {e.vec_id: e.embedding for e in tables["embeddings"].collect()}
    import math

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(y) ** 2 for y in b))
        return d / (na * nb)

    for r in rows[:20]:
        assert abs(cos(emb[r.vec_a], emb[r.vec_b]) - r.sim) < 1e-6


def test_neardup_clusters_transitive(spark, tables):
    """A-B and B-C near-dup edges must put A, B, C in ONE cluster even
    if A-C itself is below threshold (transitivity via propagation)."""
    from pyspark.sql import functions as F

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, "en", "s"),
        (2, base + " lambda", "en", "s"),          # ~0.9 vs 1
        (3, base + " lambda mu nu", "en", "s"),    # ~0.85 vs 2, ~0.77 vs 1
        (10, "totally different words here now ok fine yes no maybe", "en", "s"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
    out = {
        r.doc_id: r.cluster_id
        for r in D.neardup_clusters({"documents": docs}, threshold=0.8).collect()
    }
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == 10
    # sanity on the real corpus: every cluster_id is a member doc_id
    real = D.neardup_clusters(tables, threshold=0.8)
    ids = {r.doc_id for r in tables["documents"].select("doc_id").collect()}
    assert all(r.cluster_id in ids for r in real.collect())


def test_ivf_topk_quality(spark, tables):
    """IVF results: valid ranks, sims in [-1,1], and decent overlap
    with the exact brute-force top-k (same cells hold near vectors)."""
    ivf = {(r.query_id, r.neighbor_id) for r in S.ivf_topk(tables).collect()}
    exact = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(tables).collect()}
    assert ivf, "ivf returned rows"
    overlap = len(ivf & exact) / len(exact)
    assert overlap >= 0.3, f"ivf/exact overlap {overlap}"


def test_multimodal_decoder_plumbing(spark, tables):
    payloads = M.with_binary_payload(tables["documents"].limit(16))
    M.register_decoder("text/plain", lambda b: {"width": len(b), "height": 1})
    out = M.decoded_features(payloads, "text/plain").collect()
    assert len(out) == 16
    assert all(r.height == 1 and r.width > 0 for r in out)
    # image/png and image/jpeg both gained REAL registered decoders in
    # round 9 — the no-decoder contract is pinned on genuinely
    # unregistered types
    with pytest.raises(NotImplementedError, match="no decoder registered"):
        M.decoded_features(payloads, "image/tiff")
    # decode_image now sniffs + dispatches: a JPEG-magic payload routes
    # to the REAL baseline decoder, which rejects this garbage loudly...
    with pytest.raises(ValueError):
        M.decode_image(b"\xff\xd8\xff....")
    # ...while a sniffable type with no registered decoder still raises
    # the extension-point error by name
    with pytest.raises(NotImplementedError, match="audio/mpeg"):
        M.decode_image(b"ID3\x04rest-of-an-mp3")


def test_resize_and_frame_sample_plumbing(spark, tables):
    payloads = M.with_binary_payload(tables["documents"].limit(8))
    # a synthetic media type: overwriting the REAL image/png decoder
    # here would leak a fake into every later test in the session
    M.register_decoder(
        "image/x-fake", lambda b: {"width": 1, "height": 1, "resized_bytes": b[:4]}
    )
    resized = M.resize_images(payloads, 64, 64, media_type="image/x-fake").collect()
    assert len(resized) == 8
    assert all(r.width == 64 and r.height == 64 and len(r.payload) == 4 for r in resized)

    # video decoder: 25 fake frames per payload; sample every 10th
    M.register_decoder(
        "video/mp4", lambda b: {"frames": [bytes([i]) + b[:2] for i in range(25)]}
    )
    frames = M.sample_frames(payloads, every_n=10, media_type="video/mp4").collect()
    # 3 frames per doc (0, 10, 20) x 8 docs
    assert len(frames) == 24
    assert sorted({f.frame_index for f in frames}) == [0, 10, 20]
    with pytest.raises(NotImplementedError):
        M.sample_frames(payloads, media_type="video/webm")


def test_byte_histograms_arrow(spark, tables):
    payloads = M.with_binary_payload(tables["documents"].limit(12))
    rows = M.byte_histograms(payloads, n_bins=16).collect()
    assert len(rows) == 12
    docs = {r.doc_id: r.text for r in tables["documents"].limit(12).collect()}
    for r in rows:
        assert len(r.hist) == 16
        payload = docs[r.doc_id].encode()
        assert sum(r.hist) == len(payload)
        # lowercase ascii letters land in bins 6 (96-111) and 7 (112-127)
        import string

        n_alpha = sum(1 for c in payload if 96 <= c < 128)
        assert r.hist[6] + r.hist[7] == n_alpha


def test_sample_fraction_bounds_and_determinism(spark, tables):
    from parquet_export_spark.operators.relational import sample_fraction

    n_total = tables["lineitem"].count()
    s1 = sample_fraction(tables).collect()
    s2 = sample_fraction(tables).collect()
    assert s1 == s2  # same seed + partitioning -> identical sample
    # Bernoulli(0.1): within generous bounds
    assert 0.04 * n_total < len(s1) < 0.2 * n_total


def test_sniff_media_type():
    assert M.sniff_media_type(b"\x89PNG\r\n") == "image/png"
    assert M.sniff_media_type(b"\xff\xd8\xff\xe0") == "image/jpeg"
    assert M.sniff_media_type(b"RIFF....WAVE") == "audio/wav"
    assert M.sniff_media_type(b"ID3\x04") == "audio/mpeg"
    assert M.sniff_media_type(b"hello world") == "text/plain"
    assert M.sniff_media_type(b"\x00\x01\x02") == "application/octet-stream"
    assert M.sniff_media_type(None) == "empty"
    assert M.sniff_media_type(b"") == "empty"


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing's defining property: two documents sharing any
    substring of length >= k + w - 1 (= 11 at defaults) must share at
    least one fingerprint; disjoint-alphabet docs share none."""
    from parquet_export_spark.operators.text import winnowing_fingerprints

    shared = "the common passage here"
    docs = spark.createDataFrame(
        [
            (1, f"aaa bbb {shared} ccc ddd eee fff"),
            (2, f"xxx yyy zzz {shared} www vvv uuu"),
            (3, "qqqq rrrr ssss tttt qqqq rrrr ssss"),
        ],
        ["doc_id", "text"],
    )
    fps = {
        r.doc_id: set(r.fingerprints)
        for r in winnowing_fingerprints({"documents": docs}).collect()
    }
    assert fps[1] & fps[2], "docs sharing an 11+-char substring must overlap"
    assert not (fps[1] & fps[3])
    assert not (fps[2] & fps[3])


def test_ngram_vs_wordset_jaccard_consistency(spark, tables):
    """Char-gram similarity is the stricter metric (word permutations
    destroy cross-word grams, so word-set dupes score low on it — the
    reason both detectors exist). The sound implication is one-way:
    docs sharing half their char 5-grams necessarily share most words,
    so every char-gram pair must appear among word-set pairs at a
    relaxed threshold."""
    from parquet_export_spark.operators.dedup import (
        neardup_jaccard_blocked,
        neardup_ngram_jaccard,
    )

    char_pairs = {
        (r.doc_a, r.doc_b)
        for r in neardup_ngram_jaccard(tables, threshold=0.5).collect()
    }
    word_pairs_loose = {
        (r.doc_a, r.doc_b)
        for r in neardup_jaccard_blocked(tables, threshold=0.3).collect()
    }
    assert char_pairs, "fixture corpus should contain char-gram near-dups"
    assert char_pairs <= word_pairs_loose


def test_embedding_block_cap_drops_hot_label(spark, tables):
    """The per-label block cap is a hard contract: a label holding more
    than max_block_size vectors never reaches the all-pairs self-join
    (the 100 TB hot-label quadratic guard). Small labels are untouched
    and oversized labels vanish entirely from the output."""
    emb = tables["embeddings"]
    # count per label; pick the largest label as the "hot" one
    sizes = {r.label: r.n for r in emb.groupBy("label").count()
             .withColumnRenamed("count", "n").collect()}
    hot = max(sizes, key=sizes.get)
    cap_below_hot = sizes[hot] - 1
    out = S.neardup_embedding(
        {"embeddings": emb}, max_block_size=cap_below_hot
    )
    got_labels = {r.label for r in out.select("label").distinct().collect()}
    assert hot not in got_labels, "hot label must be dropped by the cap"
    surviving = {l for l, n in sizes.items() if 2 <= n <= cap_below_hot}
    assert surviving <= got_labels, "small labels must pass through intact"


def test_jaccard_block_cap_drops_hot_block(spark, tables):
    """Same contract on the text side: (lang, source) blocks larger
    than max_block_size are excluded before tokenization."""
    docs = tables["documents"]
    sizes = {(r.lang, r.source): r.n for r in docs.groupBy("lang", "source")
             .count().withColumnRenamed("count", "n").collect()}
    hot = max(sizes, key=sizes.get)
    capped = D._capped_blocks(docs, sizes[hot] - 1)
    got = {(r.lang, r.source)
           for r in capped.select("lang", "source").distinct().collect()}
    assert hot not in got
    assert {b for b, n in sizes.items() if n < sizes[hot]} <= got


def test_pack_sequences_multibucket_prefix_sum(spark, tables):
    """The distributed two-level prefix sum must equal the plain global
    cumsum regardless of bucket width. sf0.01 doc_ids all land in one
    PACK_BUCKET bucket, so force small buckets to exercise the
    bucket-offset join path (what a 1000-executor corpus looks like)."""
    base = CU.pack_sequences(tables, ctx=128, bucket=1 << 40).collect()
    multi = CU.pack_sequences(tables, ctx=128, bucket=7).collect()
    assert sorted(map(tuple, base)) == sorted(map(tuple, multi))
    # spans must tile the token stream: next start = prev start + n_tokens
    rows = sorted(base, key=lambda r: r.doc_id)
    off = 0
    for r in rows:
        assert r.start_offset == off
        assert r.n_chunks == r.last_chunk - r.first_chunk + 1 >= 1
        off += r.n_tokens


def test_decontaminate_removed_docs_share_shingle(spark, tables):
    """Every train doc the scrub removes must actually share an n-gram
    with some eval doc, and every survivor must not (n=3 so the
    fixture corpus has non-trivial contamination)."""
    docs = tables["documents"]
    h4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    marked = docs.withColumn("h4", h4)
    train = {r.doc_id for r in marked.filter(F.col("h4") < CU.TRAIN_THRESHOLD_HEX)
             .select("doc_id").collect()}
    kept = {r.doc_id for r in CU.decontaminate_train(tables, n=3)
            .select("doc_id").collect()}
    removed = train - kept
    assert removed, "n=3 must catch contamination in the fixture corpus"
    assert kept <= train

    def shingles(text, n=3):
        ws = text.split(" ")
        if len(ws) <= n:
            return {" ".join(ws)}
        return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}

    eval_sh = set()
    for r in marked.filter(F.col("h4") >= CU.TRAIN_THRESHOLD_HEX).collect():
        eval_sh |= shingles(r.text)
    by_id = {r.doc_id: r.text for r in docs.collect()}
    for d in removed:
        assert shingles(by_id[d]) & eval_sh, f"doc {d} removed but clean"
    for d in kept:
        assert not (shingles(by_id[d]) & eval_sh), f"doc {d} kept but dirty"


def test_pgm_codec_roundtrip_exact():
    """Pure-Python/numpy check: encode -> decode restores the exact
    raster; the stream container splits back into identical frames."""
    import numpy as np

    px = np.arange(48, dtype=np.uint8).reshape(6, 8)
    d = M.decode_pgm(M.encode_pgm(px))
    assert (d["width"], d["height"], d["maxval"]) == (8, 6, 255)
    assert (d["pixels"] == px).all()
    # comments + multi-whitespace header variant
    manual = b"P5\n# comment\n 8  6\n255\n" + px.tobytes()
    assert (M.decode_pgm(manual)["pixels"] == px).all()
    frames = [M.encode_pgm(px), M.encode_pgm(px.T.copy())]
    got = M.decode_pgm_stream(b"".join(frames))["frames"]
    assert got == frames


def test_ppm_codec_roundtrip_exact():
    """P6 (RGB) twin of the PGM round-trip: encode -> decode restores
    the exact interleaved raster; channels come back de-interleaved;
    the shared nearest-neighbor resize broadcasts over the channel
    axis; the registered decoder contract (resized_bytes) holds."""
    import numpy as np

    px = np.arange(6 * 8 * 3, dtype=np.uint8).reshape(6, 8, 3)
    d = M.decode_ppm(M.encode_ppm(px))
    assert (d["width"], d["height"], d["maxval"]) == (8, 6, 255)
    assert (d["pixels"] == px).all()
    # channel de-interleave: channel c = every 3rd raster byte
    flat = px.reshape(-1, 3)
    for c in range(3):
        assert (d["pixels"][:, :, c].reshape(-1) == flat[:, c]).all()
    # comments + multi-whitespace header variant
    manual = b"P6\n# comment\n 8  6\n255\n" + px.tobytes()
    assert (M.decode_ppm(manual)["pixels"] == px).all()
    # wrong magic fails fast
    import pytest as _pytest

    with _pytest.raises(ValueError, match="P6"):
        M.decode_ppm(M.encode_pgm(px[:, :, 0].copy()))
    # registered adapter: decode + resize + re-encode round-trips
    dec = M.make_ppm_decoder(4, 4)(M.encode_ppm(px))
    resized = M.decode_ppm(dec["resized_bytes"])
    assert (resized["width"], resized["height"]) == (4, 4)
    assert (resized["pixels"] == M.resize_nearest(px, 4, 4)).all()


def test_pgm_resize_nearest_known_values():
    import numpy as np

    px = np.array([[0, 10], [20, 30]], dtype=np.uint8)
    up = M.resize_nearest(px, 4, 4)
    assert up.shape == (4, 4)
    assert (up[:2, :2] == 0).all() and up[3, 3] == 30
    down = M.resize_nearest(up, 2, 2)
    assert (down == px).all()


def test_pgm_real_decoder_through_spark_plumbing(spark, tables):
    """The REAL (non-stub) decoder registered for PGM drives the
    generic resize/decode plumbing end-to-end: Spark-built PGM binaries
    come back decoded with the right dimensions and resized rasters."""
    import numpy as np

    payloads = M.with_pgm_payload(tables["documents"]).limit(20)
    dims = {r.doc_id: (r.width, r.height)
            for r in M.decoded_features(
                payloads, "image/x-portable-graymap").collect()}
    docs = {r.doc_id: r.n_chars
            for r in tables["documents"].select("doc_id", "n_chars").collect()}
    assert dims
    for doc_id, (w, h) in dims.items():
        assert w == 1 + docs[doc_id] % 16
        assert h == 1 + docs[doc_id] % 7
    resized = M.resize_images(
        payloads, 8, 8, media_type="image/x-portable-graymap").collect()
    for r in resized:
        d = M.decode_pgm(bytes(r.payload))
        assert (d["width"], d["height"]) == (8, 8)
    # stream container: 3 frames per doc, sample every 2nd -> frames 0, 2
    one = payloads.limit(4)
    stream = one.groupBy("doc_id").agg(
        F.expr("concat(first(payload), first(payload), first(payload))")
        .alias("payload"))
    frames = M.sample_frames(stream, every_n=2,
                             media_type="video/x-pgm-stream").collect()
    per_doc = {}
    for r in frames:
        per_doc.setdefault(r.doc_id, []).append(r.frame_index)
    assert all(sorted(v) == [0, 2] for v in per_doc.values())


def test_semdedup_keep_drop_contract(spark, tables):
    """Every dropped vector must have a KEPT lower-id cluster-mate at
    cosine >= threshold, and every kept vector must have none — the
    SemDeDup pruning rule, checked exhaustively at sf0.01."""
    import numpy as np

    thr = 0.45  # fixture embeddings are near-random; 0.95 drops nothing
    out = S.semdedup_embedding(tables, n_cells=8, threshold=thr)
    kept = {r.vec_id for r in out.collect()}
    # recompute cluster assignment with the operator's own quantizer
    # (the keep/drop property is relative to whatever clustering the
    # operator used — deriving cells independently would pin center
    # values, which are an implementation detail)
    emb = tables["embeddings"]
    centers = S._fit_coarse_quantizer(emb, 8)
    rows = emb.select(
        "vec_id", "embedding", S._assign_cells(emb, centers).alias("cell")
    ).collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append((r.vec_id, np.array(r.embedding)))
    dropped = {r.vec_id for r in rows} - kept
    assert dropped, "fixture corpus must contain semantic dups at 0.95"
    for cell, members in by_cell.items():
        members.sort()
        for i, (vid, v) in enumerate(members):
            near_lower_kept = any(
                wid in kept
                and float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w))) >= thr
                for wid, w in members[:i]
            )
            # drop rule uses ANY lower-id mate (kept or not); the pytest
            # contract below is the weaker-but-meaningful invariant:
            near_lower = any(
                float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w))) >= thr
                for wid, w in members[:i]
            )
            if vid in kept:
                assert not near_lower, f"vec {vid} kept but has near lower-id mate"
            else:
                assert near_lower, f"vec {vid} dropped without a near lower-id mate"


def test_stratified_sample_rates_are_nested(spark, tables):
    """Content-addressed sampling gives NESTED samples: every doc in
    the lower-rate sample appears in the higher-rate sample of the
    same strata — the incremental-corpus property seeded-RNG
    sampling cannot provide. Also pins the per-stratum rates."""
    lo = CU.stratified_sample(tables, rates={"en": 0.25}, default_rate=0.5)
    hi = CU.stratified_sample(tables, rates={"en": 0.5}, default_rate=0.75)
    lo_ids = {r.doc_id for r in lo.collect()}
    hi_ids = {r.doc_id for r in hi.collect()}
    assert lo_ids and lo_ids < hi_ids
    # empirical rate within binomial slack per stratum
    docs = tables["documents"]
    n_en = docs.filter(F.col("lang") == "en").count()
    got_en = hi.filter(F.col("lang") == "en").count()
    assert abs(got_en / n_en - 0.5) < 0.15


def test_chunk_documents_covers_and_reconstructs(spark, tables):
    """Chunk coverage contract: chunk 0 starts at token 1, consecutive
    starts advance by exactly the stride, the final chunk reaches the
    document's last token, and concatenating each chunk's first
    `stride` tokens (plus the final chunk's tail) reconstructs the
    document."""
    W, S_ = 8, 5
    docs = {r.doc_id: r.text.split(" ")
            for r in tables["documents"].select("doc_id", "text").collect()}
    out = CU.chunk_documents(tables, window=W, stride=S_).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r)
    assert set(per_doc) == set(docs)
    for doc_id, chunks in per_doc.items():
        toks = docs[doc_id]
        chunks.sort(key=lambda r: r.chunk_index)
        assert [c.chunk_index for c in chunks] == list(range(len(chunks)))
        rebuilt = []
        for i, c in enumerate(chunks):
            ctoks = c.chunk_text.split(" ") if c.chunk_text else []
            assert len(ctoks) == c.n_tokens <= W
            start = i * S_  # 0-based token offset of this chunk
            assert ctoks == toks[start:start + W]
            rebuilt.extend(ctoks if i == len(chunks) - 1 else ctoks[:S_])
        assert rebuilt == toks, f"doc {doc_id} not reconstructed"
        # the last chunk must reach the end of the document
        assert (len(chunks) - 1) * S_ + chunks[-1].n_tokens == len(toks)


def test_mixture_weights_normalized_and_monotone(spark, tables):
    """Weights form a distribution (sum 1) and follow token mass:
    sqrt is monotone, so source ranking by weight equals ranking by
    token count; expected_docs re-scales to the budget."""
    rows = CU.mixture_weights(tables, budget=10_000).collect()
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-6
    by_tokens = sorted(rows, key=lambda r: r.n_tokens)
    by_weight = sorted(rows, key=lambda r: r.weight)
    assert [r.source for r in by_tokens] == [r.source for r in by_weight]
    assert abs(sum(r.expected_docs for r in rows) - 10_000) <= len(rows)


_MERGES = [("a", "b"), ("ab", "c")]


@pytest.mark.parametrize(
    "call",
    [
        partial(CU.chunk_documents, {}, window=4, stride=5),
        partial(CU.mixture_weights, {}, alpha=0.7),
        partial(TX._bpe_token_counts_multi, None, _MERGES, []),
        partial(TX._bpe_token_counts_multi, None, _MERGES, [2, 1]),
        partial(TX._bpe_token_counts_multi, None, _MERGES, [1, 3]),
    ],
    ids=[
        "chunk_stride_gt_window",
        "mixture_alpha",
        "bpe_cuts_empty",
        "bpe_cuts_descending",
        "bpe_cuts_past_table",
    ],
)
def test_precondition_raises_value_error(call):
    """Input preconditions raise ValueError, so they hold under
    ``python -O`` too. Each check fires before any Spark work."""
    with pytest.raises(ValueError):
        call()


def test_fuzzy_dedup_keep_contract(spark, tables):
    """The composed pipeline's keep/drop contract: survivors + removed
    dups partition the corpus; no verified near-dup pair has BOTH ends
    surviving; every dropped doc's cluster root is a survivor."""
    from pyspark.sql import functions as F

    kept = D.fuzzy_dedup_keep(tables, threshold=0.5)
    kept_rows = kept.collect()
    kept_ids = {r.doc_id for r in kept_rows}
    n_docs = tables["documents"].count()
    assert kept_ids, "pipeline kept at least one doc"
    # survivors + absorbed duplicates account for every document
    assert len(kept_ids) + sum(r.n_dups_removed for r in kept_rows) == n_docs
    pairs = [
        (r.doc_a, r.doc_b)
        for r in D.neardup_minhash_lsh(tables, threshold=0.5).collect()
    ]
    for a, b in pairs:
        assert not (a in kept_ids and b in kept_ids), (a, b)
    labels = {
        r.doc_id: r.label
        for r in D._connected_components(
            tables["documents"].select("doc_id"),
            D.neardup_minhash_lsh(tables, threshold=0.5).select(
                "doc_a", "doc_b"
            ),
        ).collect()
    }
    for d, root in labels.items():
        if d not in kept_ids:
            assert root in kept_ids, (d, root)


def test_label_pca_matches_numpy(spark, tables):
    """The grouped-map PCA must equal an independent driver-side numpy
    computation per label: same explained-variance ratio, same
    sign-fixed unit principal direction (string-rounded)."""
    import numpy as np

    got = {r.label: r for r in S.label_pca(tables).collect()}
    by_label = {}
    for r in tables["embeddings"].select("label", "vec_id", "embedding").collect():
        by_label.setdefault(r.label, []).append((r.vec_id, r.embedding))
    assert set(got) == set(by_label)
    for label, rows in by_label.items():
        rows.sort()
        x = np.stack([np.array(e, dtype="float64") for _, e in rows])
        x = x - x.mean(axis=0)
        cov = (x.T @ x) / max(len(x) - 1, 1)
        w, v = np.linalg.eigh(cov)
        pc = v[:, -1]
        if pc[int(np.abs(pc).argmax())] < 0:
            pc = -pc
        assert got[label].n_vectors == len(rows)
        assert abs(got[label].explained_var_ratio - w[-1] / w.sum()) < 1e-5
        assert got[label].pc1 == " ".join(f"{c:.6f}" for c in pc)
        # unit norm survives the rounding to ~1e-5
        vec = np.array([float(c) for c in got[label].pc1.split()])
        assert abs(np.linalg.norm(vec) - 1.0) < 1e-4


def test_wav_codec_roundtrip_exact():
    """RIFF/WAV PCM16 round-trip: encode -> decode restores the exact
    int16 samples, header fields survive, and malformed payloads fail
    fast with the declared errors."""
    import numpy as np
    import pytest as _pytest

    s = (np.arange(-100, 100, 7)).astype("<i2")
    d = M.decode_wav(M.encode_wav(s, sample_rate=8000))
    assert d["sample_rate"] == 8000
    assert d["n_samples"] == len(s)
    assert (d["samples"] == s).all()
    with _pytest.raises(ValueError, match="RIFF"):
        M.decode_wav(b"NOTWAVE" + bytes(64))
    with _pytest.raises(ValueError, match="PCM16 mono"):
        # corrupt bits-per-sample field (offset 34, little-endian)
        raw = bytearray(M.encode_wav(s))
        raw[34] = 8
        M.decode_wav(bytes(raw))


def test_netpbm_truncated_headers_fail_fast():
    """Malformed/truncated headers must raise, never spin: a decoder
    that scans past the buffer end would hang the executor task on
    the first bad payload (reproduced pre-fix with b'P5 3')."""
    import pytest as _pytest

    for bad in (b"P5 3", b"P5", b"P5\n# no newline", b"P5 1 2", b"P6 1 2 25"):
        with _pytest.raises(ValueError):
            M._parse_netpbm_header(bad, b"P5" if bad.startswith(b"P5") else b"P6")


def _ref_bpe(word_freqs: dict, n: int):
    """Pure-Python BPE reference: same weighted pair counts, same
    (count desc, pair lexicographic) tie-break, same greedy apply."""
    syms = {w: list(w) for w in word_freqs}
    merges = []
    for rank in range(n):
        counts = {}
        for w, f in word_freqs.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, a, b, c))
        for w, s in syms.items():
            res, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            syms[w] = res
    return merges


def test_bpe_learn_merges_matches_reference(spark, sf_dir):
    """The distributed BPE trainer must learn EXACTLY the merge table
    the sequential reference learns from the same word counts —
    iteration order, tie-breaks and greedy apply all agree."""
    from collections import Counter

    from parquet_export_spark.operators.text import (
        BPE_N_MERGES,
        bpe_learn_merges,
    )
    from parquet_export_spark.sources.lake import load_tables

    t = load_tables(spark, sf_dir)
    got = [
        (r.merge_rank, r.left, r.right, r.pair_count)
        for r in bpe_learn_merges(t).orderBy("merge_rank").collect()
    ]
    freqs = Counter()
    for row in t["documents"].select("text").collect():
        for w in row.text.split(" "):
            if w:
                freqs[w] += 1
    want = _ref_bpe(dict(freqs), BPE_N_MERGES)
    assert got == want
    assert len(got) == BPE_N_MERGES  # corpus is rich enough to fill the table


def test_token_diversity_ignores_empty_tokens(spark):
    """Consecutive/edge spaces must not mint phantom '' terms (same
    treatment as bpe_learn_merges' length()>0 filter)."""
    from parquet_export_spark.operators.text import token_diversity

    docs = spark.createDataFrame(
        [(1, " a  a b ", "en", "s", 8)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    row = token_diversity({"documents": docs}).collect()[0]
    assert (row.n_tokens, row.n_distinct, row.hapax_count) == (3, 2, 1)
    assert row.simpson == round(5 / 9, 9)  # a:2, b:1 -> (4+1)/9


def test_pgm_stream_boundaries_from_parser_not_substring():
    """Frames whose dimension tokens collide with the maxval bytes
    (height 255) and frames with maxval != 255 must both split
    correctly — a b'255\\n' substring search misparses either."""
    import numpy as np

    from parquet_export_spark.operators.multimodal import (
        decode_pgm_stream,
        encode_pgm,
    )

    tall = encode_pgm(np.zeros((255, 2), dtype=np.uint8))
    lowmax = b"P5\n2 2\n15\n" + bytes([1, 2, 3, 4])
    stream = tall + lowmax + tall
    frames = decode_pgm_stream(stream)["frames"]
    assert frames == [tall, lowmax, tall]


def test_netpbm_rejects_malformed_dimensions():
    import pytest as _pytest

    from parquet_export_spark.operators.multimodal import decode_pgm

    with _pytest.raises(ValueError, match="invalid netpbm header"):
        decode_pgm(b"P5\n-1 5\n255\n" + b"\0" * 10)
    with _pytest.raises(ValueError, match="invalid netpbm header"):
        decode_pgm(b"P5\n2 2\n65535\n" + b"\0" * 8)  # 16-bit unsupported


def test_wav_decoder_reachable_via_sniffed_type():
    import numpy as np

    from parquet_export_spark.operators.multimodal import (
        _DECODERS,
        encode_wav,
        sniff_media_type,
    )

    payload = encode_wav(np.zeros(8, dtype=np.int16))
    assert sniff_media_type(payload) == "audio/wav"
    assert "audio/wav" in _DECODERS and "audio/x-wav" in _DECODERS
    assert _DECODERS["audio/wav"](payload)["n_samples"] == 8


def test_ansi_division_guards_on_degenerate_groups(spark):
    """Singleton / zero-spread groups (value_outliers) and empty text
    (bpe_token_counts) must yield NULLs, not ANSI DIVIDE_BY_ZERO."""
    from parquet_export_spark.operators.stats import value_outliers
    from parquet_export_spark.operators.text import bpe_token_counts

    ev = spark.createDataFrame(
        [(1, None, 1, "lonely", 5.0, "{}"), (2, None, 1, "flat", 1.0, "{}"),
         (3, None, 2, "flat", 1.0, "{}")],
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    assert value_outliers({"events": ev}).collect() == []
    docs = spark.createDataFrame(
        [(1, "", "en", "s", 0)], ["doc_id", "text", "lang", "source", "n_chars"]
    )
    row = bpe_token_counts({"documents": docs}).collect()[0]
    assert row.n_bpe_tokens == 0 and row.chars_per_token is None


@pytest.mark.parametrize(
    "cutoff", ["2024-01-01", "2024-01-10", "2024-01-29", "2024-02-15"]
)
def test_incremental_rollup_merge_equals_recompute_any_cutoff(
    spark, sf_dir, cutoff
):
    """The MV-maintenance invariant holds for ANY split point —
    including all-delta (cutoff before the data) and all-stored
    (cutoff after it), not just the oracle's fixed date."""
    from pyspark.sql import functions as F

    from parquet_export_spark.operators.advanced import incremental_rollup
    from parquet_export_spark.sources.lake import load_tables

    t = load_tables(spark, sf_dir)
    merged = {
        (str(r.day), r.event_type): (r.n_events, r.total_value)
        for r in incremental_rollup(t, cutoff_date=cutoff).collect()
    }
    day = F.expr("make_timestamp_ntz(year(ts), month(ts), day(ts), 0, 0, 0)")
    direct = {
        (str(r.day), r.event_type): (r.n_events, r.total_value)
        for r in t["events"]
        .groupBy(day.alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .collect()
    }
    assert merged == direct


def test_snapshot_diff_change_feed_reconstructs_new_snapshot(spark, sf_dir):
    """CDC apply round-trip: old snapshot keys + the change feed must
    reconstruct the new snapshot's key set and changed prices exactly
    (the property an incremental consumer relies on)."""
    from pyspark.sql import functions as F

    from parquet_export_spark.operators.stats import snapshot_diff_orders
    from parquet_export_spark.sources.lake import load_tables

    t = load_tables(spark, sf_dir)
    o = t["orders"]
    feed = snapshot_diff_orders(t).collect()
    old_keys = {r.o_orderkey for r in o.select("o_orderkey").collect()}
    inserted = {r.o_orderkey for r in feed if r.change_type == "insert"}
    deleted = {r.o_orderkey for r in feed if r.change_type == "delete"}
    updated = {r.o_orderkey: r.new_totalprice for r in feed if r.change_type == "update"}
    applied = (old_keys - deleted) | inserted
    # derive the new snapshot independently (same rule as the operator)
    new_snap = (
        o.filter(F.col("o_orderkey") % 89 != 0)
        .select("o_orderkey")
        .union(
            o.filter(F.col("o_orderkey") % 101 == 0).select(
                (F.col("o_orderkey") + 100_000_000).alias("o_orderkey")
            )
        )
    )
    want_keys = {r.o_orderkey for r in new_snap.collect()}
    assert applied == want_keys
    # every updated key's new price is the exact decimal bump
    bumped = {
        r.o_orderkey: r.bumped
        for r in o.filter(
            (F.col("o_orderkey") % 97 == 0) & (F.col("o_orderkey") % 89 != 0)
        )
        .select(
            "o_orderkey",
            (F.col("o_totalprice").cast("decimal(30,4)") + F.lit(1))
            .cast("double")
            .alias("bumped"),
        )
        .collect()
    }
    assert updated == bumped


def test_wav_truncation_raises_valueerror():
    """Truncated WAV payloads fail with the codec family's declared
    ValueError, never a bare struct.error."""
    import pytest as _pytest

    from parquet_export_spark.operators.multimodal import decode_wav

    for cut in (10, 20, 35, 43):
        with _pytest.raises(ValueError, match="truncated WAV header"):
            decode_wav((b"RIFF\x00\x00\x00\x00WAVEfmt " + b"\x00" * 40)[:cut])


def test_stats_oracles_on_adversarial_groups(spark, sf_dir, tmp_path):
    """Full Spark-vs-DuckDB differential for value_gini_by_type and
    value_outliers on a fixture that actually EXERCISES the guarded
    edges the sf corpora never hit: a negative-sum group whose Gini
    quotient is inexact (floor vs truncate divergence), an exact
    .5-micro value (half-to-even vs half-away), a constant group
    (variance-clamp path) and a singleton group (n-1 = 0 path)."""
    from datetime import datetime

    from parquet_export_spark.queries import REGISTRY
    from tests.oracle_harness import compare

    rows = [
        # negative-sum group: micro [-1000000, 400000] -> quotient
        # -1.1666..e9, inexact and negative
        (1, datetime(2024, 1, 1), 1, "neg", -1.0, "{}"),
        (2, datetime(2024, 1, 1), 2, "neg", 0.4, "{}"),
        # exact .5 micro-unit: np.round would give 2, half-away gives 3
        (3, datetime(2024, 1, 1), 3, "neg", 2.5e-6, "{}"),
        # constant group: variance cancels (clamp path), gini 0
        (4, datetime(2024, 1, 1), 4, "const", 5.0, "{}"),
        (5, datetime(2024, 1, 1), 5, "const", 5.0, "{}"),
        (6, datetime(2024, 1, 1), 6, "const", 5.0, "{}"),
        # singleton group: no sample variance (n-1 = 0 path)
        (7, datetime(2024, 1, 1), 7, "lonely", 7.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    )
    from tests.oracle_harness import fixture_lake

    fixture_dir = fixture_lake(
        spark, sf_dir, str(tmp_path / "adversarial"), {"events": df}
    )
    for name in ("value_gini_by_type", "value_outliers"):
        spec = REGISTRY[name]
        ok, msg = compare(spark, fixture_dir, spec.fn, spec.oracle)
        assert ok, f"{name} on adversarial fixture: {msg}"


def test_ohlc_and_funnel_oracles_on_tie_and_onesided_fixtures(
    spark, sf_dir, tmp_path
):
    """More corpus-invisible edges, run as full differentials:
    event_ohlc with EXACT ts collisions inside one (hour, type) bucket
    (the (ts, event_id) struct tie-break must match the oracle's
    ROW_NUMBER tie-break bit-for-bit) and cogroup_user_funnel with
    clicks-only / purchases-only users (the NULL funnel paths)."""
    from datetime import datetime

    from parquet_export_spark.queries import REGISTRY
    from tests.oracle_harness import compare, fixture_lake

    t0 = datetime(2024, 5, 1, 9, 15, 0)
    t1 = datetime(2024, 5, 1, 9, 45, 0)
    rows = [
        # three ticks at the SAME instant: open/close resolved by
        # event_id, high/low by value
        (10, t0, 1, "click", 5.0, "{}"),
        (11, t0, 1, "click", 1.0, "{}"),
        (12, t0, 1, "click", 9.0, "{}"),
        (13, t1, 1, "click", 4.0, "{}"),
        # user 2: purchases only (clicks_before must be 0, not NULL)
        (14, t0, 2, "purchase", 20.0, "{}"),
        # user 3: clicks only (funnel fields must be NULL)
        (15, t0, 3, "click", 2.0, "{}"),
        (16, t1, 3, "click", 3.0, "{}"),
        # user 1 purchase after clicks
        (17, t1, 1, "purchase", 50.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string",
    )
    fixture_dir = fixture_lake(
        spark, sf_dir, str(tmp_path / "ties"), {"events": df}
    )
    for name in ("event_ohlc", "cogroup_user_funnel", "winsorize_values"):
        spec = REGISTRY[name]
        ok, msg = compare(spark, fixture_dir, spec.fn, spec.oracle)
        assert ok, f"{name} on tie/one-sided fixture: {msg}"


def test_text_oracles_on_degenerate_documents(spark, sf_dir, tmp_path):
    """Degenerate documents as full differentials: double/edge spaces,
    a single word, a hapax-only doc — the empty-token filter must
    agree between the Spark operator AND its DuckDB oracle (the unit
    test alone only pinned the Spark side)."""
    from parquet_export_spark.queries import REGISTRY
    from tests.oracle_harness import compare, fixture_lake

    docs = spark.createDataFrame(
        [
            (1, " a  a b ", "en", "s0", 8),
            (2, "word", "en", "s0", 4),
            (3, "each token here once", "en", "s1", 20),
            (4, "x y x y x y", "en", "s1", 11),
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    fixture_dir = fixture_lake(
        spark, sf_dir, str(tmp_path / "degdocs"), {"documents": docs}
    )
    for name in ("token_diversity", "token_stats", "repetition_ratios"):
        spec = REGISTRY[name]
        ok, msg = compare(spark, fixture_dir, spec.fn, spec.oracle)
        assert ok, f"{name} on degenerate documents: {msg}"


def test_dedup_oracles_on_engineered_duplicates(spark, sf_dir, tmp_path):
    """Dedup differentials on engineered structure: an exact-duplicate
    pair (keep-first must break the tie on doc_id), a triple with one
    exact + one near duplicate (one-word edit), and uniques — the
    corpus's organic duplicates never isolate these cases."""
    from parquet_export_spark.queries import REGISTRY
    from tests.oracle_harness import compare, fixture_lake

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = base.replace("lazy", "sleepy")
    docs = spark.createDataFrame(
        [
            (1, base, "en", "s0", len(base)),
            (2, base, "en", "s1", len(base)),  # exact dup of 1
            (3, near, "en", "s0", len(near)),  # near dup of 1
            (4, "completely different content here", "en", "s0", 33),
            (5, base, "de", "s0", len(base)),  # exact dup, other lang
        ],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    fixture_dir = fixture_lake(
        spark, sf_dir, str(tmp_path / "dups"), {"documents": docs}
    )
    for name in (
        "dedup_exact",
        "dedup_exact_keep_first",
        "neardup_jaccard_blocked",
        "neardup_ngram_jaccard",
    ):
        spec = REGISTRY[name]
        ok, msg = compare(spark, fixture_dir, spec.fn, spec.oracle)
        assert ok, f"{name} on engineered duplicates: {msg}"


def test_pack_sequences_oracle_on_boundary_documents(spark, sf_dir, tmp_path):
    """Packing differentials on chunk-boundary alignment: docs whose
    token counts end EXACTLY on the 512-token cut, a 1-token doc
    straddling nothing, and a doc longer than one context window —
    off-by-one in start/end chunk math shows only at exact
    boundaries, which organic token counts rarely produce.
    Also exercises the two-level prefix sum across a bucket edge via
    doc_ids spanning the PACK_BUCKET divide."""
    from parquet_export_spark.operators.curation import PACK_BUCKET
    from parquet_export_spark.queries import REGISTRY
    from tests.oracle_harness import compare, fixture_lake

    def doc(i, n_tokens):
        text = " ".join(["w"] * n_tokens)
        return (i, text, "en", "s0", len(text))

    rows = [
        doc(1, 512),           # fills chunk 0 exactly
        doc(2, 1),             # single token at a fresh boundary
        doc(3, 511),           # ends chunk 1 exactly
        doc(4, 1025),          # spans three chunks
        doc(PACK_BUCKET, 7),   # straddle the prefix-sum bucket divide
        doc(PACK_BUCKET + 1, 9),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    fixture_dir = fixture_lake(
        spark, sf_dir, str(tmp_path / "packing"), {"documents": docs}
    )
    spec = REGISTRY["pack_sequences"]
    ok, msg = compare(spark, fixture_dir, spec.fn, spec.oracle)
    assert ok, f"pack_sequences on boundary documents: {msg}"


def test_bpe_encode_matches_reference(spark, sf_dir):
    """The distributed corpus encoder must produce EXACTLY the
    per-document post-BPE symbol count a sequential greedy encoder
    produces with the same learned merge table."""
    from parquet_export_spark.operators.text import (
        bpe_encode_corpus,
        bpe_learn_merges,
    )
    from parquet_export_spark.sources.lake import load_tables

    t = load_tables(spark, sf_dir)
    got = {r.doc_id: r.n_bpe_tokens for r in bpe_encode_corpus(t).collect()}

    merges = [
        (r.left, r.right)
        for r in sorted(
            bpe_learn_merges(t).collect(), key=lambda r: r.merge_rank
        )
    ]

    def encode_len(w: str) -> int:
        syms = list(w)
        for a, b in merges:
            res: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return len(syms)

    docs = {r.doc_id: r.text for r in t["documents"].collect()}
    want = {
        d: sum(encode_len(w) for w in text.split(" ") if w)
        for d, text in docs.items()
    }
    assert got == want
    # compression sanity: merges only ever shrink a word
    chars = {r.doc_id: r.n_chars for r in bpe_encode_corpus(t).collect()}
    assert all(got[d] <= chars[d] for d in got)


def test_neardup_incremental_matches_full_recompute(spark, tables):
    """Keep/drop contract (round-5): the incremental check against the
    lake's stored artifact must agree EXACTLY with a from-scratch
    full-corpus recompute — same signatures -> same band candidates ->
    same lane-agreement estimates, so lake matches, batch matches, and
    the keep bit are all equal. The incremental path earns its place
    by never re-signing history (plan audit in test_plans.py), not by
    changing answers."""
    got = {
        r.doc_id: (
            r.dup_of_lake,
            r.lake_match_id,
            r.lake_est,
            r.dup_in_batch,
            r.batch_match_id,
            r.keep,
        )
        for r in D.neardup_incremental(tables).collect()
    }

    # from-scratch reference: sign the WHOLE corpus at once, band it,
    # estimate over all candidate pairs, then apply the same rules in
    # plain Python.
    docs = tables["documents"].select("doc_id", "text")
    sig_all = D.minhash_signatures(docs).select("doc_id", "sig")
    bands_all = D._band_rows(sig_all)
    cand = (
        bands_all.alias("x")
        .join(
            bands_all.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
        )
        .distinct()
    )
    est = F.expr(
        f"aggregate(zip_with(sa, sb, (x, y) -> if(x = y, 1, 0)),"
        f" 0, (a, v) -> a + v) / cast({D.N_HASHES} as double)"
    )
    pairs = [
        (r.a, r.b, r.est)
        for r in cand.join(
            sig_all.select(F.col("doc_id").alias("a"), F.col("sig").alias("sa")),
            "a",
        )
        .join(
            sig_all.select(F.col("doc_id").alias("b"), F.col("sig").alias("sb")),
            "b",
        )
        .select("a", "b", est.alias("est"))
        .filter(F.col("est") >= D.NEARDUP_INCR_THRESHOLD)
        .collect()
    ]
    mod = D.INCR_BATCH_MOD
    batch = {r.doc_id for r in docs.collect() if r.doc_id % mod == 0}
    lake_matches: dict[int, list[tuple[int, float]]] = {}
    batch_matches: dict[int, list[int]] = {}
    for a, b, e in pairs:
        for bb, ll in ((a, b), (b, a)):
            if bb in batch and ll not in batch:
                lake_matches.setdefault(bb, []).append((ll, e))
        if a in batch and b in batch:
            batch_matches.setdefault(b, []).append(a)
    want = {}
    for d in sorted(batch):
        lm = min(lake_matches.get(d, []), default=None)
        bm = min(batch_matches.get(d, []), default=None)
        want[d] = (
            lm is not None,
            lm[0] if lm else None,
            lm[1] if lm else None,
            bm is not None,
            bm,
            lm is None and bm is None,
        )
    assert got == want
    # non-vacuous: the synthetic corpus contains engineered dups
    assert any(v[0] or v[3] for v in want.values())


def test_pillow_decoder_integration_example():
    """Round-10 stretch (r9 verdict #7): the decoder registry's
    extension point proven against a REAL imaging library. Skips
    cleanly where Pillow is absent (this sandbox ships no imaging
    libs); where it exists, the Pillow-backed decoder must agree with
    the pure-numpy PNG codec on dimensions AND pixels, and slot into
    the registry without touching pipeline code."""
    import numpy as np
    import pytest as _pytest

    from parquet_export_spark.operators import multimodal as M

    try:
        pillow_decode = M.make_pillow_decoder()
    except ImportError:
        _pytest.skip("Pillow not installed — integration example gated")

    img = (np.arange(16 * 24, dtype=np.uint32) * 37 % 256).astype(
        np.uint8
    ).reshape(16, 24)
    payload = M.encode_png(img)
    ours = M.decode_image(payload)
    theirs = pillow_decode(payload)
    assert (theirs["width"], theirs["height"]) == (
        ours["width"],
        ours["height"],
    )
    assert np.array_equal(
        np.asarray(theirs["pixels"]).squeeze(), np.asarray(ours["pixels"])
    )
    # registry swap: decode_image now routes PNG through Pillow
    M.register_decoder("image/png", pillow_decode)
    try:
        swapped = M.decode_image(payload)
        assert (swapped["width"], swapped["height"]) == (24, 16)
    finally:
        M.register_decoder("image/png", M.make_png_decoder())
    with _pytest.raises(ValueError):
        pillow_decode(b"\x89PNG\r\n\x1a\nnot really a png")
