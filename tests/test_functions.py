"""Tests for the training-data-pipeline function modules: dedup, similarity,
text stats, multimodal plumbing, and streaming incremental ingest."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ai_invoice_ocr_engine_spark import kernels as K
from ai_invoice_ocr_engine_spark.functions import dedup as D
from ai_invoice_ocr_engine_spark.functions import multimodal as M
from ai_invoice_ocr_engine_spark.functions import similarity as S


@pytest.fixture(scope="module")
def text_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
        (3, "quick brown fox jumps over the lazy dog again and again"),  # near dup
        (4, "completely different content with nothing shared whatsoever here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(text_df):
    groups = D.exact_dup_groups(text_df).collect()
    assert len(groups) == 1
    assert groups[0]["n_copies"] == 2 and groups[0]["keep_id"] == 1


def test_jaccard_finds_near_dups(text_df):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             D.jaccard_pairs(text_df, max_df=5, min_jaccard=0.3).collect()}
    assert pairs[(1, 2)] == 1.0  # exact pair
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.3
    assert not any(4 in p for p in pairs)


def test_substring_dedup_min_label(spark):
    """Every doc sharing an exact k-gram with a lower doc_id gets the
    SMALLEST such doc as dup_of; short docs never match."""
    base = "alpha beta gamma delta epsilon zeta eta theta " * 4  # 192 chars
    rows = [
        (10, base),
        (20, base),                      # exact dup of 10
        (30, base + "trailing extras"),  # shares every base shingle
        (40, "short text"),              # < k chars: no shingle
        (50, "x" * 200),                 # long but disjoint content
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["dup_of"]
           for r in D.substring_dup_of(df, k=64, step=8).collect()}
    assert out == {20: 10, 30: 10}


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment ~1 while
    symmetric Jaccard sits far below any usable threshold."""
    words = [f"w{i}" for i in range(120)]
    long_doc = " ".join(words)
    short_doc = " ".join(words[40:60])  # 20/120 words -> Jaccard ~0.14
    rows = [(1, long_doc), (2, short_doc), (3, "unrelated stuff entirely here now")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    cont = {(r["src_doc"], r["dst_doc"]): r["containment"] for r in
            D.containment_pairs(df, n=5, max_df=20, min_containment=0.9).collect()}
    assert cont[(2, 1)] == 1.0      # short contained in long
    assert (1, 2) not in cont       # the reverse direction is NOT a dup
    jac = {(r["doc_a"], r["doc_b"]) for r in
           D.jaccard_pairs(df, max_df=20, min_jaccard=0.5).collect()}
    assert (1, 2) not in jac and (2, 1) not in jac  # Jaccard misses it


def test_minhash_lsh_finds_dups(text_df):
    pairs = {(r["doc_a"], r["doc_b"]): r["n_bands"] for r in
             D.minhash_band_pairs(text_df, k=12, band_rows=3).collect()}
    assert pairs[(1, 2)] == 4  # identical docs collide in every band
    assert not any((1, 4) == p or (2, 4) == p or (3, 4) == p for p in pairs)


def test_simhash_near_dups(text_df):
    sims = {r["doc_id"]: r["simhash"] for r in D.simhash(text_df).collect()}
    assert sims[1] == sims[2]
    ham13 = bin(sims[1] ^ sims[3]).count("1")
    ham14 = bin(sims[1] ^ sims[4]).count("1")
    assert ham13 < ham14


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(16)], i % 3) for i in range(40)]
    # vec 39 = exact copy of vec 0 -> cosine 1.0
    rows[39] = (39, rows[0][1], 0)
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>, label int")


def test_cosine_topk(emb_df):
    top = S.cosine_topk(emb_df, query_vec_id=0, k=5).collect()
    assert top[0]["vec_id"] == 39 and top[0]["cos_sim"] == 1.0
    scores = [r["cos_sim"] for r in top]
    assert scores == sorted(scores, reverse=True)


def test_lsh_histogram(emb_df):
    hist = S.lsh_bucket_histogram(emb_df, n_bits=4).collect()
    assert sum(r["n_vectors"] for r in hist) == 40
    assert all(0 <= r["bucket"] < 16 for r in hist)


def test_semdedup_collapse_guard_is_lossless(spark):
    """semdedup_keep_stats collapses exact-duplicate embeddings BEFORE the
    pair join (the mega-bucket guard). Pin the docstring's equivalence
    claim: on a duplicate-heavy corpus the guarded kept set equals the
    unguarded 'drop anything with a smaller cosine>=t neighbor in its
    bucket' semantics computed directly over the RAW corpus."""
    rng = np.random.default_rng(7)
    base = [[float(x) for x in rng.standard_normal(16)] for _ in range(12)]
    rows = [(i, base[i]) for i in range(12)]
    # identical-embedding flood: 30 exact copies of vec 3 (collapse eats
    # these), plus a scaled near-dup of vec 5 (cosine 1.0, not bit-equal,
    # must reach and be dropped by the pair stage)
    rows += [(100 + j, base[3]) for j in range(30)]
    rows += [(200, [2.0 * x for x in base[5]])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    stats = S.semdedup_keep_stats(df, n_bits=4, min_cos=0.99).collect()
    assert sum(r["n_vectors"] for r in stats) == 43
    # unguarded reference kept set, computed from raw pairwise cosines
    import itertools

    def cos(a, b):
        a, b = np.asarray(a, np.float64), np.asarray(b, np.float64)
        return round(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 4)

    def bucket(e):
        return sum((1 << i) for i in range(4) if e[i] > 0)

    all_rows = sorted(rows)
    dropped = {
        vb: True
        for (va, ea), (vb, eb) in itertools.combinations(all_rows, 2)
        if bucket(ea) == bucket(eb) and cos(ea, eb) >= 0.99
    }
    expected_kept = [v for v, _e in all_rows if v not in dropped]
    assert sum(r["n_kept"] for r in stats) == len(expected_kept)
    # the flood collapsed to one representative; the scaled copy pruned
    assert 3 in expected_kept and all(100 + j not in expected_kept for j in range(30))
    assert 200 not in expected_kept


def test_media_metadata(spark, corpus):
    media = spark.read.parquet(corpus["media_path"]).limit(10)
    meta = M.media_metadata(media).collect()
    assert len(meta) == 10
    for r in meta:
        assert r["format"] == "synf" and r["width"] > 0
        assert len(r["features"]) == 16


def test_media_metadata_unsupported(spark):
    df = spark.createDataFrame(
        [("p1", bytearray(b"\x89PNG\r\n\x1a\n" + b"x" * 16)),
         ("j1", bytearray(b"\xff\xd8" + b"x" * 16))],
        "media_ref string, image binary",
    )
    meta = {r["media_ref"]: r for r in M.media_metadata(df).collect()}
    assert meta["p1"]["format"] == "unsupported"  # stubbed codec path
    assert meta["j1"]["width"] == -1


def test_resize_frames(spark, corpus):
    media = spark.read.parquet(corpus["media_path"]).limit(4)
    out = M.resize_frames(media, 64, 96).collect()
    for r in out:
        img = K.decode_synf(bytes(r["image"]))
        assert img.shape == (64, 96)


def test_incremental_stream_matches_batch(spark, corpus, golden_spans, tmp_path):
    """The stream's micro-batches run the batch extraction plan: the
    streamed table equals the single-process oracle."""
    from ai_invoice_ocr_engine_spark.streaming import incremental_extract

    from .util import assert_span_equal, spans_key

    # stream source dir with the corpus file in it
    src = tmp_path / "stream_src"
    src.mkdir()
    import shutil

    shutil.copy(corpus["docs_path"], src / "part-000.parquet")
    out = str(tmp_path / "stream_out")
    q = incremental_extract(
        spark, str(src), corpus["media_path"], out, str(tmp_path / "ckpt"),
        trigger_once=True,
    )
    q.awaitTermination(300)
    got = spans_key(spark.read.parquet(f"{out}/spans").collect())
    assert_span_equal(got, golden_spans)


def test_ivf_full_probe_equals_brute_force(emb_df):
    from ai_invoice_ocr_engine_spark.functions import similarity as S

    brute = [(r.vec_id, r.cos_sim) for r in S.cosine_topk(emb_df, 0, 10).collect()]
    ivf = [
        (r.vec_id, r.cos_sim)
        for r in S.ivf_topk(emb_df, 0, 10, n_clusters=8, nprobe=8, iters=2).collect()
    ]
    assert ivf == brute


def test_ivf_probed_recall_and_scan_fraction(emb_df):
    from pyspark.sql import functions as F

    from ai_invoice_ocr_engine_spark.functions import similarity as S

    brute = {r.vec_id for r in S.cosine_topk(emb_df, 0, 10).collect()}
    part = {
        r.vec_id
        for r in S.ivf_topk(emb_df, 0, 10, n_clusters=8, nprobe=2, iters=2).collect()
    }
    assert len(part & brute) / 10 >= 0.5  # clustered corpus: probing works
    # the probed path must actually restrict the scan
    cents = S.ivf_centroids(emb_df, k=8, iters=2)
    assigned = S.ivf_assign(
        emb_df.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
        cents,
    )
    sizes = {r.cid: r["count"] for r in assigned.groupBy("cid").count().collect()}
    total = sum(sizes.values())
    assert total == emb_df.count()
    assert max(sizes.values()) < total  # more than one non-empty cluster


def test_video_frame_sampling(spark, corpus):
    """SYNV container round-trip + every-n frame sampling via row-expanding
    mapInPandas; sampled frames decode identically to the originals."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import kernels as K
    from ai_invoice_ocr_engine_spark.functions import multimodal as M

    rng = np.random.default_rng(9)
    videos = []
    n_frames = [5, 1, 8]
    for vid, nf in enumerate(n_frames):
        frames = [
            K.encode_synf(rng.integers(0, 256, size=(16, 16), dtype=np.uint8))
            for _ in range(nf)
        ]
        videos.append((f"v{vid}", M.encode_synv(frames)))
    df = spark.createDataFrame(videos, "media_ref string, video binary")
    out = M.sample_video_frames(df, every_n=2).collect()
    expect = sum((nf + 1) // 2 for nf in n_frames)
    assert len(out) == expect
    assert all(r.frame_idx % 2 == 0 for r in out)
    for r in out:
        ref_frames = dict(videos)[r.media_ref]
        assert bytes(r.image) == M.decode_synv(ref_frames)[r.frame_idx]


def test_audio_features(spark):
    """SYNA round-trip + windowed RMS/zero-crossing features match a direct
    numpy computation."""
    import numpy as np

    from ai_invoice_ocr_engine_spark.functions import multimodal as M

    t = np.arange(4000)
    tone = (10000 * np.sin(t * 0.05)).astype(np.int16)
    silent = np.zeros(100, np.int16)
    df = spark.createDataFrame(
        [("a", M.encode_syna(tone)), ("s", M.encode_syna(silent))],
        "media_ref string, audio binary",
    )
    rows = {r.media_ref: r for r in M.audio_features(df, window=1024).collect()}
    assert rows["a"].n_samples == 4000 and len(rows["a"].rms) == 4
    want_rms0 = float(np.sqrt(np.mean(tone[:1024].astype(np.float64) ** 2)))
    assert abs(rows["a"].rms[0] - want_rms0) < 1e-3
    assert rows["a"].zero_crossings > 50
    assert rows["s"].zero_crossings == 0 and max(rows["s"].rms) == 0.0


def test_video_audio_codec_stubs():
    import pytest as _pytest

    from ai_invoice_ocr_engine_spark.functions import multimodal as M

    with _pytest.raises(NotImplementedError):
        M.decode_synv(b"\x00\x00\x00\x18ftypmp42....")
    with _pytest.raises(ValueError):  # RIFF routes to the real WAV decoder now
        M.decode_audio(b"RIFF....WAVE")
    with _pytest.raises(ValueError):
        M.decode_synv(b"garbage.....")


def test_minhash_fast_hash_finds_exact_dups(text_df):
    """xxhash64 MinHash (the at-scale hash) must find every EXACT duplicate
    pair — the only hash-family-independent guarantee (identical texts have
    identical signatures under any hash; partial-similarity candidates are
    legitimately family-dependent, see minhash_band_pairs docstring)."""
    from ai_invoice_ocr_engine_spark.functions import dedup as D

    fast = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_band_pairs(text_df, fast_hash=True).collect()
    }
    assert (1, 2) in fast  # the planted exact dup
    assert not any(4 in p for p in fast)  # unrelated doc never collides fully


def test_media_metadata_corrupt_png_is_unsupported(spark):
    """A truncated PNG (valid magic, garbage body) must classify as
    'unsupported', never crash the stage (decode_png's ValueError
    contract)."""
    df = spark.createDataFrame(
        [("c1", bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 40))],
        "media_ref string, image binary",
    )
    meta = M.media_metadata(df).collect()
    assert meta[0]["format"] == "unsupported"


def test_connected_components_labels(spark):
    """Chain, triangle, and isolated pair all collapse to min-id clusters;
    convergence across a 4-hop chain exercises the propagation loop."""
    from ai_invoice_ocr_engine_spark.functions import dedup as D
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4), (4, 5),   # 5-node chain -> cluster 1
            (10, 11), (11, 12), (10, 12),      # triangle -> cluster 10
            (20, 21),                          # pair -> cluster 20
        ],
        "doc_a int, doc_b int",
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["n_members"])
        for r in D.connected_components_labels(pairs).collect()
    }
    assert got == {
        1: (1, 5), 2: (1, 5), 3: (1, 5), 4: (1, 5), 5: (1, 5),
        10: (10, 3), 11: (10, 3), 12: (10, 3),
        20: (20, 2), 21: (20, 2),
    }
    # the star alternation reaches the identical fixpoint
    got_star = {
        r["doc_id"]: (r["cluster_id"], r["n_members"])
        for r in D.connected_components_star(pairs).collect()
    }
    assert got_star == got


def test_connected_components_star_adversarial_chain(spark):
    """VERDICT r2 next-step #7: on a 64-hop chain min-label propagation
    (O(diameter) rounds) exhausts its default budget and must now RAISE
    (ADVICE r2 #1 — never silently return non-minimal labels), while the
    large-star/small-star alternation converges in O(log n) rounds and
    labels the whole chain with its min id."""
    import pytest as _pytest

    from ai_invoice_ocr_engine_spark.functions import dedup as D

    n = 64
    pairs = spark.createDataFrame(
        [(f"d{i:03d}", f"d{i + 1:03d}") for i in range(n - 1)],
        "doc_a string, doc_b string",
    )
    rows = D.connected_components_star(pairs).collect()
    assert len(rows) == n
    assert all(r["cluster_id"] == "d000" and r["n_members"] == n for r in rows)
    with _pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components_labels(pairs, max_iter=25).collect()


def test_wav_codec_and_polymorphic_audio(spark):
    """PCM WAV is a real decoder now: 16-bit round-trip exact, 8-bit and
    stereo reduce deterministically, audio_features accepts a WAV column
    next to SYNA blobs (one decode_audio definition)."""
    import struct

    import numpy as np
    import pytest

    from ai_invoice_ocr_engine_spark.functions import multimodal as M

    rng = np.random.default_rng(5)
    s = rng.integers(-3000, 3000, 2048).astype(np.int16)
    wav = M.encode_wav(s, sample_rate=8000)
    assert np.array_equal(M.decode_wav(wav), s)
    assert np.array_equal(M.decode_audio(wav), s)
    assert np.array_equal(M.decode_audio(M.encode_syna(s)), s)

    # 8-bit unsigned: (v - 128) << 8
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    raw8 = bytes([0, 128, 255, 200])
    body += b"data" + struct.pack("<I", len(raw8)) + raw8
    wav8 = b"RIFF" + struct.pack("<I", len(body)) + body
    assert M.decode_wav(wav8).tolist() == [-32768, 0, 32512, 18432]

    # stereo averages to mono
    st = np.array([100, 200, -100, -200], np.int16)  # 2 frames x 2ch
    fmt2 = struct.pack("<HHIIHH", 1, 2, 8000, 32000, 4, 16)
    body2 = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt2)) + fmt2
    body2 += b"data" + struct.pack("<I", st.nbytes) + st.tobytes()
    wav2 = b"RIFF" + struct.pack("<I", len(body2)) + body2
    assert M.decode_wav(wav2).tolist() == [150, -150]

    # contracts
    with pytest.raises(NotImplementedError):  # non-PCM format code
        bad_fmt = struct.pack("<HHIIHH", 85, 1, 8000, 8000, 2, 16)
        b3 = b"WAVE" + b"fmt " + struct.pack("<I", len(bad_fmt)) + bad_fmt
        b3 += b"data" + struct.pack("<I", 0)
        M.decode_wav(b"RIFF" + struct.pack("<I", len(b3)) + b3)
    with pytest.raises(ValueError):
        M.decode_wav(b"RIFFxxxxNOPE")
    with pytest.raises(NotImplementedError):
        M.decode_audio(b"ID3\x04rest")

    # distributed feature stage over a mixed SYNA + WAV column
    df = spark.createDataFrame(
        [("a0", bytearray(M.encode_syna(s))), ("a1", bytearray(wav))],
        "media_ref string, audio binary",
    )
    rows = {r["media_ref"]: r for r in M.audio_features(df, window=512).collect()}
    assert rows["a0"]["n_samples"] == rows["a1"]["n_samples"] == 2048
    assert rows["a0"]["rms"] == rows["a1"]["rms"]  # same samples, two containers


def test_simhash_skew_guard_pathological_bucket(spark):
    """VERDICT r2 next-step #6: a near-identical corpus shares one band's
    bits, so one (band, value) bucket holds every doc and the candidate
    self-join goes quadratic despite pigeonhole exactness. The bucket-size
    cap re-splits oversized buckets with a second pigeonhole level —
    row-count asserted: candidates collapse from ~n^2/2 to near the true
    pair count, and the final pair set is IDENTICAL to the unguarded one."""
    import numpy as np

    from ai_invoice_ocr_engine_spark.functions.dedup import simhash_candidates
    from pyspark.sql import functions as F

    rng = np.random.default_rng(17)
    n = 600
    rows = []
    # every hash shares band 0 (low 12 bits) = 0xABC; upper 48 bits random
    # (pairwise Hamming ~24 >> 4), except 10 planted near-dup pairs
    for i in range(n):
        hi = int(rng.integers(0, 1 << 48))
        rows.append((f"p{i:04d}", (hi << 12) | 0xABC))
    for j in range(10):
        base = rows[j][1]
        rows.append((f"q{j:04d}", base ^ (1 << (20 + j))))  # Hamming 1
    hashes = spark.createDataFrame(rows, "doc_id string, simhash long")

    unguarded = simhash_candidates(hashes, max_bucket=None)
    guarded = simhash_candidates(hashes, max_bucket=100)
    n_un = unguarded.count()
    n_g = guarded.count()
    assert n_un >= (n * (n - 1)) // 2  # the quadratic blowup being guarded
    assert n_g < n_un // 20  # candidates collapse by >20x
    # exactness: identical final pair sets after the Hamming verify
    def pairs(cand):
        return sorted(
            (r["doc_a"], r["doc_b"])
            for r in cand.withColumn("h", F.expr("bit_count(sim_a ^ sim_b)"))
            .where(F.col("h") <= 4)
            .select("doc_a", "doc_b")
            .distinct()
            .collect()
        )

    want = pairs(unguarded)
    assert pairs(guarded) == want
    assert len(want) == 10  # exactly the planted near-dups


def test_minhash_mega_bucket_star_guard(spark):
    """VERDICT r3 next-step #2: a duplicate mega-cluster puts every doc
    into ONE (band, sig) bucket per band, and unlike SimHash's false
    candidates these pairs are real output — C(n, 2) rows from one bucket
    at any scale. Oversized buckets are star-reduced (every doc pairs with
    the bucket min only), row-count asserted: the mega-cluster contributes
    n-1 pairs, not n(n-1)/2, while connected-components clustering over
    the guarded pairs still recovers the identical cluster, and pairs
    outside the mega-bucket are untouched."""
    from ai_invoice_ocr_engine_spark.functions.dedup import (
        connected_components_labels,
        minhash_band_pairs,
    )

    n = 600
    rows = [(f"dup{i:04d}", "the same templated boilerplate page " * 6)
            for i in range(n)]
    # two distinct docs that are near-dups of each other but not of the
    # mega-cluster: they pair through ordinary small buckets
    rows.append(("solo0", "completely different unique text alpha beta gamma delta"))
    rows.append(("solo1", "completely different unique text alpha beta gamma delt!"))
    corpus = spark.createDataFrame(rows, "doc_id string, text string")

    guarded = minhash_band_pairs(corpus, fast_hash=True, max_bucket=100)
    got = guarded.collect()
    dup_pairs = [r for r in got if r["doc_a"].startswith("dup")]
    # star shape: exactly n-1 rows, every one anchored at the bucket min,
    # colliding in all 4 bands (identical signatures)
    assert len(dup_pairs) == n - 1
    assert {r["doc_a"] for r in dup_pairs} == {"dup0000"}
    assert all(r["n_bands"] == 4 for r in dup_pairs)
    # the small-bucket path is untouched: the solo near-dup pair survives
    assert any({r["doc_a"], r["doc_b"]} == {"solo0", "solo1"} for r in got)
    # connectivity preserved: one cluster holding the whole mega-cluster
    labels = connected_components_labels(guarded)
    dup_clusters = {
        r["cluster_id"]
        for r in labels.collect()
        if r["doc_id"].startswith("dup")
    }
    assert dup_clusters == {"dup0000"}
    # unguarded control on a 60-doc slice: quadratic row count, and the
    # guard's output over the same slice is its exact star reduction
    small = spark.createDataFrame(rows[:60], "doc_id string, text string")
    assert minhash_band_pairs(small, fast_hash=True, max_bucket=None).count() == (
        60 * 59
    ) // 2
    assert minhash_band_pairs(small, fast_hash=True, max_bucket=10).count() == 59


def test_embedding_mega_bucket_guard(spark):
    """VERDICT r4 next-step #1: the sign-LSH bucket space is fixed at
    2^n_bits, so an identical-embedding flood lands C(n,2) pairs in ONE
    bucket at any corpus size. Guarded near_dup_pairs exact-collapses the
    flood to n-1 (class-min, member, 1.0) edges and star-reduces a bucket
    that still holds > max_bucket DISTINCT embeddings, while small buckets
    keep bit-identical unguarded (oracle) semantics."""
    n = 600
    rows = [(i, [1.0] * 16) for i in range(n)]  # exact flood, bucket 0xFF
    # 150 DISTINCT embeddings in one bucket (signs fixed on the first 8
    # dims, variation beyond them): stage-2 rep star-reduction territory
    n_dist = 150
    rows += [
        (10000 + i, [1.0] * 7 + [-1.0] + [1.0] * 7 + [1.0 + 0.01 + 0.001 * i])
        for i in range(n_dist)
    ]
    # a genuine near-dup pair in its own small bucket: untouched path
    rows.append((20000, [-1.0] + [1.0] * 15))
    rows.append((20001, [-1.0] + [1.0] * 14 + [1.001]))
    emb = spark.createDataFrame(
        [(i, v, "x") for i, v in rows], "vec_id long, embedding array<float>, label string"
    )

    guarded = S.near_dup_pairs(emb, n_bits=8, min_cos=0.99, max_bucket=100).collect()
    flood = [r for r in guarded if r["vec_b"] < 10000]
    # exact-collapse star: n-1 edges anchored at the class min, cosine 1.0
    assert len(flood) == n - 1
    assert {r["vec_a"] for r in flood} == {0}
    assert all(r["cos_sim"] == 1.0 for r in flood)
    # rep star-reduction: 150 distinct reps > max_bucket -> n-1 edges to
    # the bucket-min rep, real cosine computed and filtered
    stars = [r for r in guarded if 10000 <= r["vec_b"] < 20000]
    assert len(stars) == n_dist - 1
    assert {r["vec_a"] for r in stars} == {10000}
    assert all(0.99 <= r["cos_sim"] <= 1.0 for r in stars)
    # small-bucket path untouched: the solo pair survives with its cosine
    solo = [r for r in guarded if r["vec_a"] == 20000]
    assert len(solo) == 1 and solo[0]["vec_b"] == 20001
    # unguarded control on a 60-row flood slice: quadratic; guarded on the
    # same slice is its exact star reduction
    small = emb.where(F.col("vec_id") < 60)
    assert S.near_dup_pairs(small, n_bits=8, max_bucket=None).count() == (60 * 59) // 2
    assert S.near_dup_pairs(small, n_bits=8, max_bucket=10).count() == 59


def test_reciprocal_knn_mega_bucket_guard(spark):
    """Same flood, mutual-kNN flavor: guarded reciprocal_knn_pairs
    collapses an exact flood to n-1 class-star edges (exact twins ARE
    mutually nearest) instead of an n^2 bucket-local scoring join, and
    leaves small buckets bit-identical to the unguarded (oracle) form."""
    n = 600
    rows = [(i, [1.0] * 8) for i in range(n)]  # one bucket under n_bits=4
    # small bucket: 4 vectors, two tight mutual pairs
    rows += [
        (9000, [-1.0, 1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0]),
        (9001, [-1.0, 1.0, 1.0, 1.0, 1.001, 0.0, 0.0, 0.0]),
        (9002, [-1.0, 1.0, 1.0, -2.0, 1.0, 0.0, 0.0, 0.0]),
        (9003, [-1.0, 1.0, 1.0, -2.0, 1.001, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(
        [(i, v, "x") for i, v in rows], "vec_id long, embedding array<float>, label string"
    )
    guarded = S.reciprocal_knn_pairs(emb, n_bits=4, k=3, max_bucket=100)
    got = guarded.collect()
    flood = [r for r in got if r["vec_b"] < 9000]
    assert len(flood) == n - 1
    assert {r["vec_a"] for r in flood} == {0}
    assert all(r["cos_sim"] == 1.0 for r in flood)
    # the small bucket's output is bit-identical to the unguarded form
    sm = emb.where(F.col("vec_id") >= 9000)
    want = sorted(
        (r["vec_a"], r["vec_b"], r["cos_sim"])
        for r in S.reciprocal_knn_pairs(sm, n_bits=4, k=3, max_bucket=None).collect()
    )
    assert want  # the planted mutual pairs exist
    got_small = sorted(
        (r["vec_a"], r["vec_b"], r["cos_sim"]) for r in got if r["vec_a"] >= 9000
    )
    assert got_small == want


def test_auto_bits_curve_and_recall(spark):
    """VERDICT r4 next-step #8: the sign-LSH width follows
    n_bits = clamp(ceil(log2(n/target)), 4, dim) so expected bucket size
    stays ~target at any corpus size (30 bits at 10^12/1024). The recall
    trade of widening is measured, not assumed: planted near-dup pairs'
    recall at 8 bits <= recall at 4 bits (bucket agreement on 8 bits
    implies agreement on 4), both above a pinned floor on a seeded
    corpus whose near-zero dims make sign flips actually happen."""
    assert S.auto_bits(10**12, 256) == 30
    assert S.auto_bits(500, 256) == 4  # tiny corpus clamps low
    assert S.auto_bits(10**6, 8) == 8  # dim-limited clamp high
    assert S.auto_bits(2**40, 256, target_bucket=4096) == 28

    rng = np.random.default_rng(41)
    base = rng.normal(0.0, 1.0, size=(200, 16))
    noise = rng.normal(0.0, 0.05, size=(40, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    rows += [
        (1000 + j, [float(x) for x in (base[j] + noise[j])]) for j in range(40)
    ]
    emb = spark.createDataFrame(
        [(i, v, "x") for i, v in rows], "vec_id long, embedding array<float>, label string"
    )
    planted = {(j, 1000 + j) for j in range(40)}

    def recall(bits):
        got = {
            (r["vec_a"], r["vec_b"])
            for r in S.near_dup_pairs(emb, n_bits=bits, min_cos=0.99).collect()
        }
        return len(got & planted) / len(planted)

    r4, r8 = recall(4), recall(8)
    assert r4 >= r8
    assert r4 >= 0.6 and r8 >= 0.4


def test_phash_near_dup_frames(spark):
    """Perceptual image dedup: planted near-duplicates (resized, noised,
    JPEG-re-encoded copies) pair with their originals through the banded
    pHash join; distinct pages do not. The image analog of text near-dedup
    for a multimodal corpus."""
    import numpy as np

    from ai_invoice_ocr_engine_spark import fixtures as FX
    from ai_invoice_ocr_engine_spark.functions import multimodal as MM
    from ai_invoice_ocr_engine_spark.jpeg import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(7)
    rows = []
    expected_pairs = set()
    # structurally distinct pages (varied dims + header bands): pairwise
    # pHash Hamming >= 18, far above the max_hamming=6 pairing radius
    specs = [(320, 260, False), (480, 200, True), (200, 400, False),
             (360, 360, True), (260, 320, False), (420, 240, True)]
    for i, (pw, ph_, hf) in enumerate(specs):
        img, _ = FX.render_media(np.random.default_rng(200 + i), pw, ph_, hf)
        rows.append((f"orig{i}", bytearray(K.encode_synf(img))))
        if i < 3:  # plant one variant per original for the first three
            if i == 0:
                var = K.resize_bilinear(img, 200, 240)
            elif i == 1:
                var = np.clip(
                    img.astype(int) + rng.integers(-6, 7, img.shape), 0, 255
                ).astype(np.uint8)
            else:
                var = decode_jpeg(encode_jpeg(img, quality=85))
            rows.append((f"var{i}", bytearray(K.encode_synf(var))))
            expected_pairs.add(tuple(sorted((f"orig{i}", f"var{i}"))))
    media = spark.createDataFrame(rows, "media_ref string, image binary")
    pairs = {
        tuple(sorted((r["ref_a"], r["ref_b"])))
        for r in MM.phash_near_dup_pairs(media, max_hamming=6).collect()
    }
    assert expected_pairs <= pairs
    # no originals pair with each other (distinct pages are >> 6 bits apart)
    assert not any(a.startswith("orig") and b.startswith("orig") for a, b in pairs)


def test_repetition_stats_gopher_gates(spark):
    """with_repetition_stats: dominant-bigram share + duplicate-trigram
    fraction (Gopher A1.1 shape) with hand-computed values, incl. the
    degenerate 0/1/2-word documents and the keep thresholds."""
    from ai_invoice_ocr_engine_spark.functions import text as T

    rows = [
        ("clean", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        # "spam spam" bigram appears 4x of 5 bigrams; trigram "spam spam spam"
        # dups: 4 trigrams, 1 distinct -> dup_frac 0.75
        ("loop", "spam spam spam spam spam spam"),
        ("two", "only two"),
        ("one", "single"),
        ("empty", "   "),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in T.with_repetition_stats(df).collect()}

    clean = got["clean"]
    assert clean.n_words == 10 and clean.top_bigram_n == 1
    assert clean.top_bigram_frac == round(1 / 9, 4)
    assert clean.dup_trigram_frac == 0.0 and clean.keep == 1

    loop = got["loop"]
    assert loop.n_words == 6 and loop.top_bigram_n == 5
    assert loop.top_bigram_frac == 1.0
    assert loop.dup_trigram_frac == 0.75 and loop.keep == 0

    two = got["two"]
    assert two.n_words == 2 and two.top_bigram_n == 1
    assert two.top_bigram_frac == 1.0  # one bigram dominates trivially
    assert two.dup_trigram_frac == 0.0 and two.keep == 0

    one = got["one"]
    assert (one.n_words, one.top_bigram_n) == (1, 0)
    assert one.top_bigram_frac == 0.0 and one.dup_trigram_frac == 0.0
    assert one.keep == 1

    empty = got["empty"]
    assert empty.n_words == 0 and empty.top_bigram_n == 0 and empty.keep == 1


def test_repetition_stats_randomized_vs_pure_python(spark):
    """120 seeded random word-stream docs (skewed word distribution so
    repeats actually occur, plus degenerate 0/1/2-word docs) — Spark output
    equals an independent pure-python computation of every column."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from ai_invoice_ocr_engine_spark.functions import text as T

    def r4(x):  # Spark/DuckDB round() is HALF_UP; python round() is banker's
        return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    rng = np.random.default_rng(4242)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(120):
        n = int(rng.integers(0, 40))
        # zipf-ish skew: low indexes dominate -> repeated bigrams/trigrams
        idx = np.minimum(rng.zipf(1.7, size=n) - 1, len(vocab) - 1)
        rows.append((f"d{i}", " ".join(vocab[j] for j in idx)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in T.with_repetition_stats(df).collect()}
    assert len(got) == 120

    for doc_id, text in rows:
        ws = [t for t in text.split(" ") if t]
        bis = [f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)]
        tris = [f"{ws[i]} {ws[i+1]} {ws[i+2]}" for i in range(len(ws) - 2)]
        top_n = max(Counter(bis).values()) if bis else 0
        top_frac = r4(top_n / len(bis)) if bis else 0.0
        dup_frac = r4(1.0 - len(set(tris)) / len(tris)) if tris else 0.0
        keep = 0 if (top_frac > 0.12 or dup_frac > 0.05) else 1
        r = got[doc_id]
        assert r.n_words == len(ws), doc_id
        assert r.top_bigram_n == top_n, doc_id
        assert r.top_bigram_frac == top_frac, doc_id
        assert r.dup_trigram_frac == dup_frac, doc_id
        assert r.keep == keep, doc_id


def test_audio_metadata_header_parsers(spark):
    """audio_metadata: exact for SYNA/WAV/FLAC (shared parsers), frame-header
    parse for mp3 (ISO 11172-3 tables, ID3v2 skip) and ADTS AAC — while
    sample DECODE for mp3/aac stays the NotImplementedError seam."""
    from ai_invoice_ocr_engine_spark.flac import encode_flac
    from ai_invoice_ocr_engine_spark.functions.multimodal import (
        audio_meta, audio_metadata, decode_audio, encode_syna, encode_wav_ext)

    t = np.arange(3200)
    pcm = (1000 * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)

    m = audio_metadata(encode_syna(pcm))
    assert (m["format"], m["n_samples"], m["duration_s"]) == ("syna", 3200, 0.2)

    m = audio_metadata(encode_wav_ext(pcm, codec="pcm16", sample_rate=8000))
    assert (m["format"], m["codec"], m["sample_rate"]) == ("wav", "pcm16", 8000)
    assert m["channels"] == 1 and m["bits"] == 16 and m["n_samples"] == 3200

    m = audio_metadata(encode_wav_ext(pcm, codec="alaw", sample_rate=16000))
    assert m["codec"] == "alaw" and m["sample_rate"] == 16000

    m = audio_metadata(encode_flac(pcm, sample_rate=22050))
    assert (m["format"], m["sample_rate"], m["channels"], m["bits"]) == (
        "flac", 22050, 1, 16)
    assert m["n_samples"] == 3200 and round(m["duration_s"], 4) == round(3200 / 22050, 4)

    # MPEG1 Layer III CBR stream: bitrate idx 9 = 128 kbps, sr idx 0 =
    # 44100, joint stereo → 417-byte frames. Metadata is now FRAME-exact
    # (mpegaudio.py walk), not a byte-count estimate: 38 frames x 1152
    # samples.
    frame = bytes([0xFF, 0xFB, 0x90, 0x44]) + b"\x00" * (417 - 4)
    mp3 = frame * 38
    m = audio_metadata(mp3)
    assert (m["format"], m["codec"]) == ("mp3", "mp3_128kbps")
    assert m["sample_rate"] == 44100 and m["channels"] == 2
    assert m["n_samples"] == 38 * 1152
    assert m["duration_s"] == round(38 * 1152 / 44100, 4)
    with pytest.raises(NotImplementedError):
        decode_audio(mp3)  # decode stays a seam

    # same stream behind an ID3v2 tag (syncsafe size 100)
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x64" + b"\x00" * 100 + mp3
    m2 = audio_metadata(id3)
    assert (m2["sample_rate"], m2["channels"], m2["n_samples"]) == (
        44100, 2, 38 * 1152)

    # a stream that LOSES SYNC after its first frame (header + zero
    # padding) reports only the frames that actually parse — torn files
    # surface as short durations, never smoothed to the nominal bitrate
    torn = audio_metadata(frame + b"\x00" * 15000)
    assert torn["n_samples"] == 1152

    # MPEG2 Layer III 8 kbps mono, sr idx 0 = 22050
    m = audio_metadata(bytes([0xFF, 0xF3, 0x10, 0xC4]) + b"\x00" * 96)
    assert m["codec"] == "mp3_8kbps" and m["sample_rate"] == 22050
    assert m["channels"] == 1

    # ADTS AAC-LC, sr idx 4 = 44100, channel config 2 — a minimal
    # well-formed frame (frame_length = 7, header-only); the walk is now
    # frame-exact so a declared length of 0 would be a torn-stream error
    m = audio_metadata(bytes([0xFF, 0xF1, 0x50, 0x80, 0x00, 0xE0, 0xFC]))
    assert (m["format"], m["sample_rate"], m["channels"]) == ("aac", 44100, 2)
    assert m["n_samples"] == 1024

    with pytest.raises(ValueError):
        audio_metadata(b"\x00\x01\x02\x03 garbage")
    with pytest.raises(ValueError):
        audio_metadata(bytes([0xFF, 0xEB, 0x90, 0x44]))  # reserved version
    with pytest.raises(ValueError):
        audio_metadata(bytes([0xFF, 0xFB, 0x04, 0x44]))  # free-format bitrate

    # DataFrame wrapper: one Arrow crossing, bad rows -> 'unsupported'
    rows = [("a", bytearray(encode_syna(pcm))), ("b", bytearray(mp3)),
            ("c", bytearray(b"junkjunk"))]
    df = spark.createDataFrame(rows, "media_ref string, audio binary")
    got = {r.media_ref: r for r in audio_meta(df).collect()}
    assert got["a"].format == "syna" and got["a"].n_samples == 3200
    assert got["b"].codec == "mp3_128kbps" and got["b"].duration_s == 0.9927
    assert got["c"].format == "unsupported" and got["c"].sample_rate == -1


def test_video_metadata_header_parsers(spark):
    """video_metadata: SYNV frame count + dims, mp4 mvhd duration + track
    sample counts (decode stays the seam), GIF logical screen + frames."""
    from ai_invoice_ocr_engine_spark.gif import encode_gif
    from ai_invoice_ocr_engine_spark.mp4 import encode_mp4
    from ai_invoice_ocr_engine_spark.functions.multimodal import (
        decode_synv, encode_synv, video_meta, video_metadata)

    rng = np.random.default_rng(11)
    frames = [K.encode_synf(rng.integers(0, 256, (24, 32), dtype=np.uint8))
              for _ in range(3)]

    m = video_metadata(encode_synv(frames))
    assert (m["format"], m["codec"], m["n_frames"]) == ("synv", "synf", 3)
    assert (m["width"], m["height"]) == (32, 24)

    mp4 = encode_mp4(frames)
    m = video_metadata(mp4)
    assert m["format"] == "mp4" and m["codec"] == "synf"
    assert m["n_frames"] == 3 and m["n_tracks"] == 1
    assert m["duration_s"] == 3 / 1000.0  # fixture mvhd: timescale 1000
    with pytest.raises(NotImplementedError):
        decode_synv(mp4)  # decode stays the seam

    gif_frames_px = [rng.integers(0, 256, (10, 12), dtype=np.uint8)
                     for _ in range(2)]
    m = video_metadata(encode_gif(gif_frames_px))
    assert (m["format"], m["width"], m["height"], m["n_frames"]) == (
        "gif", 12, 10, 2)

    with pytest.raises(ValueError):
        video_metadata(b"\x00" * 32)

    rows = [("s", bytearray(encode_synv(frames))), ("m", bytearray(mp4)),
            ("bad", bytearray(b"nope"))]
    df = spark.createDataFrame(rows, "media_ref string, video binary")
    got = {r.media_ref: r for r in video_meta(df).collect()}
    assert got["s"].n_frames == 3 and got["s"].width == 32
    assert got["m"].format == "mp4" and got["m"].n_frames == 3
    assert got["bad"].format == "unsupported"


def test_audio_fingerprint_gain_invariant_unit():
    t = np.arange(32000)
    env = 0.2 + 0.8 * (1 + np.sin(t / 2500.0)) / 2
    sig = env * np.sin(2 * np.pi * 440 * t / 16000)
    a = M.audio_fingerprint64(sig * 30000)
    b = M.audio_fingerprint64(sig * 300)  # 40 dB quieter, float-exact
    assert a == b and a != 0


def test_audio_near_dup_pairs(spark):
    rng = np.random.default_rng(8)
    n = 48000
    t = np.arange(n)
    env = 0.2 + 0.8 * (1 + np.sin(t / 3500.0)) / 2  # ~2 envelope cycles
    base = (12000 * env * np.sin(2 * np.pi * 440 * t / 16000)).astype(np.int16)
    half = (base.astype(np.int32) // 2).astype(np.int16)  # -6 dB int copy
    resamp = np.repeat(base[::2], 2)[:n]  # crude 2x down-up resample
    noise = (rng.standard_normal(n) * 9000).astype(np.int16)
    rows = [
        ("orig", M.encode_wav(base)),
        ("gain", M.encode_wav(half)),
        ("resamp", M.encode_wav(resamp)),
        ("noise", M.encode_wav(noise)),
        ("seam", b"ID3\x04\x00junk"),  # codec seam: dropped, not fatal
    ]
    df = spark.createDataFrame(rows, "media_ref string, audio binary")
    pairs = {(r["ref_a"], r["ref_b"]): r["hamming"]
             for r in M.audio_near_dup_pairs(df, max_hamming=8).collect()}
    keys = set(frozenset(k) for k in pairs)
    assert frozenset({"orig", "gain"}) in keys
    assert frozenset({"orig", "resamp"}) in keys
    assert not any("noise" in k or "seam" in k for k in keys)


def test_line_dedup_drops_shared_lines(spark):
    """8-word lines shared by >=2 docs are dropped; per-doc order of the
    surviving text is preserved; exact-dup docs lose everything."""
    rows = [
        (1, "a b c d e f g h x1 y1 z1"),
        (2, "a b c d e f g h x2 y2 z2"),   # shares line 0 with doc 1
        (3, "unique words only here none shared at all tail bit"),
        (4, "a b c d e f g h x1 y1 z1"),   # exact dup of doc 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.line_dedup(df, window=8, min_df=2).collect()}
    # doc 4 is an exact dup of doc 1, so BOTH of doc 1's lines are shared
    assert out[1]["n_lines"] == 2 and out[1]["n_dropped"] == 2
    assert out[1]["kept_text"] == ""
    assert out[2]["kept_text"] == "x2 y2 z2"
    assert out[3]["n_dropped"] == 0
    assert out[3]["kept_text"] == rows[2][1]
    assert out[4]["n_dropped"] == 2 and out[4]["kept_text"] == ""


def test_line_dedup_preserves_order(spark):
    """Kept lines rejoin in original position order, not hash/sort order."""
    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    text = "z9 z8 z7 z6 z5 z4 z3 z2 " + shared + " a1 a2 a3 a4 a5 a6 a7 a8"
    rows = [(1, text), (2, shared)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in D.line_dedup(df, window=8, min_df=2).collect()}
    assert out[1]["kept_text"] == "z9 z8 z7 z6 z5 z4 z3 z2 a1 a2 a3 a4 a5 a6 a7 a8"
    assert out[1]["n_dropped"] == 1


def test_bloom_no_false_negatives_and_bounded_fps(spark):
    """Every reference key must hit (Bloom guarantee); false positives on
    novel keys stay under the design bound at 16 bits/key."""
    n = 500
    ref = spark.createDataFrame(
        [(i, f"refkey-{i}") for i in range(n)], "id bigint, fp string"
    )
    m_bits = ((16 * n + 63) // 64) * 64
    bmp = D.bloom_build(ref, "fp", m_bits, k=7)
    probe = spark.createDataFrame(
        [(i, f"refkey-{i}") for i in range(n)]
        + [(n + i, f"novel-{i}") for i in range(n)],
        "id bigint, fp string",
    )
    got = D.bloom_hits(probe, "fp", bmp, m_bits, k=7).collect()
    misses = [r for r in got if r["fp"].startswith("refkey") and not r["bloom_hit"]]
    fps = [r for r in got if r["fp"].startswith("novel") and r["bloom_hit"]]
    assert misses == []                 # no false negatives, ever
    assert len(fps) <= max(5, n // 50)  # ~0.2% expected; 2% bound


def test_bloom_build_deterministic(spark):
    """Same inputs -> bit-identical bitmap (rerun-stable at any scale)."""
    ref = spark.createDataFrame(
        [(i, f"k{i}") for i in range(64)], "id bigint, fp string"
    )
    a = D.bloom_build(ref, "fp", 1024, k=5)
    b = D.bloom_build(ref.repartition(7), "fp", 1024, k=5)
    assert (a == b).all()


def test_bloom_build_rejects_bad_m():
    with pytest.raises(ValueError):
        D.bloom_build(None, "fp", 100, k=3)


def test_pagerank_symmetric_two_cycle(spark):
    """A <-> B is symmetric: both ranks stay exactly 0.5 every iteration."""
    from ai_invoice_ocr_engine_spark.functions import graph as G

    nodes = spark.createDataFrame([(0,), (1,)], ["n"])
    edges = spark.createDataFrame([(0, 1), (1, 0)], ["src", "dst"])
    out = {r["n"]: r["rank"] for r in G.pagerank(nodes, edges, iters=4).collect()}
    assert out == {0: 0.5, 1: 0.5}


def test_pagerank_hub_outranks_leaves(spark):
    """Star graph: the node every leaf links to accumulates rank; leaves
    (teleport-only) are equal and the total mass stays <= 1."""
    from ai_invoice_ocr_engine_spark.functions import graph as G

    n = 6
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["n"])
    # leaves 1..5 -> hub 0; hub -> leaf 1 (so the hub is not dangling)
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, n)] + [(0, 1)], ["src", "dst"]
    )
    out = {r["n"]: r["rank"] for r in G.pagerank(nodes, edges, iters=5).collect()}
    assert out[0] > out[1] > out[2]  # hub first, then the hub's target leaf
    assert out[2] == out[3] == out[4] == out[5]
    assert sum(out.values()) <= 1.0 + 1e-9


def test_pagerank_rank_conservation_regular_graph(spark):
    """On a 3-regular graph over contiguous ids (the query's edge synth)
    no mass leaks: ranks sum to 1 after any number of iterations."""
    from ai_invoice_ocr_engine_spark.functions import graph as G

    n = 50
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["n"])
    edges = spark.createDataFrame(
        [(i, (i * 31 + j * 17) % n) for i in range(n) for j in (1, 2, 3)],
        ["src", "dst"],
    )
    ranks = [r["rank"] for r in G.pagerank(nodes, edges, iters=5).collect()]
    assert abs(sum(ranks) - 1.0) < 1e-9
    assert len(ranks) == n


def test_chunk_windows_semantics(spark):
    """Window/stride arithmetic: 100 tokens with window 32 / stride 24
    yields starts 0,24,48,72,96 with sizes 32,32,32,28,4; empty docs
    yield one empty chunk; chunk_idx is dense from 0."""
    from ai_invoice_ocr_engine_spark.functions import text as T

    text = " ".join(f"t{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(1, text), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    out = T.chunk_windows(docs, window=32, stride=24).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    one = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["chunk_idx"] for r in one] == [0, 1, 2, 3, 4]
    assert [r["n_chunk_tokens"] for r in one] == [32, 32, 32, 28, 4]
    assert [r["n_chunk_tokens"] for r in by_doc[2]] == [0]
    assert [r["n_chunk_tokens"] for r in by_doc[3]] == [2]


def test_with_scripts_dominant_and_purity(spark):
    """Script-mix detection: per-script char counts, the fixed
    latin>cyrillic>greek>cjk tie-break, and purity over scripted chars
    only (digits/punctuation excluded from the denominator)."""
    from ai_invoice_ocr_engine_spark.functions.text import with_scripts

    rows = [
        (1, "hello world"),                    # pure latin
        (2, "Привет мир"),                     # pure cyrillic
        (3, "ab Γα"),                          # 2 latin vs 2 greek: tie → latin
        (4, "数据 123 ... 数据"),               # cjk; digits don't count
        (5, "Γειά αβγδε x"),                   # greek-dominant with one latin
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in with_scripts(df).collect()}
    assert out[1]["dominant_script"] == "latin" and out[1]["script_purity"] == 1.0
    assert out[2]["dominant_script"] == "cyrillic" and out[2]["n_cyrillic"] == 9
    assert out[3]["dominant_script"] == "latin"  # tie-break order
    assert out[4]["dominant_script"] == "cjk" and out[4]["n_cjk"] == 4
    assert out[4]["script_purity"] == 1.0  # digits excluded
    assert out[5]["dominant_script"] == "greek"
    assert out[5]["n_greek"] == 9 and out[5]["n_latin"] == 1
    assert out[5]["script_purity"] == 0.9


def test_with_encoding_quality(spark):
    """Encoding gate: mojibake (double-encoded UTF-8 lead+continuation),
    U+FFFD replacement chars, and non-whitespace C0 controls each count
    separately; tabs/newlines are NOT controls; clean text keeps."""
    from ai_invoice_ocr_engine_spark.functions.text import with_encoding_quality

    rows = [
        (1, "clean text\twith tabs\nand newlines"),
        (2, "cafÃ© menu"),          # Ã© = double-encoded é
        (3, "lossy � decode �"),    # two replacement chars
        (4, "ctrl\x07bell and \x00nul"),      # two C0 controls
        (5, "Â alone"),                  # lead byte w/o continuation
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in with_encoding_quality(df).collect()}
    assert out[1] == {"doc_id": 1, "n_double_enc": 0, "n_replacement": 0,
                      "n_ctrl": 0, "encoding_clean": True}
    assert out[2]["n_double_enc"] == 1 and not out[2]["encoding_clean"]
    assert out[3]["n_replacement"] == 2 and not out[3]["encoding_clean"]
    assert out[4]["n_ctrl"] == 2 and not out[4]["encoding_clean"]
    # a bare C2/C3 without a continuation byte is NOT the mojibake shape
    assert out[5]["n_double_enc"] == 0 and out[5]["encoding_clean"]
