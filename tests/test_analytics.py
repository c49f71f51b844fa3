"""Dedup / similarity / text / multimodal analytics tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from genie_spark.analytics.dedup import (
    exact_duplicates,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from genie_spark.analytics.multimodal import (
    PillowDecoder,
    extract_features,
    synthesize_media,
)
from genie_spark.analytics.similarity import cosine_pairs, cosine_topk, lsh_cosine_candidates
from genie_spark.analytics.text import lang_id, quality_score, token_stats


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    return spark.createDataFrame(
        [
            (1, base * 3),
            (2, base * 3),                      # exact dup of 1
            (3, base * 3 + " extra tail here"),  # near dup of 1
            (4, "completely different content about spark query engines and shuffles " * 3),
            (5, "el la de que y los se " * 10),
        ],
        ["doc_id", "text"],
    )


def test_exact_duplicates(spark):
    out = exact_duplicates(_docs(spark))
    dups = [r for r in out.collect() if r["n_copies"] > 1]
    assert len(dups) == 1 and dups[0]["survivor_id"] == 1 and dups[0]["n_copies"] == 2


def test_ngram_jaccard_and_minhash_agree(spark):
    docs = _docs(spark)
    exact = {(r["a"], r["b"]) for r in ngram_jaccard_pairs(docs, k=10, threshold=0.5).collect()}
    assert (1, 2) in exact and (1, 3) in exact and (2, 3) in exact
    assert not any(4 in p or 5 in p for p in exact)
    mh = {(r["a"], r["b"]) for r in minhash_dedup_pairs(docs, k=10, threshold=0.5).collect()}
    # LSH candidates verified with exact jaccard → subset relation both ways
    assert mh == exact


def test_simhash_near_dups_close(spark):
    docs = _docs(spark)
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[1] == sh[2]  # identical text → identical fingerprint
    pairs = {(r["a"], r["b"]): r["hamming"] for r in simhash_pairs(docs, max_distance=8).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
    assert (1, 3) in pairs  # near dup → small distance


def _vectors(spark):
    import math

    rows = []
    for i in range(30):
        base = [math.sin(0.1 * (i + 1) * (j + 1)) for j in range(8)]
        rows.append((i, [float(x) for x in base]))
    rows.append((100, [float(x) + 0.001 for x in rows[0][1]]))  # near dup of 0
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_and_pairs(spark):
    vecs = _vectors(spark)
    top = cosine_topk(vecs, k=3, query_filter=F.col("vec_id") == 0).collect()
    assert [r["query_id"] for r in top] == [0, 0, 0]
    assert top[0]["neighbor_id"] == 100 and top[0]["rank"] == 1
    pairs = {(r["a"], r["b"]) for r in cosine_pairs(vecs, threshold=0.999).collect()}
    assert (0, 100) in pairs


def test_ivf_topk_finds_near_dup(spark):
    from genie_spark.analytics.similarity import ivf_topk

    vecs = _vectors(spark)
    top = ivf_topk(
        vecs, n_centroids=4, n_probe=2, k=3, query_filter=F.col("vec_id") == 0
    ).collect()
    # vec 100 is a near-copy of vec 0 → same cell, rank 1 in the probe
    assert top[0]["neighbor_id"] == 100 and top[0]["rank"] == 1
    assert all(r["query_id"] == 0 for r in top) and len(top) == 3


def test_lsh_buckets_contain_near_dup(spark):
    vecs = _vectors(spark)
    cand = {(r["a"], r["b"]) for r in lsh_cosine_candidates(vecs, dim=8).collect()}
    assert (0, 100) in cand  # near-identical vectors share every sign bit


def test_lsh_cosine_candidates_rejects_wrong_dim(spark):
    """A ``dim`` that disagrees with the vectors would sign every row
    to bucket 0 and self-join the whole table; it raises instead."""
    rows = [(i, [float((i * 5 + j) % 7) - 3.0 for j in range(64)]) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="dim=8"):
        lsh_cosine_candidates(df, dim=8)
    pairs = {(r["a"], r["b"]) for r in lsh_cosine_candidates(df, dim=64).collect()}
    assert len(pairs) < 12 * 11 // 2
    # ids keep their type through the signer
    sdf = df.select(F.concat(F.lit("v"), "vec_id").alias("vec_id"), "embedding")
    spairs = lsh_cosine_candidates(sdf, dim=64)
    assert spairs.schema["a"].dataType.simpleString() == "string"
    assert {(int(r["a"][1:]), int(r["b"][1:])) for r in spairs.collect()} == {
        (a, b) for a, b in pairs if f"v{a}" < f"v{b}"
    } | {(b, a) for a, b in pairs if f"v{a}" > f"v{b}"}


def test_token_stats_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat with a hat and a bat today ok"), (2, "x")],
        ["doc_id", "text"],
    )
    ts = {r["doc_id"]: r for r in token_stats(df).collect()}
    assert ts[1]["n_tokens"] == 14 and ts[2]["n_tokens"] == 1
    q = {r["doc_id"]: r for r in quality_score(df).collect()}
    assert q[1]["passes_quality"] is True and q[2]["passes_quality"] is False
    assert abs(q[1]["stop_ratio"] - 6 / 14) < 1e-12


def test_lang_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is in that house"),
         (2, "el perro y la casa de que los se"),
         (3, "zzz qqq www")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(df).collect()}
    assert got == {1: "en", 2: "es", 3: "unknown"}


def test_multimodal_feature_plumbing(spark):
    media = synthesize_media(spark, n=12)
    out = extract_features(media).collect()
    assert len(out) == 12
    by_id = {r["media_id"]: r for r in out}
    assert all(len(r["feature"]) == 8 for r in out)
    assert by_id[0]["n_bytes"] == 32  # sha256 digest × 1
    # deterministic: second run identical
    again = {r["media_id"]: r["content_sha"] for r in extract_features(media).collect()}
    assert again == {r["media_id"]: r["content_sha"] for r in out}


def test_multimodal_decode_is_stubbed(spark):
    from genie_spark.analytics.multimodal import DeterministicFakeDecoder
    import pytest as pt

    with pt.raises(NotImplementedError):
        DeterministicFakeDecoder().decode(b"\x89PNG")


def test_multimodal_resize_and_frame_sample(spark):
    from genie_spark.analytics.multimodal import resize_media, sample_frames

    media = synthesize_media(spark, n=12)
    resized = resize_media(media, 32, 32)
    rows = resized.collect()
    assert len(rows) == 12
    assert all(r["width"] == 32 and r["height"] == 32 for r in rows)
    assert all(len(r["content"]) == (32 * 32) // 256 for r in rows)

    frames = sample_frames(media, every_ms=1000)
    got = frames.collect()
    # only video rows fan out, one frame per full second of duration
    videos = [r for r in media.collect() if r["media_type"] == "video"]
    expect = sum(int((r["meta"]["duration_ms"] or 0) // 1000) for r in videos)
    assert len(got) == expect
    assert {r["media_id"] for r in got} <= {r["media_id"] for r in videos}
    # deterministic fake frames: same input → same bytes
    again = sample_frames(media, every_ms=1000).collect()
    assert sorted((r["media_id"], r["frame_idx"], bytes(r["frame"])) for r in got) == \
        sorted((r["media_id"], r["frame_idx"], bytes(r["frame"])) for r in again)


def test_connected_components(spark):
    from genie_spark.analytics.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20)], ["a", "b"]
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    # long chain converges to the single min label
    chain = spark.createDataFrame([(i, i + 1) for i in range(12)], ["a", "b"])
    labels = {r["cluster_id"] for r in connected_components(chain).collect()}
    assert labels == {0}


def test_connected_components_materializes_pairs_once(spark):
    """r15 optimization pin: the edge table is eagerly checkpointed
    BEFORE the propagation loop AND both edge directions come from one
    per-row explode, so the (possibly expensive) upstream pair pipeline
    is evaluated exactly ONCE — an accumulator counting pair-pipeline
    row evaluations must read exactly n_pairs.  History: the old lazy
    ``.cache()`` let round 0's job reference the un-materialized edges
    subtree three times (racy cache population → up to 3 evaluations,
    measured 3x on dedup_embedding_drop's IVF+verify subtree); the
    first fix's fwd ∪ rev union still evaluated the pipeline twice
    inside the checkpoint job (measured 86 s vs 12 s median on the
    same subtree at sf0.1)."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.dedup import connected_components

    acc = spark.sparkContext.accumulator(0)

    def count_rows(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    base = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["a", "b"])
    pairs = base.mapInPandas(count_rows, "a long, b long")
    got = {
        r["node"]: r["cluster_id"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert acc.value == 3, (
        f"pair pipeline evaluated {acc.value / 3:.1f}x (expected exactly "
        "1x: both edge directions explode from ONE evaluation inside "
        "ONE eager materialization)"
    )


def test_connected_components_doubling_and_nonconvergence(spark):
    """Pointer-jumping converges a diameter-60 chain in O(log d) rounds
    (plain one-hop propagation would need 60); exhausting max_iter
    raises instead of silently returning a partial clustering."""
    import pytest

    from genie_spark.analytics.dedup import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(60)], ["a", "b"])
    labels = {
        r["cluster_id"] for r in connected_components(chain, max_iter=10).collect()
    }
    assert labels == {0}

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_connected_components_fused_round_reach(spark):
    """Each round fuses TWO propagate+jump steps, so a diameter-60
    chain converges within 4 rounds (8 steps; the unfused form's
    2**4 = 16-hop reach would raise here) while 3 rounds (6 steps)
    still exhaust the cap and raise."""
    import pytest

    from genie_spark.analytics.dedup import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(60)], ["a", "b"])
    labels = {
        r["cluster_id"] for r in connected_components(chain, max_iter=4).collect()
    }
    assert labels == {0}

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)


def _ppm(w, h, rgb):
    return (
        b"P6\n# test\n" + f"{w} {h}\n255\n".encode()
        + bytes(rgb) * (w * h)
    )


def _wav(n_samples, value=1000, channels=1):
    import struct

    data = struct.pack(f"<{n_samples * channels}h", *([value] * n_samples * channels))
    fmt = struct.pack("<HHIIHH", 1, channels, 8000, 8000 * 2 * channels, 2 * channels, 16)
    riff_size = 4 + (8 + len(fmt)) + (8 + len(data))
    return (
        b"RIFF" + struct.pack("<I", riff_size) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_stdlib_decoder_real_formats(spark):
    """StdlibDecoder genuinely decodes PPM/PGM + PCM WAV: dimensions and
    channel statistics come from the pixel/sample content, not a hash."""
    from genie_spark.analytics.multimodal import StdlibDecoder

    dec = StdlibDecoder()
    kind, img = dec.decode(_ppm(4, 3, (255, 0, 128)))
    assert kind == "image" and img.shape == (3, 4, 3)
    assert img[0, 0, 0] == 255 and img[0, 0, 1] == 0 and img[0, 0, 2] == 128

    kind, aud = dec.decode(_wav(16, value=1000))
    assert kind == "audio" and aud.shape == (16, 1)
    assert int(aud[0, 0]) == 1000

    # features are content-derived: height, width, channels, means...
    f = dec.features(_ppm(4, 3, (255, 0, 128)))
    assert f[:3] == [3.0, 4.0, 3.0]
    assert abs(f[3] - 1.0) < 1e-6 and abs(f[4]) < 1e-6

    # compressed formats stay behind the stub boundary
    import pytest as pt

    with pt.raises(NotImplementedError):
        dec.decode(b"\x89PNG....")
    # ...but features() falls back to the hash feature so mixed corpora flow
    assert len(dec.features(b"\x89PNG....")) == 8

    # real nearest-neighbor resize round-trips through the decoder
    small = dec.resize(_ppm(8, 8, (10, 20, 30)), 4, 2)
    kind2, img2 = dec.decode(small)
    assert img2.shape == (2, 4, 3)
    assert img2[0, 0, 0] == 10


def test_stdlib_decoder_in_spark_pipeline(spark):
    """The real decoder plugs into the same mapInPandas plumbing."""
    from genie_spark.analytics.multimodal import (
        MEDIA_SCHEMA,
        StdlibDecoder,
        extract_features,
        resize_media,
    )

    rows = [
        (1, "image", bytearray(_ppm(6, 4, (100, 150, 200))), (6, 4, None, "image/x-ppm")),
        (2, "audio", bytearray(_wav(32, value=2000)), (None, None, 4, "audio/wav")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    dec = StdlibDecoder()
    feats = {r["media_id"]: r["feature"] for r in
             extract_features(media, decode_fn=dec.features).collect()}
    assert feats[1][:3] == [4.0, 6.0, 3.0]          # h, w, channels
    assert feats[2][0] == 32.0 and feats[2][1] == 1.0  # samples, channels

    resized = resize_media(
        media.where("media_type = 'image'"), 3, 2, resize_fn=dec.resize
    ).collect()
    assert len(resized) == 1
    kind, arr = dec.decode(bytes(resized[0]["content"]))
    assert kind == "image" and arr.shape == (2, 3, 3)


def test_pillow_decoder_degrades_to_stdlib(spark):
    """PillowDecoder is always safe to construct: stdlib formats decode
    identically, and when Pillow/soundfile are absent compressed bytes
    raise the same NotImplementedError (features fall back to hash)."""
    import pytest as pt

    from genie_spark.analytics.multimodal import PillowDecoder, StdlibDecoder

    dec = PillowDecoder()
    kind, img = dec.decode(_ppm(4, 3, (255, 0, 128)))
    assert kind == "image" and img.shape == (3, 4, 3)
    kind, aud = dec.decode(_wav(16, value=1000))
    assert kind == "audio" and aud.shape == (16, 1)
    # stdlib resize path unchanged
    kind2, img2 = dec.decode(dec.resize(_ppm(8, 8, (10, 20, 30)), 4, 2))
    assert img2.shape == (2, 4, 3)

    if not PillowDecoder.pil_available() and not PillowDecoder.soundfile_available():
        with pt.raises(NotImplementedError):
            dec.decode(b"\xff\xd8\xff\xe0 not a real jpeg")
        fallback = StdlibDecoder().features(b"\xff\xd8\xff\xe0 not a real jpeg")
        assert dec.features(b"\xff\xd8\xff\xe0 not a real jpeg") == fallback
        # resize keeps the documented degrade contract too: compressed
        # formats raise NotImplementedError (not ImportError) when
        # Pillow is absent
        with pt.raises(NotImplementedError):
            dec.resize(b"\x89PNG fake png bytes", 4, 4)


def test_av_decoder_degrades_to_parents(spark):
    """AVDecoder is always safe to construct: stdlib formats decode
    identically through two inheritance layers, and with av absent
    compressed containers keep the documented NotImplementedError /
    hash-feature degrade contract."""
    import pytest as pt

    from genie_spark.analytics.multimodal import AVDecoder, StdlibDecoder

    dec = AVDecoder()
    kind, img = dec.decode(_ppm(4, 3, (255, 0, 128)))
    assert kind == "image" and img.shape == (3, 4, 3)
    kind, aud = dec.decode(_wav(16, value=1000))
    assert kind == "audio" and aud.shape == (16, 1)
    # image/audio features delegate to the shared summary shapes
    assert dec.features(_ppm(4, 3, (255, 0, 128))) == StdlibDecoder().features(
        _ppm(4, 3, (255, 0, 128))
    )
    if not (
        AVDecoder.av_available()
        or AVDecoder.pil_available()
        or AVDecoder.soundfile_available()
    ):
        mp4ish = b"\x00\x00\x00\x18ftypmp42 not a real mp4"
        with pt.raises(NotImplementedError):
            dec.decode(mp4ish)
        assert dec.features(mp4ish) == StdlibDecoder().features(mp4ish)


@pytest.mark.skipif(
    not __import__(
        "genie_spark.analytics.multimodal", fromlist=["AVDecoder"]
    ).AVDecoder.av_available(),
    reason="PyAV not installed",
)
def test_av_decoder_real_containers(spark):
    """With av present: MP4 decodes to a (n, h, w, 3) frame stack, MP3
    to (samples, channels) int16, features flow through mapInPandas
    over a compressed-media corpus, and frame_fn feeds sample_frames
    with stdlib-readable PPM frames."""
    import io

    import av
    import numpy as np

    from genie_spark.analytics.multimodal import (
        AVDecoder,
        StdlibDecoder,
        extract_features,
    )

    def _mp4(n_frames=12, w=32, h=24):
        buf = io.BytesIO()
        with av.open(buf, "w", format="mp4") as out:
            stream = out.add_stream("mpeg4", rate=10)
            stream.width, stream.height = w, h
            stream.pix_fmt = "yuv420p"
            for i in range(n_frames):
                arr = np.full((h, w, 3), (i * 20) % 255, dtype=np.uint8)
                frame = av.VideoFrame.from_ndarray(arr, format="rgb24")
                for packet in stream.encode(frame):
                    out.mux(packet)
            for packet in stream.encode():
                out.mux(packet)
        return buf.getvalue()

    def _mp3(n=4096, rate=8000):
        buf = io.BytesIO()
        with av.open(buf, "w", format="mp3") as out:
            stream = out.add_stream("mp3", rate=rate)
            t = np.arange(n, dtype=np.float32)
            wave = (0.2 * np.sin(2 * np.pi * 440 * t / rate)).astype(np.float32)
            frame = av.AudioFrame.from_ndarray(
                wave[None, :], format="fltp", layout="mono"
            )
            frame.sample_rate = rate
            for packet in stream.encode(frame):
                out.mux(packet)
            for packet in stream.encode():
                out.mux(packet)
        return buf.getvalue()

    dec = AVDecoder(max_frames=4)
    kind, frames = dec.decode(_mp4())
    assert kind == "video" and frames.shape[0] == 4 and frames.shape[3] == 3
    feats = dec.features(_mp4())
    assert feats[0] == 4.0 and feats[7] == 3.0

    kind, audio = dec.decode(_mp3())
    assert kind == "audio" and audio.dtype.name == "int16"
    assert audio.ndim == 2 and audio.shape[1] == 1

    # sampled frame re-enters the stdlib decoder as PPM
    ppm = dec.frame_fn(every_ms=100)(_mp4(), 1)
    kind, arr = StdlibDecoder().decode(ppm)
    assert kind == "image" and arr.shape[2] == 3

    media = spark.createDataFrame(
        [
            (1, "video", bytearray(_mp4()), (24, 32, 1200, "video/mp4")),
            (2, "audio", bytearray(_mp3()), (0, 0, 500, "audio/mp3")),
        ],
        "media_id long, media_type string, content binary, "
        "meta struct<height:int,width:int,duration_ms:int,mime:string>",
    )
    rows = {
        r["media_id"]: r
        for r in extract_features(media, AVDecoder(max_frames=4).features).collect()
    }
    assert rows[1]["feature"][7] == 3.0  # video kind marker
    assert rows[2]["feature"][7] == 2.0  # audio kind marker


@pytest.mark.skipif(not PillowDecoder.pil_available(), reason="Pillow not installed")
def test_pillow_decoder_real_compressed_images(spark):
    """With Pillow present, JPEG/PNG decode to real pixel arrays and the
    whole mapInPandas pipeline runs over a compressed-image corpus."""
    import io

    from PIL import Image

    from genie_spark.analytics.multimodal import (
        MEDIA_SCHEMA,
        PillowDecoder,
        extract_features,
    )

    def _png(w, h, rgb):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), rgb).save(buf, format="PNG")
        return buf.getvalue()

    def _jpeg(w, h, rgb):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), rgb).save(buf, format="JPEG", quality=95)
        return buf.getvalue()

    dec = PillowDecoder()
    kind, arr = dec.decode(_png(6, 4, (255, 0, 0)))
    assert kind == "image" and arr.shape == (4, 6, 3)
    assert arr[0, 0, 0] == 255 and arr[0, 0, 1] == 0

    kind, arr = dec.decode(_jpeg(8, 8, (128, 128, 128)))
    assert kind == "image" and arr.shape == (8, 8, 3)

    # PNG resize re-encodes as PNG and round-trips through decode
    resized = dec.resize(_png(8, 8, (0, 255, 0)), 4, 2)
    kind2, arr2 = dec.decode(resized)
    assert kind2 == "image" and arr2.shape == (2, 4, 3)

    # a recognized-but-truncated image degrades to the hash feature
    # instead of aborting the batch; resize of non-image bytes keeps
    # the parent's ValueError contract
    truncated = _jpeg(64, 64, (1, 2, 3))[:60]
    assert len(dec.features(truncated)) == 8
    with pytest.raises(ValueError):
        dec.resize(_wav(16), 4, 4)

    rows = [
        (1, "image", bytearray(_png(6, 4, (255, 0, 0))), (6, 4, None, "image/png")),
        (2, "image", bytearray(_jpeg(5, 5, (0, 0, 255))), (5, 5, None, "image/jpeg")),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r["feature"]
        for r in extract_features(media, decode_fn=dec.features).collect()
    }
    assert feats[1][:3] == [4.0, 6.0, 3.0]
    assert abs(feats[1][3] - 1.0) < 1e-6  # red channel mean
    assert feats[2][:3] == [5.0, 5.0, 3.0]


def test_ivf_cell_pairs_total_recall_vs_exact(spark):
    """The registered embedding-drop setting (C=32, P=10) must have
    total recall vs the exact O(n²) baseline on the real testdata:
    verify(candidates) == cosine_pairs, pair for pair."""
    from genie_spark.analytics.similarity import (
        cosine_pairs,
        cosine_verify_pairs,
        ivf_cell_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {(r["a"], r["b"]) for r in cosine_pairs(emb, threshold=0.35).collect()}
    cand = ivf_cell_pairs(emb, n_centroids=32, n_probe=10)
    got = {
        (r["a"], r["b"])
        for r in cosine_verify_pairs(emb, cand, threshold=0.35).collect()
    }
    assert got == exact
    assert len(exact) > 0  # the fixture actually exercises the path


# ---------------------------------------------------------------------------
# corpus pipeline stages (decontamination / sampling / packing) + text
# tf-idf / repetition
# ---------------------------------------------------------------------------


def test_token_ngrams_short_doc(spark):
    from genie_spark.analytics.corpus import token_ngrams

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d e"), (3, "   "), (4, "one")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["g"]
        for r in df.select("doc_id", token_ngrams("text", 4).alias("g")).collect()
    }
    assert out[1] == []          # 3 tokens < n=4 -> empty, not an error
    assert out[2] == ["a b c d", "b c d e"]
    assert out[3] == []          # whitespace-only
    assert out[4] == []


def test_decontaminate_ngram(spark):
    from genie_spark.analytics.corpus import decontaminate_ngram

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            # contains the benchmark 4-gram "alpha beta gamma delta"
            (1, "x y alpha beta gamma delta q r s t u v"),
            # no overlap
            (2, "one two three four five six seven eight"),
            # too short for any 4-gram: excluded from output entirely
            (3, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in decontaminate_ngram(
            corpus, bench, n=4, flag_threshold_bp=0
        ).collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1]["n_contaminated"] >= 1 and rows[1]["is_contaminated"]
    assert rows[2]["n_contaminated"] == 0 and not rows[2]["is_contaminated"]
    # threshold gating: a high bar un-flags the light contamination
    flagged = {
        r["doc_id"]: r["is_contaminated"]
        for r in decontaminate_ngram(
            corpus, bench, n=4, flag_threshold_bp=9_999
        ).collect()
    }
    assert not flagged[1]


def test_stratified_sample_deterministic_and_stratified(spark):
    from genie_spark.analytics.corpus import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(400)],
        ["doc_id", "lang"],
    )
    out = stratified_sample(df, "lang", {"en": 5_000}, default_bp=1_000)
    got = out.collect()
    # every kept row respects its stratum threshold
    for r in got:
        assert r["sample_bucket"] < (5_000 if r["lang"] == "en" else 1_000)
    # deterministic: same rows on re-run regardless of partitioning
    again = sorted(r["doc_id"] for r in stratified_sample(
        df.repartition(7), "lang", {"en": 5_000}, default_bp=1_000
    ).collect())
    assert again == sorted(r["doc_id"] for r in got)
    # rates land near the targets (md5 is uniform-ish)
    n_en = sum(1 for r in got if r["lang"] == "en")
    n_fr = sum(1 for r in got if r["lang"] == "fr")
    assert 60 <= n_en <= 140          # 200 * 50% +/- slack
    assert n_fr <= 60                 # 200 * 10% +/- slack


def test_pack_sequences_offsets_and_straddle(spark):
    from genie_spark.analytics.corpus import pack_sequences

    # 3 docs of 4 tokens each in one group, budget 6: doc1 starts at 0
    # (bin 0), doc2 at 4 and ends at 7 (straddles 0->1), doc3 at 8 (bin 1)
    df = spark.createDataFrame(
        [(1, "g", "a b c d"), (2, "g", "e f g h"), (3, "g", "i j k l")],
        ["doc_id", "source", "text"],
    )
    rows = {r["doc_id"]: r for r in pack_sequences(df, budget=6).collect()}
    assert rows[1]["start_offset"] == 0 and rows[1]["bin_id"] == 0
    assert not rows[1]["straddles"]
    assert rows[2]["start_offset"] == 4 and rows[2]["bin_id"] == 0
    assert rows[2]["straddles"]
    assert rows[3]["start_offset"] == 8 and rows[3]["bin_id"] == 1
    assert not rows[3]["straddles"]
    assert [rows[i]["pos_in_group"] for i in (1, 2, 3)] == [1, 2, 3]


def test_tfidf_topk_ranking(spark):
    from genie_spark.analytics.text import tfidf_topk

    df = spark.createDataFrame(
        [
            (1, "rare rare rare common"),
            (2, "common other words here"),
            (3, "common more words again"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_topk(df, k=2)
    top1 = {
        r["doc_id"]: r["term"] for r in out.collect() if r["rank"] == 1
    }
    # 'rare' (tf=3, df=1) dominates 'common' (tf=1, df=3) for doc 1
    assert top1[1] == "rare"
    # rank is dense per doc and capped at k
    per_doc = out.groupBy("doc_id").count().collect()
    assert all(r["count"] <= 2 for r in per_doc)


def test_repetition_stats_flags_loops(spark):
    from genie_spark.analytics.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam ham " * 30),                       # decoding loop
            (2, " ".join(f"w{i}" for i in range(60))),   # all distinct
            (3, "one"),                                  # < 2 tokens: zero grams
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[1]["flagged"] and rows[1]["dup5_frac"] > 0.9
    assert not rows[2]["flagged"] and rows[2]["dup5_frac"] == 0.0
    assert rows[3]["n_2grams"] == 0 and rows[3]["n_5grams"] == 0
    assert not rows[3]["flagged"]


def test_incremental_minhash_matches_batch(spark):
    """Ground truth: incremental dedup of batch2 against batch1's
    signature store must find exactly the full-corpus pairs that
    involve a batch2 doc — and the merged store must reproduce batch
    dedup for the next round."""
    from genie_spark.analytics.dedup import (
        incremental_minhash_pairs,
        minhash_docinfo,
        minhash_dedup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away today "
    alt = "completely different content about spark query engines and shuffles "
    corpus = spark.createDataFrame(
        [
            (1, base * 3),
            (2, base * 3),                       # dup of 1 (both batch1)
            (3, alt * 3),
            (10, base * 3 + " extra tail"),      # batch2, near-dup of 1/2
            (11, alt * 3),                       # batch2, dup of 3
            (12, "unrelated " + "fresh text " * 12),
        ],
        ["doc_id", "text"],
    )
    batch1 = corpus.where(F.col("doc_id") < 10)
    batch2 = corpus.where(F.col("doc_id") >= 10)

    full = {
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in minhash_dedup_pairs(corpus, threshold=0.5).collect()
    }
    store = minhash_docinfo(batch1)
    inc_pairs, new_info = incremental_minhash_pairs(store, batch2, threshold=0.5)
    inc = {
        (r["a"], r["b"], round(r["jaccard"], 9)) for r in inc_pairs.collect()
    }
    expected_inc = {p for p in full if p[0] >= 10 or p[1] >= 10}
    assert inc == expected_inc and len(inc) > 0
    # merged store == full-corpus docinfo (next round sees everything)
    merged = store.unionByName(new_info)
    assert sorted(r["doc_id"] for r in merged.select("doc_id").collect()) == [
        1, 2, 3, 10, 11, 12,
    ]


def test_incremental_minhash_plan_never_reshingle_store(spark, tmp_path):
    """The store side must be consumed as stored signatures only: the
    docinfo schema carries no text, and the candidate path is
    equi-joins (no cartesian, no nested-loop)."""
    from genie_spark.analytics.dedup import (
        incremental_minhash_pairs,
        minhash_docinfo,
    )

    docs = spark.createDataFrame(
        [(i, f"stored document number {i} with plenty of shared text tail") for i in range(20)],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "sigstore")
    minhash_docinfo(docs).write.parquet(path)
    store = spark.read.parquet(path)
    batch = spark.createDataFrame(
        [(100, "stored document number 3 with plenty of shared text tail")],
        ["doc_id", "text"],
    )
    pairs, _ = incremental_minhash_pairs(store, batch, threshold=0.3)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the store parquet scans read only signature columns — a `text`
    # column physically cannot be re-shingled (docinfo schema drops
    # it).  The batch side is a local relation, so every FileScan in
    # this plan IS a store scan (plan Location strings truncate at
    # spark.sql.maxMetadataStringLength, so match on structure, not
    # the tmp path).
    store_scans = [
        line for line in plan.splitlines() if "FileScan parquet [" in line
    ]
    assert store_scans, plan
    for line in store_scans:
        cols = line.split("FileScan parquet [", 1)[1].split("]", 1)[0]
        assert "text" not in cols, line
    assert pairs.count() >= 1  # the planted near-dup is found


# ---------------------------------------------------------------------------
# round-5 corpus/clustering ops
# ---------------------------------------------------------------------------

def test_kmeans_separates_blobs(spark):
    """Two well-separated blobs must land in two clusters with the
    deterministic init, and the run must be partition-invariant."""
    from genie_spark.analytics.clustering import kmeans_assign

    rows = []
    for i in range(10):
        rows.append((i, [1.0 + i * 0.001, 1.0, 0.0]))        # blob A
        rows.append((100 + i, [-1.0 - i * 0.001, -1.0, 0.0]))  # blob B
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r["cluster_id"] for r in kmeans_assign(df, k=2, iters=3).collect()}
    a_clusters = {out[i] for i in range(10)}
    b_clusters = {out[100 + i] for i in range(10)}
    assert len(a_clusters) == 1 and len(b_clusters) == 1
    assert a_clusters != b_clusters
    # partition-invariance: repartitioned input, identical assignment
    out2 = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans_assign(df.repartition(7), k=2, iters=3).collect()
    }
    assert out2 == out


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """k larger than the number of distinct points: the never-chosen
    centroid keeps its previous position instead of crashing or
    producing nulls."""
    from genie_spark.analytics.clustering import kmeans_assign

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [5.0, 5.0])],
        ["vec_id", "embedding"],
    )
    out = kmeans_assign(df, k=3, iters=3).collect()
    assert len(out) == 4
    assert all(r["cluster_id"] is not None and r["d2"] is not None for r in out)
    # the two duplicate pairs cluster together
    by_id = {r["vec_id"]: r["cluster_id"] for r in out}
    assert by_id[0] == by_id[1] and by_id[2] == by_id[3]


def test_kmeans_arrow_omits_nan_rows_without_poisoning(spark):
    """A vector carrying a null ELEMENT (surfaces as NaN through
    Arrow) must be OMITTED by the Arrow scans — not cast to INT64_MIN
    garbage that poisons centroid sums and reassigns clean rows
    (ADVICE r6).  Clean rows' assignments must be identical with and
    without the degenerate row present."""
    from genie_spark.analytics.clustering import kmeans_assign

    rows = []
    for i in range(8):
        rows.append((i, [1.0 + i * 0.01, 1.0, 0.0]))
        rows.append((100 + i, [-1.0 - i * 0.01, -1.0, 0.0]))
    clean = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # a null ELEMENT survives quantized() as a NULL in the array<long>
    # and surfaces as float NaN through Arrow (a whole-vector NaN is
    # different: quantized() maps it to 0, a legitimate finite value)
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(998, [2.0, None, 0.0]), (999, [None, -1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
    )
    base = {
        (r["vec_id"], r["cluster_id"], r["d2"])
        for r in kmeans_assign(clean, k=2, iters=2).collect()
    }
    got = {
        (r["vec_id"], r["cluster_id"], r["d2"])
        for r in kmeans_assign(dirty, k=2, iters=2).collect()
    }
    assert got == base  # degenerate rows omitted, clean rows untouched


def test_ivf_probe_rule_matches_sequential_model_with_ties(spark):
    """ivf_cell_pairs and ivf_topk equal a sequential Python model of
    the probe rule over a corpus with planted cosine ties (duplicates
    and scaled copies score cosine 1.0 against several centroids):
    centroids are the n smallest (md5(id), id) vectors, each vector
    probes its cells ordered by (cosine desc, cid asc), the corpus side
    keeps its first cell, and top-k ranks by (cosine desc, neighbor
    asc) among candidates sharing a probed cell."""
    import hashlib
    import math

    from genie_spark.analytics.similarity import (
        _centroid_rows,
        _ivf_probes_arrow,
        ivf_cell_pairs,
        ivf_topk,
    )

    rows = []
    for i in range(12):
        base = [float(i % 4 == 0), float(i % 4 == 1),
                float(i % 4 == 2), float(i % 4 == 3)]
        rows.append((i, base))
        rows.append((100 + i, [2.0 * x for x in base]))   # cosine-tied copy
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    n_centroids, n_probe, k = 6, 3, 4

    q = {i: [int(math.floor(x * 1000.0 + 0.5)) for x in v] for i, v in rows}

    def dot(a, b):
        return sum(x * y for x, y in zip(a, b))

    def cosine(a, b):
        den = math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))
        return dot(a, b) / den if den > 0 else None

    cents = sorted(
        q, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:n_centroids]

    def probes(i, n):
        scored = [(cosine(q[i], q[c]), c) for c in cents]
        # a null cosine (zero norm) loses to every real score
        scored.sort(key=lambda t: (t[0] is None, -(t[0] or 0.0), t[1]))
        return [c for _, c in scored[:n]]

    cells = {i: probes(i, n_probe) for i in q}
    home = {i: probes(i, 1)[0] for i in q}
    # the probe rule itself: cell ids expose the tie-break that the
    # pair and top-k outputs below can mask
    cent_rows = _centroid_rows(df, "vec_id", "embedding", n_centroids)
    for n, want in ((n_probe, cells), (1, {i: [c] for i, c in home.items()})):
        got: dict[int, set] = {}
        for r in _ivf_probes_arrow(
            df, "vec_id", "embedding", cent_rows, n
        ).collect():
            got.setdefault(r["vid"], set()).add(r["cell"])
        assert got == {i: set(c) for i, c in want.items()}, n

    want_pairs = sorted(
        (a, b) for a in q for b in q
        if a < b and set(cells[a]) & set(cells[b])
    )
    got_pairs = sorted(
        tuple(r)
        for r in ivf_cell_pairs(
            df, n_centroids=n_centroids, n_probe=n_probe
        ).collect()
    )
    assert got_pairs == want_pairs

    want_topk = []
    for qi in q:
        cand = sorted(
            (-cosine(q[qi], q[n]), n)
            for n in q
            if n != qi and home[n] in cells[qi]
        )
        want_topk += [
            (qi, n, r, -c) for r, (c, n) in enumerate(cand[:k], start=1)
        ]
    got_topk = sorted(
        tuple(r)
        for r in ivf_topk(
            df, n_centroids=n_centroids, n_probe=n_probe, k=k
        ).collect()
    )
    assert got_topk == sorted(want_topk)


def test_passage_dedup_delimiter_mode(spark):
    """First corpus-wide occurrence of each paragraph survives; later
    repeats are dropped and documents reassemble in original order."""
    from genie_spark.analytics.corpus import passage_dedup

    df = spark.createDataFrame(
        [
            (1, "alpha beta\n\nshared boilerplate\n\ngamma"),
            (2, "shared boilerplate\n\ndelta epsilon"),
            (3, "shared boilerplate"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in passage_dedup(df, delimiter="\n\n").collect()}
    assert out[1]["n_passages"] == 3 and out[1]["n_kept"] == 3
    assert out[1]["cleaned_text"] == "alpha beta\n\nshared boilerplate\n\ngamma"
    assert out[2]["n_kept"] == 1 and out[2]["cleaned_text"] == "delta epsilon"
    assert out[3]["n_kept"] == 0 and out[3]["cleaned_text"] == ""


def test_passage_dedup_token_windows(spark):
    """Token-window mode: repeated 2-token chunks dedup across docs;
    within-doc repeats also collapse to the first occurrence."""
    from genie_spark.analytics.corpus import passage_dedup

    df = spark.createDataFrame(
        [(1, "a b c d a b"), (2, "c d x y")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in passage_dedup(df, n_tokens=2).collect()}
    # doc1 chunks: [a b][c d][a b] -> keeps first two, drops repeat
    assert out[1]["n_passages"] == 3 and out[1]["n_kept"] == 2
    assert out[1]["cleaned_text"] == "a b c d"
    # doc2 chunks: [c d][x y] -> 'c d' already seen in doc1
    assert out[2]["n_kept"] == 1 and out[2]["cleaned_text"] == "x y"


def test_train_split_shuffle_deterministic(spark):
    from genie_spark.analytics.corpus import train_split_shuffle

    df = spark.createDataFrame([(i,) for i in range(2000)], ["doc_id"])
    out = train_split_shuffle(df, n_shards=4).collect()
    assert len(out) == 2000
    by_split = {}
    for r in out:
        by_split.setdefault(r["split"], []).append(r)
    # ~90/5/5 within hash tolerance
    assert 0.85 < len(by_split["train"]) / 2000 < 0.95
    assert 0.02 < len(by_split["val"]) / 2000 < 0.08
    assert 0.02 < len(by_split["test"]) / 2000 < 0.08
    # ranks are a 1..n permutation within each (split, shard)
    for split, rows in by_split.items():
        shards = {}
        for r in rows:
            shards.setdefault(r["shard"], []).append(r["shuffle_rank"])
        for ranks in shards.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # growing the corpus keeps prior split assignments (no leakage)
    prev = {r["doc_id"]: r["split"] for r in out}
    grown = train_split_shuffle(
        spark.createDataFrame([(i,) for i in range(3000)], ["doc_id"]), n_shards=4
    ).collect()
    for r in grown:
        if r["doc_id"] < 2000:
            assert prev[r["doc_id"]] == r["split"]


def test_quality_survivor_drop_list(spark):
    """Highest-score member of each component survives (tie -> lowest
    id); unscored members never beat scored ones."""
    from genie_spark.analytics.dedup import quality_survivor_drop_list

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["a", "b"]
    )
    scores = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (11, 1)], ["doc_id", "score"]
    )  # comp {1,2,3}: 2 and 3 tie at 9 -> 2 wins; comp {10,11}: 10 unscored -> 11 wins
    out = {r["drop_id"]: r for r in quality_survivor_drop_list(pairs, scores).collect()}
    assert set(out) == {1, 3, 10}
    assert out[1]["survivor_id"] == 2 and out[3]["survivor_id"] == 2
    assert out[10]["survivor_id"] == 11


def test_cluster_balanced_sample_bounds(spark):
    """Over-represented cells are downsampled toward the target while
    small cells survive intact; the keep decision is id-deterministic."""
    from genie_spark.analytics.clustering import cluster_balanced_sample

    rows = []
    for i in range(400):                      # fat cluster at (1, 1)
        rows.append((i, [1.0 + (i % 7) * 0.001, 1.0]))
    for i in range(10):                       # thin cluster at (-1, -1)
        rows.append((1000 + i, [-1.0 - (i % 3) * 0.001, -1.0]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = cluster_balanced_sample(df, k=2, iters=3, target_per_cluster=50).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    thin = [rs for rs in by_cluster.values() if any(r["vec_id"] >= 1000 for r in rs)][0]
    fat = [rs for rs in by_cluster.values() if any(r["vec_id"] < 1000 for r in rs)][0]
    assert len(thin) == 10                     # keep_bp = 10000, all kept
    assert all(r["keep_bp"] == 10000 for r in thin)
    # fat cluster: keep_bp = 50*10000//400 = 1250 -> ~50 of 400 kept
    assert all(r["keep_bp"] == 1250 for r in fat)
    assert 20 <= len(fat) <= 90
    # determinism across partitionings
    out2 = cluster_balanced_sample(
        df.repartition(5), k=2, iters=3, target_per_cluster=50
    ).collect()
    assert {r["vec_id"] for r in out2} == {r["vec_id"] for r in out}


def test_write_training_shards_layout(spark, tmp_path):
    """Shards land as split=/shard= partition dirs with rows in
    shuffle order inside each file."""
    import glob
    import os

    from genie_spark.analytics.corpus import write_training_shards

    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(500)], ["doc_id", "text"]
    )
    out = str(tmp_path / "shards")
    write_training_shards(df, out, n_shards=4)
    train_dirs = glob.glob(os.path.join(out, "split=train", "shard=*"))
    assert len(train_dirs) == 4
    total = 0
    for d in glob.glob(os.path.join(out, "split=*", "shard=*")):
        rows = spark.read.parquet(d).collect()
        total += len(rows)
        ranks = [r["shuffle_rank"] for r in rows]
        assert ranks == sorted(ranks)          # file order IS epoch order
        assert all(r["text"].startswith("text ") for r in rows)  # payload travels
    assert total == 500


def test_lm_surprisal_flags_rare_token_docs(spark):
    """A doc of corpus-rare tokens scores more bits/token than one of
    corpus-common tokens; integer bit math matches a Python model."""
    from genie_spark.analytics.text import lm_surprisal

    df = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "common common common common"),
            (3, "common common common common"),
            (4, "rare1 rare2 rare3 rare4"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in lm_surprisal(df, outlier_centibits=300).collect()}
    # model: T=16 tokens -> tbits=4; c(common)=12 -> 3 bits; c(rareX)=1 -> 0 bits
    # common docs: bits/token = 4-3 = 1; rare doc: 4-0 = 4
    assert out[1]["total_bits"] == 4 and out[1]["bpt_centibits"] == 100
    assert out[4]["total_bits"] == 16 and out[4]["bpt_centibits"] == 400
    assert out[4]["is_outlier"] and not out[1]["is_outlier"]


def test_semantic_dedup_matches_within_cluster_model(spark):
    """SemDeDup drop list == the model built from kmeans_assign +
    exact cosine_pairs restricted to same-cluster pairs, and near-dup
    twins inside a blob are dropped (keep-lowest-id)."""
    from genie_spark.analytics.clustering import kmeans_assign, semantic_dedup

    rows = []
    for i in range(6):
        rows.append((i, [1.0, 1.0 + i * 0.001, 0.0]))       # blob A: near-dups
        rows.append((100 + i, [-1.0, -1.0 - i * 0.3, 3.0]))  # blob B: spread out
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, k=2, iters=2, threshold=0.999, candidates="exact"
        ).collect()
    }

    # model: same-cluster exact pairs above threshold, drop the higher id
    asg = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans_assign(df, k=2, iters=2).collect()
    }
    pairs = [
        (r["a"], r["b"], r["cosine"])
        for r in cosine_pairs(df, threshold=0.999).collect()
        if asg[r["a"]] == asg[r["b"]]
    ]
    expected = {}
    for a, b, cos in pairs:
        w, m = expected.get(b, (b, 0.0))
        expected[b] = (min(w, a), max(m, cos))
    assert set(out) == set(expected)
    for b, (witness, max_cos) in expected.items():
        assert out[b]["kept_witness"] == witness
        assert out[b]["max_cosine"] == max_cos
    # the tight blob collapses to its lowest id; ids 1..5 are dropped
    assert {1, 2, 3, 4, 5} <= set(out)
    assert all(out[i]["kept_witness"] == 0 for i in range(1, 6))
    # the spread blob survives (cosine between far members < 0.999)
    assert 100 in asg and 100 not in out

    # empty corpus flows through
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert semantic_dedup(empty, k=2, iters=1).count() == 0


def _sign_bucket(vec, n_planes, seed0):
    """Pure-Python sign-LSH bucket of a double-valued vector: bit p is
    set when the quantized vector's integer projection onto the md5
    plane of seed ``seed0 + p`` is positive (``sign_signatures``)."""
    import math

    from genie_spark.analytics.similarity import _hyperplane

    q = [math.floor(x * 1000.0 + 0.5) for x in vec]
    return sum(
        2**p
        for p in range(n_planes)
        if sum(a * b for a, b in zip(q, _hyperplane(len(vec), seed0 + p))) > 0
    )


def test_semantic_dedup_lsh_matches_banded_model(spark):
    """The default (scale) path == the model built from kmeans_assign
    + exact pairs restricted to SAME-cluster AND ≥1 shared banded
    sign-LSH bucket; true near-identical twins are still dropped
    (per-plane agreement ≈ 1 ⇒ banding recall ≈ 1); the guard that
    capped the exact path does NOT apply here."""
    from genie_spark.analytics.clustering import kmeans_assign, semantic_dedup

    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((i, base))
        if i % 4 == 0:  # plant a near-identical twin with a higher id
            rows.append((1000 + i, [x + 0.0004 for x in base]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            df, k=4, iters=2, threshold=0.999, n_planes=4, n_tables=4
        ).collect()
    }

    asg = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans_assign(df, k=4, iters=2).collect()
    }
    sigs = {i: [_sign_bucket(v, 4, 1 + t * 4) for t in range(4)] for i, v in rows}
    expected = {}
    for a, b, cos in (
        (r["a"], r["b"], r["cosine"])
        for r in cosine_pairs(df, threshold=0.999).collect()
    ):
        if asg[a] != asg[b]:
            continue
        if not any(x == y for x, y in zip(sigs[a], sigs[b])):
            continue
        w, m = expected.get(b, (b, 0.0))
        expected[b] = (min(w, a), max(m, cos))
    assert set(out) == set(expected)
    for b, (witness, max_cos) in expected.items():
        assert out[b]["kept_witness"] == witness
        assert out[b]["max_cosine"] == max_cos
    # every planted twin must actually be in the drop list: twins are
    # near-identical, so same cell + same buckets with near certainty
    planted = {1000 + i for i in range(0, 40, 4)}
    assert planted <= set(out), planted - set(out)


def test_new_ops_empty_and_degenerate_inputs(spark):
    """Empty corpora flow through as empty results (not VOID-literal
    crashes); k > n degrades to per-point clusters."""
    from genie_spark.analytics.clustering import (
        cluster_balanced_sample,
        kmeans_assign,
    )
    from genie_spark.analytics.corpus import passage_dedup, train_split_shuffle
    from genie_spark.analytics.text import lm_surprisal

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert passage_dedup(empty_docs, n_tokens=2).count() == 0
    assert train_split_shuffle(empty_docs).count() == 0
    assert lm_surprisal(empty_docs).count() == 0
    out = kmeans_assign(empty_emb, k=3, iters=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_id", "cluster_id", "d2"]
    assert cluster_balanced_sample(empty_emb, k=3, iters=1).count() == 0
    one = spark.createDataFrame([(1, [1.0, 2.0])], "vec_id long, embedding array<float>")
    rows = kmeans_assign(one, k=5, iters=2).collect()
    assert len(rows) == 1 and rows[0]["d2"] == 0


def test_chunk_documents_windows_and_overlap(spark):
    """Offsets step by stride, each chunk re-reads window-stride tokens
    of context, the tail chunk is short, and empty docs vanish."""
    from genie_spark.analytics.corpus import chunk_documents

    toks = [f"t{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b"), (3, "   ")],
        ["doc_id", "text"],
    )
    out = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_start"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, window=4, stride=3).collect()
    )
    assert out == [
        (1, 0, 0, "t0 t1 t2 t3", 4),
        (1, 1, 3, "t3 t4 t5 t6", 4),   # t3 overlaps chunk 0
        (1, 2, 6, "t6 t7 t8 t9", 4),
        (1, 3, 9, "t9", 1),            # short tail
        (2, 0, 0, "a b", 2),
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, window=0, stride=3)


def test_scrub_pii_masks_and_counts(spark):
    """Each PII category masks with its typed placeholder and counts
    per stage on the progressively-scrubbed text (count-then-replace),
    so counts equal placeholders inserted; clean text passes through
    untouched."""
    from genie_spark.analytics.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "write to a.b+c@ex-ample.org or admin@x.co today"),
            (2, "server 10.0.0.1 and 192.168.255.3 up"),
            (3, "call 555-123-4567 or 555.987.6543 re card 4111111111111111"),
            (4, "no pii here, just words and 123 numbers"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert out[1]["scrubbed"] == "write to <EMAIL> or <EMAIL> today"
    assert out[1]["n_email"] == 2
    assert out[2]["scrubbed"] == "server <IP> and <IP> up"
    assert out[2]["n_ip"] == 2
    assert out[3]["scrubbed"] == "call <PHONE> or <PHONE> re card <NUM>"
    assert out[3]["n_phone"] == 2 and out[3]["n_longnum"] == 1
    assert out[4]["scrubbed"] == "no pii here, just words and 123 numbers"
    assert all(
        out[4][c] == 0 for c in ("n_email", "n_ip", "n_phone", "n_longnum")
    )

    # overlap: a card-length digit run inside an email's local part is
    # masked ONCE as <EMAIL> and must not also count as n_longnum —
    # Σ counts == placeholders actually inserted
    overlap = spark.createDataFrame(
        [(9, "mail 4111111111111111@bank.com and run 5500005555555559 now")],
        ["doc_id", "text"],
    )
    r = scrub_pii(overlap).collect()[0]
    assert r["scrubbed"] == "mail <EMAIL> and run <NUM> now"
    assert r["n_email"] == 1 and r["n_longnum"] == 1
    assert r["n_phone"] == 0 and r["n_ip"] == 0
    n_placeholders = sum(
        r["scrubbed"].count(p) for p in ("<EMAIL>", "<IP>", "<PHONE>", "<NUM>")
    )
    assert (
        r["n_email"] + r["n_ip"] + r["n_phone"] + r["n_longnum"]
        == n_placeholders
    )


def test_corpus_keep_list_attributes_reasons(spark):
    """Every drop carries the stage that caused it; a good English doc
    survives all four filters."""
    from genie_spark.analytics.corpus import corpus_keep_list

    # several varied English docs sharing a vocabulary: each is
    # non-repetitive (Gopher), long enough (quality), and its tokens
    # are corpus-common (LM surprisal) — the signals' thresholds are
    # tuned for real corpora, so the fixture must not be degenerate
    import random

    rng = random.Random(7)
    vocab = (
        "the project is moving forward and team happy with it because "
        "results of work are good on time people think that plan will "
        "deliver value for users in every part this year"
    ).split()
    def english(seed):
        r = random.Random(seed)
        return " ".join(r.choice(vocab) for _ in range(80))

    docs = spark.createDataFrame(
        [(i, english(i)) for i in range(1, 7)]
        + [
            (12, "el perro y la casa de que los se " * 8),  # wrong lang
            (13, "x"),                                      # fails quality
            (14, "spam spam spam spam spam spam spam " * 10),  # repetition
        ],
        ["doc_id", "text"],
    )
    # a ~900-token fixture corpus has high per-token surprisal by
    # construction; raise the outlier bar accordingly (the parameter
    # exists exactly because the cutoff is corpus-scale-dependent)
    out = {
        r["doc_id"]: r
        for r in corpus_keep_list(docs, surprisal_centibits=650).collect()
    }
    assert out[1]["keep"] is True
    assert out[12]["keep"] is False and out[12]["lang_ok"] is False
    assert out[13]["keep"] is False and out[13]["quality_ok"] is False
    assert out[14]["keep"] is False and out[14]["repetition_ok"] is False
    # reasons are evaluated per stage, not short-circuited
    assert out[12]["quality_ok"] in (True, False)
    assert set(out[1].asDict()) == {
        "doc_id", "quality_ok", "lang_ok", "repetition_ok", "surprisal_ok", "keep"
    }


def test_bloom_decontaminate_no_false_negatives(spark):
    """The Bloom path can only OVER-flag: for every document,
    n_flagged >= the exact decontaminate_ngram's n_contaminated, with
    equality (and zero FPs) when m_bits is large; a tiny m_bits drives
    the FP regime (flagged > exact) but never misses real overlap.
    The artifact is bounded by m_bits and mergeable by union."""
    from genie_spark.analytics.corpus import (
        bloom_build,
        bloom_decontaminate,
        decontaminate_ngram,
    )

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = []
    for i in range(12):
        # rotate so consecutive docs share long runs with the benchmark
        rot = words[i % 3 :] + words[: i % 3]
        docs.append((i, " ".join(rot * 2)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    bench = df.where(F.col("doc_id") % 4 == 0)
    corpus = df.where(F.col("doc_id") % 4 != 0)

    exact = {
        r["doc_id"]: r["n_contaminated"]
        for r in decontaminate_ngram(corpus, bench, n=8).collect()
    }

    # large m: no false positives — bloom == exact
    big = bloom_build(bench, n=8, m_bits=1 << 20, k_hashes=3)
    out_big = {
        r["doc_id"]: r
        for r in bloom_decontaminate(
            corpus, big, n=8, m_bits=1 << 20, k_hashes=3
        ).collect()
    }
    assert {k: v["n_flagged"] for k, v in out_big.items()} == exact

    # tiny m: every bit set -> everything flagged, still superset
    tiny = bloom_build(bench, n=8, m_bits=4, k_hashes=2)
    out_tiny = {
        r["doc_id"]: r["n_flagged"]
        for r in bloom_decontaminate(
            corpus, tiny, n=8, m_bits=4, k_hashes=2
        ).collect()
    }
    for d, n_exact in exact.items():
        assert out_tiny[d] >= n_exact

    # bounded: |artifact| <= m_bits; mergeable: shard-union == full build
    assert big.count() <= 1 << 20
    assert tiny.count() <= 4
    s1 = bloom_build(bench.where(F.col("doc_id") == 0), n=8)
    s2 = bloom_build(bench.where(F.col("doc_id") != 0), n=8)
    merged = s1.unionByName(s2).distinct()
    full = bloom_build(bench, n=8)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_bloom_size_hits_target_fp_rate(spark):
    """bloom_size's (m, k) must land the MEASURED false-positive rate
    within ±2× of the target on a synthetic benchmark (VERDICT r6
    item 8): build a filter over N benchmark n-grams, probe with
    disjoint clean n-grams, and compare the flagged fraction."""
    from genie_spark.analytics.corpus import (
        bloom_build,
        bloom_decontaminate,
        bloom_fp_rate,
        bloom_size,
    )

    n_bench_docs, grams_per_doc, target = 40, 49, 0.05
    # each doc: 50 distinct tokens → 49 distinct 2-grams, all unique
    bench = spark.createDataFrame(
        [
            (i, " ".join(f"bench{i}w{j}" for j in range(50)))
            for i in range(n_bench_docs)
        ],
        "doc_id long, text string",
    )
    n_grams = n_bench_docs * grams_per_doc
    m, k = bloom_size(n_grams, target)
    assert 1 <= k <= 4
    assert bloom_fp_rate(m, k, n_grams) <= target * 1.05
    pos = bloom_build(bench, n=2, m_bits=m, k_hashes=k)
    assert pos.count() <= m

    corpus = spark.createDataFrame(
        [
            (1000 + i, " ".join(f"clean{i}w{j}" for j in range(50)))
            for i in range(80)
        ],
        "doc_id long, text string",
    )
    rep = bloom_decontaminate(
        corpus, pos, n=2, m_bits=m, k_hashes=k
    ).collect()
    flagged = sum(r["n_flagged"] for r in rep)
    total = sum(r["n_ngrams"] for r in rep)
    measured = flagged / total
    assert measured < 2 * target, (measured, target)
    # sanity on the other side: the filter isn't vacuously empty-
    # loaded (a too-large m would pass the upper bound trivially);
    # with ~4k probes, an honestly-sized filter flags SOMETHING
    assert flagged > 0, "sized filter flagged nothing — m oversized?"


def test_sign_signatures_guard_and_null_tolerance(spark):
    """A dim that disagrees with the data raises up front (every row
    would sign to bucket 0 — an unguarded quadratic self-join);
    null / NaN-free parity: a null vector signs to bucket 0 in every
    table, and the Arrow k-means engine omits null rows rather than
    crashing the scan."""
    import pytest as pt

    from genie_spark.analytics.clustering import kmeans_assign
    from genie_spark.analytics.similarity import sign_signatures

    bad_dim = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    with pt.raises(ValueError, match="dim=64"):
        sign_signatures(bad_dim, "vec_id", "embedding", 64, 4, 2)

    rows = [(i, [float(i + j) for j in range(8)]) for i in range(6)]
    df = spark.createDataFrame(
        rows + [(99, None)], "vec_id long, embedding array<float>"
    )
    sigs = {
        r["vec_id"]: (r["b0"], r["b1"])
        for r in sign_signatures(df, "vec_id", "embedding", 8, 4, 2).collect()
    }
    assert sigs[99] == (0, 0)  # null vector → bucket 0, every table
    out = kmeans_assign(df, k=2, iters=1)
    ids = {r["vec_id"] for r in out.collect()}
    assert ids == {0, 1, 2, 3, 4, 5}  # null row omitted, scan survives


def test_semantic_dedup_greedy_witness_always_kept(spark):
    """resolve='greedy' (ADVICE r6 #1 / VERDICT r7 item 4): every
    dropped row's kept_witness must itself survive — unlike the
    default mode, where a chain's witness can appear in the drop list.
    Chain corpus: 0~1~2~3 with non-adjacent cosines below threshold."""
    from genie_spark.analytics.clustering import semantic_dedup

    # near-orthogonal-ish chain: consecutive vectors are near-dups,
    # distant ones are not (rotate a base vector in small steps)
    import math

    rows = []
    for i in range(4):
        ang = i * 0.5  # cos(0.5)≈0.878 adjacent, cos(1.0)≈0.540 skip
        rows.append((i, [math.cos(ang), math.sin(ang), 0.0, 0.0]))
    rows.append((10, [0.0, 0.0, 1.0, 0.0]))  # isolated
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kwargs = dict(k=1, iters=1, threshold=0.8, candidates="exact")
    default = semantic_dedup(df, resolve="any", **kwargs).collect()
    greedy = semantic_dedup(df, resolve="greedy", **kwargs).collect()

    # the chain is one component {0,1,2,3}: greedy keeps only 0
    g_dropped = {r["vec_id"] for r in greedy}
    g_witness = {r["kept_witness"] for r in greedy}
    assert g_dropped == {1, 2, 3}
    assert g_witness == {0}
    assert not (g_witness & g_dropped)  # witness never in drop list
    # default mode: 3's witness is 2 — itself dropped (the documented
    # chain caveat the greedy mode exists to remove)
    d = {r["vec_id"]: r["kept_witness"] for r in default}
    assert d[3] == 2 and 2 in d
    # greedy max_cosine is the row's own best verified pair
    g = {r["vec_id"]: r["max_cosine"] for r in greedy}
    assert g[1] == pytest.approx(math.cos(0.5), abs=1e-3)


def test_banded_plane_counts_smooth_sizing():
    """Occupancy-targeted sizing: the per-table floor/ceil mix must
    keep EXPECTED candidate volume (∝ n²·Σ 2^−r_t) within a small
    constant of the fractional target n_tables·n·B/2 at every n — no
    12.5× tier-boundary jumps (VERDICT r6 item 3)."""
    import math

    from genie_spark.analytics.similarity import banded_plane_counts

    b, B = 4, 16
    # exact power-of-two n: uniform counts, zero fraction
    assert banded_plane_counts(B * 2**10, n_tables=b, target_occupancy=B) == [10] * b
    prev_vol = None
    for n in [10_000 * int(1.5**i) for i in range(18)]:  # 10k → ~15M
        counts = banded_plane_counts(n, n_tables=b, target_occupancy=B)
        assert len(counts) == b and max(counts) - min(counts) <= 1
        vol = n * n / 2.0 * sum(2.0 ** -r for r in counts)
        target = b * n * B / 2.0
        # within 2× of the linear target at EVERY n (the old uniform
        # ceil rule drifts to ~2^1 = 2× low right before a boundary
        # and jumps back; the mix keeps the ratio near 1)
        assert 0.5 < vol / target < 2.0, (n, counts, vol / target)
        if prev_vol is not None:
            # volume growth per 1.5× n step stays near-linear — never
            # the multi-× jump of a whole-power resize
            assert vol / prev_vol < 2.5, (n, counts)
        prev_vol = vol


def test_sign_signatures_per_table_counts_parity(spark):
    """A per-table counts list must be bit-identical to a pure-Python
    signer over each table's cumulative-offset seeds — the contract
    that lets occupancy-smoothed sizing reuse the same oracle
    construction."""
    from genie_spark.analytics.similarity import sign_signatures

    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    counts = [5, 4, 4]
    got = {
        r["vec_id"]: (r["b0"], r["b1"], r["b2"])
        for r in sign_signatures(
            df, "vec_id", "embedding", 8, counts, 3
        ).collect()
    }
    offsets = [0, 5, 9]
    expected = {
        i: tuple(_sign_bucket(v, counts[t], 1 + offsets[t]) for t in range(3))
        for i, v in rows
    }
    assert got == expected
    # distinct per-table widths actually produce distinct bucket spaces
    assert any(v[0] >= 16 for v in got.values()) or any(
        v[1] != v[2] for v in got.values()
    )


def test_ivf_arrow_omits_infinite_vectors(spark):
    """A vector carrying +/-Inf must be OMITTED by the Arrow IVF scan
    (isfinite screening, not just not-NaN) — an Inf element would
    cast to INT64_MIN garbage and poison its cell assignment
    (code-review r7)."""
    from genie_spark.analytics.similarity import ivf_topk, sign_signatures

    rows = [(i, [float(i % 3 == j) for j in range(3)]) for i in range(9)]
    clean = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(99, [float("inf"), 0.0, 0.0]), (98, [0.0, float("-inf"), 1.0])],
            "vec_id long, embedding array<double>",
        )
    )
    base = sorted(
        tuple(r)
        for r in ivf_topk(clean, n_centroids=4, n_probe=2, k=3)
        .where("query_id < 90 and neighbor_id < 90")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in ivf_topk(dirty, n_centroids=4, n_probe=2, k=3)
        .where("query_id < 90 and neighbor_id < 90")
        .collect()
    )
    assert got == base
    # signature scan: the Inf row signs to bucket 0 in every table
    sigs = {
        r["vec_id"]: (r["b0"], r["b1"])
        for r in sign_signatures(dirty, "vec_id", "embedding", 3, 4, 2).collect()
    }
    assert sigs[99] == (0, 0)


def test_kmeans_md5_seeding_beats_first_k_on_sorted_corpus(spark):
    """On an id-SORTED clustered corpus (ingest order correlates with
    content) the k lowest ids all sit in the first blob, so lowest-id
    seeding ends unbalanced after 2 iterations (40/20/40/60 members
    here).  The (md5(id), id) seeding is content-independent: with
    k=4 and iters=2 it must recover the four blobs exactly, 40 members
    each (VERDICT r7 item 5)."""
    from genie_spark.analytics.clustering import kmeans_assign

    rows = []
    for blob in range(4):
        cx = float(blob * 100)
        for i in range(40):
            rows.append((blob * 40 + i, [cx + (i % 7) * 0.01, cx - (i % 5) * 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    members: dict[int, set] = {}
    for r in kmeans_assign(df, k=4, iters=2).collect():
        members.setdefault(r["cluster_id"], set()).add(r["vec_id"])
    assert sorted(len(m) for m in members.values()) == [40, 40, 40, 40]
    # every cluster is exactly one blob
    assert sorted({i // 40 for i in m} for m in members.values()) == [
        {0}, {1}, {2}, {3}
    ]


def test_measured_plane_counts_masking_mechanics(spark):
    """The closed-loop sizer's core mechanic: a table's bucket under r
    planes equals its R-plane bucket masked to the low r bits (same
    seed offset), so ONE probe scan prices every candidate r.  Pin the
    equality against sign_signatures run at r outright."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.similarity import sign_signatures

    df = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: (
                F.pmod(F.xxhash64(F.col("id"), i), F.lit(2000)).cast("double")
                / 1000.0
                - 1.0
            ).cast("float"),
        ).alias("embedding"),
    )
    R = 12
    wide = {
        r["vec_id"]: r["b0"]
        for r in sign_signatures(df, "vec_id", "embedding", 16, [R], 1).collect()
    }
    for r in (5, 9):
        narrow = {
            row["vec_id"]: row["b0"]
            for row in sign_signatures(
                df, "vec_id", "embedding", 16, [r], 1
            ).collect()
        }
        assert {k: v & ((1 << r) - 1) for k, v in wide.items()} == narrow


def test_measured_plane_counts_bounds_volume_on_skewed_corpus(spark):
    """On a corpus whose vectors all lean toward one shared direction
    (hot sign-buckets), the open-loop banded_plane_counts blows far
    past the linear b·n·B/2 candidate target while the closed-loop
    measured_plane_counts escalates its probe window until the
    REALIZED volume is inside slack × target (VERDICT r7 item 1)."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.similarity import (
        banded_plane_counts,
        lsh_banded_pairs,
        measured_plane_counts,
    )

    n, B, b = 8000, 16, 4
    shared = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.when(i < 32, F.lit(0.6)).otherwise(F.lit(-0.6)),
    )
    noise = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: (
            F.pmod(F.xxhash64(F.col("id"), i), F.lit(2000)).cast("double")
            / 1000.0
            - 1.0
        ),
    )
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("vec_id"),
            F.zip_with(shared, noise, lambda a, z: (a + z).cast("float")).alias(
                "embedding"
            ),
        )
        .cache()
    )
    target = b * n * B / 2
    open_counts = banded_plane_counts(n, n_tables=b, target_occupancy=B)
    closed = measured_plane_counts(df, n_rows=n, n_tables=b, target_occupancy=B)
    assert len(closed) == b and all(8 <= c <= 62 for c in closed)
    # the loop responded to the measured skew: every table sized up
    assert all(c > o for c, o in zip(closed, open_counts))
    vc = lsh_banded_pairs(df, n_planes=closed, n_tables=b).count()
    assert vc <= 1.5 * target
    df.unpersist()


def test_image_ahash_matches_model_and_omits_degenerates(spark):
    """image_ahash REALLY decodes PGM binaries (stdlib parser) and its
    64-bit average-hash matches a pure-Python pixel model, signed-64
    two's complement included; null / empty / undecodable rows are
    OMITTED, and a 16×16 image downsamples with the same
    nearest-neighbor rule as the decoder's resize."""
    from genie_spark.analytics.multimodal import image_ahash

    def pgm(pixels, w, h):
        return b"P5\n%d %d\n255\n" % (w, h) + bytes(pixels)

    def model(pixels):
        total = sum(pixels)
        a = sum(1 << j for j in range(63) if pixels[j] * 64 > total)
        if pixels[63] * 64 > total:
            a -= 1 << 63
        return a

    px1 = [(i * 37) % 256 for i in range(64)]
    px2 = [255] * 32 + [0] * 32          # bit 63 region dark, low bits set
    big = [(i * 7) % 256 for i in range(256)]   # 16x16
    rows = [
        (1, pgm(px1, 8, 8)),
        (2, pgm(px2, 8, 8)),
        (3, None),
        (4, b""),
        (5, b"\x89PNG garbage"),
        (6, pgm(big, 16, 16)),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r["media_id"]: r["ahash"] for r in image_ahash(df).collect()}
    assert set(got) == {1, 2, 6}
    assert got[1] == model(px1)
    assert got[2] == model(px2)
    # 16x16 → nearest-neighbor rows/cols arange(8)*16//8 = every 2nd
    ds = [big[(2 * r) * 16 + 2 * c] for r in range(8) for c in range(8)]
    assert got[6] == model(ds)


def test_phash_near_dup_via_shared_banding(spark):
    """A one-pixel nudge keeps the pair within the Hamming bound and
    the shared exact banded search (hamming_near_dup_pairs) finds it;
    an unrelated image pairs with neither."""
    from genie_spark.analytics.dedup import hamming_near_dup_pairs
    from genie_spark.analytics.multimodal import image_ahash

    base = [(i * 53) % 256 for i in range(64)]
    nudged = list(base)
    nudged[63] = (nudged[63] + 9) % 256
    other = [(i * 11 + 128) % 256 for i in range(64)]

    def pgm(p):
        return b"P5\n8 8\n255\n" + bytes(p)

    df = spark.createDataFrame(
        [(1, pgm(base)), (2, pgm(nudged)), (3, pgm(other))],
        "media_id long, content binary",
    )
    hashes = image_ahash(df)
    pairs = {
        (r["a"], r["b"]): r["hamming"]
        for r in hamming_near_dup_pairs(
            hashes, "media_id", "ahash", max_distance=3, n_bits=64
        ).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] <= 3


def test_audio_fingerprint_matches_model_and_omits_degenerates(spark):
    """audio_fingerprint REALLY parses WAV (stdlib RIFF/fmt/data) and
    its energy-window fingerprint matches a pure-Python model —
    including stereo mono-mix by integer channel sum; null / garbage /
    too-short rows are OMITTED, and a one-sample nudge stays within
    the Hamming bound through the shared banded search."""
    import struct

    from genie_spark.analytics.dedup import hamming_near_dup_pairs
    from genie_spark.analytics.multimodal import audio_fingerprint

    def wav(samples, channels=1):
        data = struct.pack(f"<{len(samples)}h", *samples)
        return (
            b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, channels, 8000,
                                    8000 * 2 * channels, 2 * channels, 16)
            + b"data" + struct.pack("<I", len(data)) + data
        )

    def model(mono, W=32):
        n = len(mono)
        es = [
            sum(v * v for v in mono[w * n // W:(w + 1) * n // W])
            for w in range(W)
        ]
        tot = sum(es)
        return sum(1 << w for w in range(W) if es[w] * W > tot)

    mono1 = [((i * 211) % 65536) - 32768 for i in range(64)]
    mono2 = list(mono1)
    mono2[63] += 17                      # one-sample nudge
    st = [((i * 97) % 65536) - 32768 for i in range(128)]  # 64 stereo frames
    st_mix = [st[2 * i] + st[2 * i + 1] for i in range(64)]
    rows = [
        (1, wav(mono1)),
        (2, wav(mono2)),
        (3, wav(st, channels=2)),
        (4, None),
        (5, b"not a wav"),
        (6, wav(mono1[:8])),             # fewer samples than windows
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {
        r["media_id"]: r["afp"]
        for r in audio_fingerprint(df, n_windows=32).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1] == model(mono1)
    assert got[2] == model(mono2)
    assert got[3] == model(st_mix)
    pairs = {
        (r["a"], r["b"]): r["hamming"]
        for r in hamming_near_dup_pairs(
            audio_fingerprint(df, n_windows=32), "media_id", "afp",
            max_distance=3, n_bits=32,
        ).collect()
    }
    # the nudged pair is found; other pairs may appear by chance (a
    # 32-bit energy fingerprint is a recall primitive, not an exact
    # content hash — real pipelines verify candidates downstream)
    assert (1, 2) in pairs and pairs[(1, 2)] <= 3


def test_media_hashers_omit_malformed_containers(spark):
    """The omit-degenerates contract must hold for ANY malformed
    container, not just unknown magics: truncated WAV fmt chunks
    (struct.error), zero-channel fmt (ZeroDivisionError), and 0×0 PGM
    rasters (IndexError) are all OMITTED, never task failures
    (code-review r8)."""
    import struct

    from genie_spark.analytics.multimodal import audio_fingerprint, image_ahash

    good_px = [(i * 37) % 256 for i in range(64)]
    good_img = b"P5\n8 8\n255\n" + bytes(good_px)
    imgs = spark.createDataFrame(
        [
            (1, good_img),
            (2, b"P5\n0 0\n255\n"),                  # 0x0 raster
            (3, b"P5\n8 8\n255"),                     # truncated header
        ],
        "media_id long, content binary",
    )
    assert {r["media_id"] for r in image_ahash(imgs).collect()} == {1}

    samples = [((i * 211) % 65536) - 32768 for i in range(64)]
    data = struct.pack("<64h", *samples)
    good_wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    zero_ch = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 0, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    trunc_fmt = (
        b"RIFF" + struct.pack("<I", 20) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + b"\x01\x00"
    )
    wavs = spark.createDataFrame(
        [(1, good_wav), (2, zero_ch), (3, trunc_fmt)],
        "media_id long, content binary",
    )
    assert {
        r["media_id"] for r in audio_fingerprint(wavs, n_windows=32).collect()
    } == {1}


# ---------------------------------------------------------------------------
# X42 priority sampling (Duffield-Lund-Thorup)
# ---------------------------------------------------------------------------


def _weighted_docs(spark, n=40, groups=("s0", "s1")):
    rows = [
        (g, i + 1000 * gi, (i % 7 + 1) * 10)
        for gi, g in enumerate(groups)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, ["source", "doc_id", "n_chars"])


def test_priority_sample_matches_python_model(spark):
    """Selection, tau and est_weight reproduce the literal w/u
    priority model with md5 uniforms."""
    import hashlib

    from genie_spark.analytics.corpus import priority_sample

    df = _weighted_docs(spark)
    k = 5
    got = {
        (r["source"], r["doc_id"]): (r["weight"], r["priority"], r["est_weight"])
        for r in priority_sample(df, k=k).collect()
    }

    def pri(doc_id, w):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16)
        return (w / (h + 1)) * 2.0**32

    want = {}
    for g in ("s0", "s1"):
        rows = [
            (gi, w, pri(gi, w))
            for (gg, gi, w) in [
                (r["source"], r["doc_id"], r["n_chars"])
                for r in df.collect()
            ]
            if gg == g
        ]
        rows.sort(key=lambda t: (-t[2], t[0]))
        tau = rows[k][2] if len(rows) > k else 0.0
        for gi, w, q in rows[:k]:
            want[(g, gi)] = (w, q, max(float(w), tau))
    assert got == want


def test_priority_sample_small_group_is_whole_group(spark):
    """A group with <= k rows is returned whole with est_weight == w
    (tau = 0): the estimator degrades to the exact sum."""
    from genie_spark.analytics.corpus import priority_sample

    df = spark.createDataFrame(
        [("tiny", 1, 50), ("tiny", 2, 70)], ["source", "doc_id", "n_chars"]
    )
    out = priority_sample(df, k=5).collect()
    assert len(out) == 2
    assert all(r["est_weight"] == float(r["weight"]) for r in out)


def test_priority_sample_favors_heavy_weights(spark):
    """With one dominant weight, that row is (near-)always selected:
    w/u ordering puts it first unless its uniform is pathological."""
    from genie_spark.analytics.corpus import priority_sample

    rows = [("s", i, 1) for i in range(100)] + [("s", 999, 1_000_000)]
    df = spark.createDataFrame(rows, ["source", "doc_id", "n_chars"])
    got = [r["doc_id"] for r in priority_sample(df, k=3).collect()]
    assert 999 in got


# ---------------------------------------------------------------------------
# X41 lossless prefix-filtered set-similarity join
# ---------------------------------------------------------------------------


def test_setsim_prefix_equals_exact_all_pairs(spark):
    """Prefix-filtered join returns EXACTLY the unfiltered all-shingle
    Jaccard join's pairs (losslessness), including boilerplate-heavy
    corpora where ngram_jaccard's max_df cap would drop shingles."""
    from genie_spark.analytics.dedup import ngram_jaccard_pairs, setsim_prefix_pairs

    base = "the quick brown fox jumps over the lazy dog again and again padding "
    rows = [
        (0, base + "alpha beta gamma delta"),
        (1, base + "alpha beta gamma delt!"),
        (2, base + "totally different tail content here now"),
        (3, "unrelated short text with its own shape entirely", ),
        (4, base + "alpha beta gamma delta"),
    ]
    df = spark.createDataFrame([(i, t) for i, t in rows], ["doc_id", "text"])
    got = sorted(map(tuple, setsim_prefix_pairs(df, k=8, threshold_pct=60).collect()))
    want = sorted(
        map(tuple, ngram_jaccard_pairs(df, k=8, threshold=0.6, max_df=None).collect())
    )
    assert got == want and len(got) >= 2


def test_setsim_prefix_identical_docs_jaccard_one(spark):
    from genie_spark.analytics.dedup import setsim_prefix_pairs

    df = spark.createDataFrame(
        [(1, "exactly the same text body right here"),
         (2, "exactly the same text body right here")],
        ["doc_id", "text"],
    )
    out = setsim_prefix_pairs(df, k=8, threshold_pct=90).collect()
    assert len(out) == 1 and out[0]["jaccard"] == 1.0


def test_setsim_prefix_unique_ids_false_merges_duplicated_ids(spark):
    """r15 advisory: the ``unique_ids=False`` branch is a structurally
    separate pipeline (global distinct + window n + groupBy docsets) —
    pin it the way the minhash equivalence test does: a corpus with
    duplicated ids under ``unique_ids=False`` must equal the
    single-row-per-id result, the duplicated-id guard must fire on the
    default path, and ``unique_ids=True`` must skip the guard."""
    import pytest

    from genie_spark.analytics.dedup import setsim_prefix_pairs

    docs = _docs(spark)
    dup = docs.unionByName(docs)  # corpus accidentally unioned with itself
    clean = sorted(
        map(tuple, setsim_prefix_pairs(docs, k=8, threshold_pct=60).collect())
    )
    merged = sorted(
        map(
            tuple,
            setsim_prefix_pairs(
                dup, k=8, threshold_pct=60, unique_ids=False
            ).collect(),
        )
    )
    assert merged == clean and len(clean) >= 1
    with pytest.raises(ValueError, match="duplicated 'doc_id'"):
        setsim_prefix_pairs(dup, k=8, threshold_pct=60)
    # promise path: no guard job, runs (under-merges — caller's contract)
    assert (
        setsim_prefix_pairs(docs, k=8, threshold_pct=60, unique_ids=True).count()
        == len(clean)
    )


def test_setsim_prefix_threshold_boundary_integer_exact(spark):
    """A pair at exactly Jaccard == t is kept (>= via integer
    cross-multiply, no float boundary loss)."""
    from genie_spark.analytics.dedup import setsim_prefix_pairs
    from genie_spark.analytics.dedup import shingles

    # construct two docs, measure their true jaccard, then query at
    # exactly that threshold (as a pct) when it is a round percent
    df = spark.createDataFrame(
        [(1, "aaaabbbbccccdddd"), (2, "aaaabbbbcccceeee")], ["doc_id", "text"]
    )
    sh = shingles(df, k=4)
    sets = {
        r["doc_id"]: set()
        for r in df.collect()
    }
    for r in sh.collect():
        sets[r["doc_id"]].add(r["shingle"])
    inter = len(sets[1] & sets[2])
    union = len(sets[1] | sets[2])
    pct = 100 * inter // union
    if 100 * inter == pct * union:  # exact percent boundary
        out = setsim_prefix_pairs(df, k=4, threshold_pct=pct).collect()
        assert any(r["a"] == 1 and r["b"] == 2 for r in out)


def test_pair_functions_release_shingle_caches(spark):
    """ngram_jaccard + setsim_prefix + minhash_lsh back-to-back leave
    NO persisted RDDs behind once their results are dropped: the
    shared shingle/docinfo caches are tied to the result's lifetime by
    a weakref finalizer (dedup._release_on_gc), so long-running
    sessions don't accumulate cache-manager entries (VERDICT r8
    'What's wrong #3')."""
    import gc
    import time

    from genie_spark.analytics.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
        setsim_prefix_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    df = spark.createDataFrame(
        [(i, base + f"tail {i % 3}") for i in range(30)], ["doc_id", "text"]
    )
    # other tests in the shared session may hold their own legitimate
    # caches — the claim is that THESE calls add none that outlive
    # their results
    before = set(dict(spark.sparkContext._jsc.getPersistentRDDs()))
    r1 = ngram_jaccard_pairs(df, k=8, threshold=0.5)
    r1.collect()
    r2 = setsim_prefix_pairs(df, k=8, threshold_pct=50)
    r2.collect()
    r3 = minhash_dedup_pairs(df, k=8, n_perm=8, bands=4, threshold=0.5)
    r3.collect()
    # while results are alive, the caches may legitimately be present
    del r1, r2, r3
    gc.collect()
    # unpersist(blocking=False) + the ContextCleaner are async on the
    # JVM side — poll briefly rather than flake
    deadline = time.time() + 20
    while time.time() < deadline:
        live = set(dict(spark.sparkContext._jsc.getPersistentRDDs())) - before
        if not live:
            break
        time.sleep(0.5)
    assert not live, f"leaked persisted RDDs: {live}"


def test_edit_near_miss_pairs_equals_brute_force(spark):
    """FastSS candidates + levenshtein verify == the brute-force
    all-pairs ed<=1 answer: substitution, insertion, deletion all
    found; the ab/ba swap (shared deletion variants, ed=2) is
    verified OUT; duplicate values collapse to one distinct node."""
    from genie_spark.analytics.dedup import edit_near_miss_pairs

    vals = [
        "GENIE-SAGE-1-1",
        "GENIE-SAGE-1-2",   # substitution of the last char
        "GENIE-SAGE-11-1",  # insertion
        "GENIE-SAGE-1-",    # deletion of the final char
        "GENIE-SAGE-1-1",   # exact duplicate (must collapse, no 0-pair)
        "ab",
        "ba",               # ed=2 from "ab" despite shared del variants
        "completely-different",
    ]
    df = spark.createDataFrame([(v,) for v in vals], ["value"])
    got = sorted(
        map(tuple, edit_near_miss_pairs(df, "value").collect())
    )

    def ed(s, t):
        dp = list(range(len(t) + 1))
        for i, cs in enumerate(s, 1):
            prev, dp[0] = dp[0], i
            for j, ct in enumerate(t, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (cs != ct)
                )
        return dp[len(t)]

    uniq = sorted(set(vals))
    want = sorted(
        (a, b, 1)
        for i, a in enumerate(uniq)
        for b in uniq[i + 1:]
        if ed(a, b) == 1
    )
    assert got == want
    assert ("ab", "ba", 1) not in got and len(got) >= 3


def test_shingles_unique_id_contract_guard(spark):
    """The map-side shingle dedup is exact only for one row per id
    (dedup.shingles docstring): the default sketch check must REJECT a
    bulk-duplicated corpus, unique_ids=True must skip the check, and
    unique_ids=False must restore the exact global distinct."""
    from genie_spark.analytics.dedup import shingles

    docs = _docs(spark)
    dup = docs.unionByName(docs)  # corpus accidentally unioned with itself
    with pytest.raises(ValueError, match="duplicated 'doc_id'"):
        shingles(dup, k=5)
    # promise path: no check, runs (but under-dedups — caller's contract)
    assert shingles(dup, k=5, unique_ids=True).count() > 0
    # exact path: global distinct makes the duplicated corpus equal the
    # clean one
    clean = {(r["doc_id"], r["shingle"]) for r in shingles(docs, k=5).collect()}
    exact = {
        (r["doc_id"], r["shingle"])
        for r in shingles(dup, k=5, unique_ids=False).collect()
    }
    assert exact == clean
    # the clean corpus passes the default check unchanged
    assert {
        (r["doc_id"], r["shingle"]) for r in shingles(docs, k=5).collect()
    } == clean


def test_minhash_map_side_equals_aggregate_form(spark):
    """r15 map-side minhash: the per-row array form of
    ``minhash_signatures`` / ``minhash_docinfo`` must equal the
    exploded global-distinct aggregate form (``unique_ids=False``)
    row-for-row on a clean corpus — permutation minima, sorted hash
    sets, and distinct-string counts included — and the duplicated-id
    guard must fire like the ``shingles`` one."""
    from genie_spark.analytics.dedup import minhash_docinfo, minhash_signatures

    docs = _docs(spark)
    k, n_perm = 5, 8
    sig_map = sorted(
        tuple(r) for r in minhash_signatures(docs, k=k, n_perm=n_perm).collect()
    )
    sig_agg = sorted(
        tuple(r)
        for r in minhash_signatures(
            docs, k=k, n_perm=n_perm, unique_ids=False
        ).collect()
    )
    assert sig_map == sig_agg and len(sig_map) == 5
    info_map = sorted(
        tuple(r) for r in minhash_docinfo(docs, k=k, n_perm=n_perm).collect()
    )
    info_agg = sorted(
        tuple(r)
        for r in minhash_docinfo(
            docs, k=k, n_perm=n_perm, unique_ids=False
        ).collect()
    )
    assert info_map == info_agg
    # short-doc convention: a doc below k chars yields no row either way
    short = docs.unionByName(
        spark.createDataFrame([(9, "abc")], ["doc_id", "text"])
    )
    assert minhash_docinfo(short, k=k, n_perm=n_perm).count() == 5
    with pytest.raises(ValueError, match="duplicated 'doc_id'"):
        minhash_docinfo(docs.unionByName(docs), k=k, n_perm=n_perm)


def test_winnow_doc_fps_equals_exploded_distinct(spark):
    """r15 map-side winnow: ``winnow_fp_docinfo`` and the internal
    doc-fp set reduction must equal the exploded
    ``winnow_fingerprints`` stream's groupBy/distinct forms exactly."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.dedup import (
        winnow_fingerprints,
        winnow_fp_docinfo,
    )

    docs = _docs(spark)
    k, w = 4, 3
    agg = sorted(
        tuple(r)
        for r in winnow_fingerprints(docs, k=k, w=w)
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_set("fp")).alias("__fps"),
            F.count_distinct("fp").cast("long").alias("__nfp"),
        )
        .collect()
    )
    got = sorted(
        tuple(r) for r in winnow_fp_docinfo(docs, k=k, w=w).collect()
    )
    assert got == agg and len(got) == 5


def test_duplicate_span_mask_semantics(spark):
    """X47 mask form on a hand-built corpus: a 12-token license block
    shared by two documents (with distinct prefixes/suffixes) yields
    one merged span per document covering exactly the shared tokens;
    a document with no repeated anchor yields nothing; a WITHIN-doc
    repeat is masked too."""
    from genie_spark.analytics.dedup import duplicate_span_mask

    lic = "this software is provided as is without warranty of any kind whatsoever"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + lic + " delta epsilon"),
            (2, "one two three four five " + lic),
            (3, "totally unrelated words nobody repeats here at all today"),
            # within-doc repeat: the same 10-token run twice
            (4, "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9 sep x0 x1 x2 x3 x4 x5 x6 x7 x8 x9"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["span_start"], r["span_len"], r["n_anchors"])
        for r in duplicate_span_mask(docs, k=8, min_count=2).collect()
    }
    # doc 1: license tokens are positions 4..15 (3 prefix tokens)
    assert out[1] == (4, 12, 5)  # 12-token span, 12-8+1=5 anchors
    # doc 2: license tokens are positions 6..17 (5 prefix tokens)
    assert out[2] == (6, 12, 5)
    assert 3 not in out
    # doc 4: both copies of the 10-token run masked; the runs sit 11
    # apart (gap > k) → two islands merged? positions 1..3 and 12..14
    # (anchors), coverage 1..10 and 12..21 — gap 12-3=9 > 8 → 2 spans
    # ... but collect returns one row per island; doc 4 must have the
    # two 10-token spans (verify via total coverage)
    rows4 = [
        (r["span_start"], r["span_len"])
        for r in duplicate_span_mask(docs, k=8, min_count=2)
        .where(F.col("doc_id") == 4)
        .collect()
    ]
    assert sorted(rows4) == [(1, 10), (12, 10)]


def test_duplicate_span_min_span_len(spark):
    """Lee et al. 2021's operating point: with min_span_len=50 only
    duplicated islands >= 50 tokens are masked/removed; the short
    12-token license block survives (default still cuts it)."""
    from genie_spark.analytics.dedup import (
        duplicate_span_mask,
        remove_duplicate_spans,
    )

    lic = "this software is provided as is without warranty of any kind whatsoever"
    big = " ".join(f"w{i}" for i in range(60))  # 60-token shared block
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + lic + " mid " + big + " tail one"),
            (2, "one two three four five " + lic + " sep " + big),
            (3, "totally unrelated words nobody repeats here at all today"),
        ],
        ["doc_id", "text"],
    )
    # default: both blocks mask (12-token and 60-token islands)
    dft = duplicate_span_mask(docs, k=8, min_count=2)
    assert {r["span_len"] for r in dft.collect()} == {12, 60}
    # thresholded: only the 60-token island survives the filter
    thr = duplicate_span_mask(docs, k=8, min_count=2, min_span_len=50)
    got = [(r["doc_id"], r["span_len"]) for r in thr.collect()]
    assert sorted(got) == [(1, 60), (2, 60)]

    # removal: keep-first drops the SECOND occurrence only; with the
    # threshold the license block is untouched in both docs
    cleaned = {
        r["doc_id"]: (r["clean_text"], r["n_tokens_removed"])
        for r in remove_duplicate_spans(
            docs, k=8, min_count=2, min_span_len=50
        ).collect()
    }
    assert lic in cleaned[1][0] and lic in cleaned[2][0]
    assert big in cleaned[1][0]          # first occurrence survives
    assert big not in cleaned[2][0]      # later occurrence cut
    assert cleaned[1][1] == 0 and cleaned[2][1] == 60
    assert cleaned[3][1] == 0
    # red->green pin: the default (None) is strictly more aggressive
    dft_cleaned = {
        r["doc_id"]: r["n_tokens_removed"]
        for r in remove_duplicate_spans(docs, k=8, min_count=2).collect()
    }
    assert dft_cleaned[2] > cleaned[2][1]


def test_pair_cap_audits_surface_dropped_keys(spark):
    """'No silent caps': the 1-row audit companions report exactly how
    many anchors/fingerprints/shingles the lossy max_df guards drop —
    a boilerplate block planted in every doc trips each cap at
    max_df=3; a clean corpus audits to zeros."""
    from genie_spark.analytics.dedup import (
        duplicate_span_pair_cap_audit,
        ngram_jaccard_cap_audit,
        winnow_pair_cap_audit,
    )

    # 16 shared tokens: 9 shared anchors (k=8), and windows of w=4
    # hashes fully inside the block select identical fingerprints in
    # every doc (the winnowing guarantee needs >= w+k-1 = 11 tokens)
    boiler = " ".join(f"b{j}" for j in range(16))
    docs = spark.createDataFrame(
        [(i, f"u{i}a u{i}b u{i}c " + boiler + f" t{i}x t{i}y") for i in range(6)],
        ["doc_id", "text"],
    )
    r = duplicate_span_pair_cap_audit(docs, k=8, max_df=3).first()
    # each of the 9 boilerplate-only anchors appears in 6 docs > 3
    assert r["n_anchors_capped"] == 9
    assert r["n_positions_capped"] == 54
    r = winnow_pair_cap_audit(docs, k=8, w=4, max_df=3).first()
    assert r["n_fingerprints_capped"] >= 1
    assert r["n_postings_capped"] >= 6
    boiler20 = "shared boilerplate характ " * 8  # >20-char shingles repeat
    docs20 = spark.createDataFrame(
        [(i, f"unique prefix {i} " + boiler20) for i in range(5)],
        ["doc_id", "text"],
    )
    r = ngram_jaccard_cap_audit(docs20, k=20, max_df=3).first()
    assert r["n_shingles_capped"] >= 1
    assert r["n_postings_capped"] >= 5 * 1
    # clean corpus: both counters zero (not null — coalesced)
    clean = spark.createDataFrame(
        [(i, f"doc {i} " + " ".join(f"w{i}_{j}" for j in range(12)))
         for i in range(4)],
        ["doc_id", "text"],
    )
    r = duplicate_span_pair_cap_audit(clean, k=8, max_df=3).first()
    assert (r["n_anchors_capped"], r["n_positions_capped"]) == (0, 0)


def test_duplicate_span_pairs_semantics(spark):
    """X47 pair form: the shared block reports one maximal span per
    pair with the right start offsets on both sides."""
    from genie_spark.analytics.dedup import duplicate_span_pairs

    lic = "this software is provided as is without warranty of any kind whatsoever"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + lic + " delta epsilon"),
            (2, "one two three four five " + lic),
            (3, "totally unrelated words nobody repeats here at all today"),
        ],
        ["doc_id", "text"],
    )
    rows = duplicate_span_pairs(docs, k=8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["a"], r["b"]) == (1, 2)
    assert (r["a_start"], r["b_start"], r["span_len"], r["n_anchors"]) == (
        4, 6, 12, 5,
    )


def _store_corpus(spark, n=40, tag=""):
    # long repetitive texts so minhash finds real near-dup structure
    rows = []
    for i in range(n):
        base = f"document {i % 7} body with shared boilerplate text {tag} "
        rows.append((i, base * 6 + f"unique suffix {i}"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_signature_store_full_then_noop(spark, tmp_path):
    from genie_spark.analytics.signature_store import (
        read_docinfo_store,
        sync_docinfo_store,
    )

    store = str(tmp_path / "sigstore")
    docs = _store_corpus(spark)
    s1 = sync_docinfo_store(spark, docs, store, n_buckets=8)
    assert s1["mode"] == "full" and s1["delta_rows"] == 40
    # resync with the identical corpus: nothing recomputed, no commit
    s2 = sync_docinfo_store(spark, docs, store, n_buckets=8)
    assert s2 == {
        "mode": "noop", "delta_rows": 0, "removed_rows": 0,
        "buckets_rewritten": 0, "n_buckets": 8,
    }
    # store contents == fresh minhash_docinfo over the corpus
    from genie_spark.analytics.dedup import minhash_docinfo

    got = {
        r["doc_id"]: (r["__n"], tuple(r["__hs"]))
        for r in read_docinfo_store(spark, store).collect()
    }
    want = {
        r["doc_id"]: (r["__n"], tuple(r["__hs"]))
        for r in minhash_docinfo(docs).collect()
    }
    assert got == want


def test_signature_store_incremental_recomputes_only_delta(spark, tmp_path):
    """+10% growth re-shingles ONLY the new docs (stats say so), leaves
    every unaffected bucket's files physically untouched (inode +
    mtime), and the store-backed pairs equal the from-scratch build."""
    import os

    from genie_spark.analytics.dedup import minhash_dedup_pairs
    from genie_spark.analytics.signature_store import (
        BUCKET_COL,
        minhash_pairs_from_store,
        sync_docinfo_store,
    )

    store = str(tmp_path / "sigstore")
    docs = _store_corpus(spark, n=40)
    sync_docinfo_store(spark, docs, store, n_buckets=8)

    def bucket_files():
        out = {}
        for d in os.listdir(store):
            if d.startswith(f"{BUCKET_COL}="):
                for f in os.listdir(os.path.join(store, d)):
                    p = os.path.join(store, d, f)
                    st = os.stat(p)
                    out[p] = (st.st_ino, st.st_mtime_ns, st.st_size)
        return out

    before = bucket_files()
    grown = docs.unionByName(_store_corpus(spark, n=4, tag="new").select(
        (F.col("doc_id") + 100).alias("doc_id"), "text"
    ))
    s = sync_docinfo_store(spark, grown, store, n_buckets=8)
    assert s["mode"] == "incremental"
    assert s["delta_rows"] == 4          # ONLY the new docs re-shingled
    assert s["removed_rows"] == 0
    assert s["buckets_rewritten"] < 8    # growth localized to its buckets
    after = bucket_files()

    def bucket_of(path):
        import re

        return int(re.search(r"sig_bucket=(\d+)", path).group(1))

    changed_buckets = {
        bucket_of(p)
        for p in set(before) ^ set(after)
    } | {
        bucket_of(p) for p in before if p in after and before[p] != after[p]
    }
    # exactly the rewritten buckets changed on disk; every other
    # bucket's files are the same physical objects (inode + mtime)
    assert len(changed_buckets) == s["buckets_rewritten"]
    for p, v in before.items():
        if bucket_of(p) not in changed_buckets:
            assert after[p] == v
    # pairs parity: store-backed == from-scratch
    got = {
        (r["a"], r["b"]) for r in minhash_pairs_from_store(spark, store).collect()
    }
    want = {(r["a"], r["b"]) for r in minhash_dedup_pairs(grown).collect()}
    assert got == want


def test_signature_store_change_and_removal(spark, tmp_path):
    from genie_spark.analytics.signature_store import (
        read_docinfo_store,
        sync_docinfo_store,
    )
    from genie_spark.analytics.dedup import minhash_docinfo

    store = str(tmp_path / "sigstore")
    docs = _store_corpus(spark, n=20)
    sync_docinfo_store(spark, docs, store, n_buckets=4)
    # change doc 3's text, remove doc 7
    changed = docs.where(F.col("doc_id") != 7).withColumn(
        "text",
        F.when(
            F.col("doc_id") == 3,
            F.concat(F.col("text"), F.lit(" now edited with fresh content")),
        ).otherwise(F.col("text")),
    )
    s = sync_docinfo_store(spark, changed, store, n_buckets=4)
    assert s["mode"] == "incremental"
    assert s["delta_rows"] == 1      # the changed doc only
    assert s["removed_rows"] == 2    # old row of doc 3 + removed doc 7
    got = {
        r["doc_id"]: (r["__n"], tuple(r["__hs"]))
        for r in read_docinfo_store(spark, store).collect()
    }
    want = {
        r["doc_id"]: (r["__n"], tuple(r["__hs"]))
        for r in minhash_docinfo(changed).collect()
    }
    assert got == want


def test_signature_store_short_docs_not_rediagnosed(spark, tmp_path):
    """A document shorter than k keeps a manifest-only row: the second
    sync must be a noop, and the read filters it out (batch parity)."""
    from genie_spark.analytics.signature_store import (
        read_docinfo_store,
        sync_docinfo_store,
    )

    store = str(tmp_path / "sigstore")
    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "long enough text to actually shingle " * 4)],
        ["doc_id", "text"],
    )
    s1 = sync_docinfo_store(spark, docs, store, n_buckets=2)
    assert s1["mode"] == "full"
    s2 = sync_docinfo_store(spark, docs, store, n_buckets=2)
    assert s2["mode"] == "noop"
    ids = {r["doc_id"] for r in read_docinfo_store(spark, store).collect()}
    assert ids == {2}


def test_signature_store_emptied_bucket_drops_rows(spark, tmp_path):
    """A bucket whose SOLE doc is removed stages zero rows — Spark
    writes no partition dir for it — so the commit must carry the
    explicit bucket scope or the old files stay live and the store
    keeps pairing against deleted documents (ADVICE r10, high)."""
    from genie_spark.analytics.signature_store import (
        read_docinfo_store,
        sync_docinfo_store,
    )

    store = str(tmp_path / "sigstore")
    docs = _store_corpus(spark, n=2)
    sync_docinfo_store(spark, docs, store, n_buckets=64)
    # with 64 buckets the two docs land in distinct buckets (pinned
    # below), so removing one empties its bucket entirely
    kept = docs.where(F.col("doc_id") == 0)
    s = sync_docinfo_store(spark, kept, store, n_buckets=64)
    assert s["mode"] == "incremental"
    assert s["removed_rows"] == 1 and s["delta_rows"] == 0
    ids = {r["doc_id"] for r in read_docinfo_store(spark, store).collect()}
    assert ids == {0}, "store must equal the corpus after sync"


def test_signature_store_shrink_to_empty(spark, tmp_path):
    """Corpus shrinking to EMPTY: every bucket empties, staging holds
    no partition dirs at all — the explicit scope must still remove
    every old file (same failure class as the single-bucket case)."""
    from genie_spark.analytics.signature_store import sync_docinfo_store
    from genie_spark.io.txnlog import LogCommit

    store = str(tmp_path / "sigstore")
    docs = _store_corpus(spark, n=6)
    sync_docinfo_store(spark, docs, store, n_buckets=4)
    s = sync_docinfo_store(
        spark, docs.where(F.lit(False)), store, n_buckets=4
    )
    assert s["mode"] == "incremental"
    assert s["removed_rows"] == 6 and s["delta_rows"] == 0
    left = LogCommit().read(spark, store)
    assert left is None or left.count() == 0


def test_signature_store_manifest_read_prunes_hash_arrays(spark, tmp_path):
    """The 100 TB claim of the incremental sync rests on the manifest
    diff reading ONLY slim columns of the store: pin that a
    slim-column read through the txnlog path (mergeSchema on) still
    column-prunes — the fat __hs arrays must not appear in the scan's
    ReadSchema."""
    from genie_spark.analytics.signature_store import (
        BUCKET_COL,
        MD5_COL,
        sync_docinfo_store,
    )
    from genie_spark.io.txnlog import LogCommit

    store = str(tmp_path / "sigstore")
    sync_docinfo_store(spark, _store_corpus(spark, n=10), store, n_buckets=2)
    df = LogCommit().read(spark, store).select("doc_id", MD5_COL, BUCKET_COL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__hs" not in plan, plan
    assert "mh_0" not in plan, plan


def test_remove_duplicate_spans_keep_first(spark):
    """X47 removal: keep-first semantics — the globally-first
    occurrence of the shared block survives, later occurrences are
    cut; span-less docs pass through whitespace-normalized; a
    within-doc repeat keeps its first copy."""
    from genie_spark.analytics.dedup import remove_duplicate_spans

    lic = "this software is provided as is without warranty of any kind whatsoever"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + lic + " delta epsilon"),
            (2, "one two three four five " + lic),
            (3, "totally unrelated  words nobody\trepeats here at all today"),
            (4, "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9 sep x0 x1 x2 x3 x4 x5 x6 x7 x8 x9"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_tokens_removed"])
        for r in remove_duplicate_spans(docs, k=8, min_count=2).collect()
    }
    # doc 1 is the first occurrence (min (id, pos)) → untouched
    assert out[1] == ("alpha beta gamma " + lic + " delta epsilon", 17, 0)
    # doc 2 loses the block (12 tokens)
    assert out[2] == ("one two three four five", 17, 12)
    # doc 3: no duplicated anchors; whitespace normalized by the
    # tokenize-rejoin (documented behavior)
    assert out[3] == (
        "totally unrelated words nobody repeats here at all today", 9, 0,
    )
    # doc 4: within-doc repeat — the FIRST copy survives
    assert out[4] == (
        "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9 sep", 21, 10,
    )


def test_bm25_topk_ranking(spark):
    """BM25 semantics on a hand corpus: a doc with more hits of a
    rarer term outranks one with hits of a common term; length
    normalization demotes the long padded doc; docs without hits are
    absent."""
    from genie_spark.analytics.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "zebra zebra quick brown"),             # 2 hits of rare term
            (2, "common common common words here"),     # common term only
            (3, "zebra common words and more words"),   # one of each
            (4, "nothing relevant at all"),
            (5, "common " + "pad " * 60),                # long doc, 1 hit
        ],
        ["doc_id", "text"],
    )
    out = bm25_topk(docs, ["zebra", "common"], k=10).collect()
    ids = [r["doc_id"] for r in out]
    assert 4 not in ids
    scores = {r["doc_id"]: r["score"] for r in out}
    # tf saturation (k1 = 1.2): hits on TWO distinct terms beat a
    # doubled single term — the both-term doc ranks first
    assert ids[0] == 3
    # rarer term (zebra, df=2) at similar tf/dl beats the common one
    assert scores[1] > scores[2]
    # both-term doc beats the single common-term doc
    assert scores[3] > scores[2]
    # length normalization: the padded doc scores below doc 2
    assert scores[5] < scores[2]
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))


def test_bm25_topk_empty_corpus(spark):
    """Empty (or all-empty-text) corpus: F.sum over zero rows is null
    — bm25 must return the empty (id, score, n_terms_hit, rank)
    result, not a TypeError (ADVICE r10)."""
    from genie_spark.analytics.text import bm25_topk

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    out = bm25_topk(empty, ["zebra"], k=5)
    assert out.columns == ["doc_id", "score", "n_terms_hit", "rank"]
    assert out.count() == 0
    blank = spark.createDataFrame([(1, ""), (2, "  ")], ["doc_id", "text"])
    assert bm25_topk(blank, ["zebra"], k=5).count() == 0


def test_winnow_fingerprints_guarantee(spark):
    """The winnowing guarantee (Schleimer et al. 2003 thm): any shared
    substring of >= w+k-1 tokens yields a shared selected fingerprint;
    selection density is far below one-per-position; ties select the
    RIGHTMOST minimum (robust winnowing)."""
    from genie_spark.analytics.dedup import winnow_dup_pairs, winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docs = spark.createDataFrame(
        [
            (1, "pre one two " + shared + " post three"),
            (2, shared + " completely different ending here now"),
            (3, "unrelated content with nothing in common at all whatsoever"),
        ],
        ["doc_id", "text"],
    )
    k, w = 8, 4
    fps = winnow_fingerprints(docs, k=k, w=w)
    rows = fps.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # guarantee: docs 1 and 2 share the 12-token block (>= w+k-1 = 11)
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc.get(3, set()))
    # density: selections are a strict subset of the positions
    import collections

    n_sel = collections.Counter(r["doc_id"] for r in rows)
    for did, text in [(1, "pre one two " + shared + " post three")]:
        n_positions = len(text.split()) - k + 1
        assert 0 < n_sel[did] < n_positions
    # pair report finds exactly the planted pair
    pairs = winnow_dup_pairs(docs, k=k, w=w, min_shared=1).collect()
    assert [(r["a"], r["b"]) for r in pairs] == [(1, 2)]


def test_winnow_rightmost_tie(spark):
    """A window of IDENTICAL hashes (same repeated k-gram) must select
    the rightmost position — the robust-winnowing tie rule that makes
    the oracle and engine agree bit-for-bit."""
    from genie_spark.analytics.dedup import winnow_fingerprints

    # 'x x x ... x' — every 3-gram identical → all window hashes equal
    docs = spark.createDataFrame([(1, "x " * 12)], ["doc_id", "text"])
    rows = winnow_fingerprints(docs, k=3, w=4).collect()
    # windows i=1..7 (10 grams), rightmost of each → pos = i+w-1 = 4..10;
    # all same fp, distinct positions survive
    assert sorted(r["pos"] for r in rows) == [4, 5, 6, 7, 8, 9, 10]
    assert len({r["fp"] for r in rows}) == 1


def test_signature_store_compaction_via_bronze_seam(spark, tmp_path):
    """The signature store is a txnlog table, so the existing
    compaction machinery drives it unchanged through the TableCommit
    seam: repeated incremental syncs leave small-file litter per
    bucket; compact_bronze(partition_col='sig_bucket',
    commit=LogCommit()) coalesces it; contents are unchanged and the
    next sync still diffs to a noop."""
    import glob as _glob

    from genie_spark.analytics.signature_store import (
        BUCKET_COL,
        read_docinfo_store,
        sync_docinfo_store,
    )
    from genie_spark.io.bronze import compact_bronze
    from genie_spark.io.txnlog import LogCommit

    store = str(tmp_path / "sigstore")
    docs = _store_corpus(spark, n=12)
    sync_docinfo_store(spark, docs, store, n_buckets=2)
    # several growth syncs → accumulating files per bucket
    grown = docs
    for i in range(3):
        extra = spark.createDataFrame(
            [(100 + 10 * i + j, f"grown corpus doc body text {i} {j} " * 6)
             for j in range(3)],
            ["doc_id", "text"],
        )
        grown = grown.unionByName(extra)
        sync_docinfo_store(spark, grown, store, n_buckets=2)
    before = {
        r["doc_id"]: (r["__n"], tuple(r["__hs"]))
        for r in read_docinfo_store(spark, store).collect()
    }
    n_files_before = len(_glob.glob(f"{store}/{BUCKET_COL}=*/*.parquet"))
    report = compact_bronze(
        spark, store, partition_col=BUCKET_COL,
        target_file_bytes=256 * 1024 * 1024, commit=LogCommit(),
    )
    # compaction marks the replaced files removed; vacuum physically
    # deletes them (retention exercised too)
    from genie_spark.io.txnlog import vacuum

    vacuum(store, retain_versions=1, grace_s=0.0)
    n_files_after = len(_glob.glob(f"{store}/{BUCKET_COL}=*/*.parquet"))
    assert n_files_after < n_files_before
    assert any(v["files_after"] < v["files_before"] for v in report.values())
    after = {
        r["doc_id"]: (r["__n"], tuple(r["__hs"]))
        for r in read_docinfo_store(spark, store).collect()
    }
    assert after == before
    # manifest survives compaction: resync of the same corpus = noop
    s = sync_docinfo_store(spark, grown, store, n_buckets=2)
    assert s["mode"] == "noop"


def test_hashed_linear_classifier_explicit_weights(spark):
    """X50 with an explicit sparse model: scores are exact integer
    sums of the bucket weights; unknown buckets weigh 0; the keep
    threshold applies; empty docs are absent (no features)."""
    import hashlib

    from genie_spark.analytics.text import hashed_linear_classify

    n_buckets = 64

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.lower().encode()).hexdigest()[:15], 16) % n_buckets

    weights = {bucket("good"): 500, bucket("bad"): -700}
    docs = spark.createDataFrame(
        [
            (1, "good good words"),       # 2*500 + 0
            (2, "bad good"),              # -700 + 500
            (3, "neutral words only"),    # 0
            (4, "   "),                   # no tokens → absent
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["score_milli"], r["keep"])
        for r in hashed_linear_classify(
            docs, n_buckets=n_buckets, weights=weights,
            bias_milli=100, threshold_milli=0,
        ).collect()
    }
    # collisions: 'words'/'neutral'/'only' may collide with model
    # buckets under 64 buckets — compute expected scores honestly
    def score(toks):
        return 100 + sum(weights.get(bucket(t), 0) for t in toks)

    assert out[1] == (score(["good", "good", "words"]),
                      score(["good", "good", "words"]) >= 0)
    assert out[2] == (score(["bad", "good"]), score(["bad", "good"]) >= 0)
    assert out[3][0] == score(["neutral", "words", "only"])
    assert 4 not in out


def test_dsir_sample_prefers_target_like_docs(spark):
    """X51 semantics: documents whose n-grams match the target
    domain's distribution outrank off-domain ones; ranks are dense
    1..k; n_features counts unigrams + bigrams."""
    from genie_spark.analytics.corpus import dsir_sample

    sparkish = "spark shuffle partition executor broadcast join stage task"
    cookish = "flour butter sugar oven whisk bake dough pan"
    raw = spark.createDataFrame(
        [
            (1, sparkish),
            (2, sparkish + " spark shuffle extra"),
            (3, cookish),
            (4, cookish + " flour butter more"),
            (5, "mixed spark flour words here today"),
        ],
        ["doc_id", "text"],
    )
    target = spark.createDataFrame(
        [(100 + i, sparkish) for i in range(3)], ["doc_id", "text"]
    )
    out = dsir_sample(raw, target, k=5, n_buckets=512).collect()
    ranks = {r["doc_id"]: r["rank"] for r in out}
    scores = {r["doc_id"]: r["score_bits"] for r in out}
    assert sorted(r["rank"] for r in out) == [1, 2, 3, 4, 5]
    # the on-domain docs beat the cooking docs
    assert max(scores[3], scores[4]) < min(scores[1], scores[2])
    assert ranks[1] <= 2 and ranks[2] <= 2
    # n_features = unigrams + bigrams = 2 * n_tokens - 1
    nf = {r["doc_id"]: r["n_features"] for r in out}
    assert nf[1] == 2 * 8 - 1
    # determinism: identical rerun, identical rows
    again = dsir_sample(raw, target, k=5, n_buckets=512).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def _seq_bpe(texts, n_merges):
    """Sequential BPE reference model (Sennrich et al. 2016 learn_bpe
    shape) with the engine's documented tie order (count DESC, lhs,
    rhs) — the X52 oracle-of-record for property tests."""
    import collections

    wf = collections.Counter(w for t in texts for w in t.split())
    vocab = {" " + " ".join(w): f for w, f in wf.items()}
    merges = []
    for step in range(1, n_merges + 1):
        pc = collections.Counter()
        for s, f in vocab.items():
            syms = s.strip().split(" ")
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        (l, r), c = sorted(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        merges.append((step, l, r, l + r, c))
        vocab = {
            s.replace(f" {l} {r}", f" {l}{r}"): f for s, f in vocab.items()
        }
    return merges


def test_bpe_train_matches_sequential_model(spark):
    """X52: the distributed trainer produces the EXACT merge sequence
    of the sequential reference model, including greedy leftmost
    non-overlap ('aaaa' -> 'aa aa') and the deterministic tie order."""
    from genie_spark.analytics.text import bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "aaaa aaaa baaa",          # overlap semantics
        "zz zz yy yy",             # count tie -> lhs order decides
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    got = [tuple(r) for r in bpe_train(docs, n_merges=8).collect()]
    assert got == _seq_bpe(texts, 8)


def test_bpe_train_matches_sequential_on_md5_corpus(spark):
    """X52 at scale shape: a 300-doc md5-synthetic corpus (hash words,
    realistic repetition) — the full 10-merge sequence matches the
    sequential model."""
    from genie_spark.analytics.text import _bpe_train_table, _word_counts, bpe_train

    texts = []
    import hashlib

    for i in range(300):
        ws = [
            hashlib.md5(f"{i % 37}_{j}".encode()).hexdigest()[:6]
            for j in range(12)
        ]
        texts.append(" ".join(ws))
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    got = [tuple(r) for r in bpe_train(docs, n_merges=10).collect()]
    want = _seq_bpe(texts, 10)
    assert got == want
    # merge steps are dense and counts non-increasing is NOT required
    # (merges create new pairs), but steps must be 1..10
    assert [g[0] for g in got] == list(range(1, 11))
    # every batch width produces the same pinned sequence (r13 rung)
    words = _word_counts(docs, "text")
    for bk in (1, 2, 5):
        assert _bpe_train_table(words, 10, batch_k=bk) == want


def test_bpe_train_batched_created_pair_adversary(spark):
    """r13 batched-trainer soundness: merging (a,z) CREATES pair
    (az,c) with the same count as the disjoint candidate (b,b) and a
    lex-smaller lhs — a naive disjoint-only batch would emit (b,b)
    second, but sequential (and the adjacency-bound rule) pick (az,c).
    Also covers the self-pair and shared-symbol fallbacks."""
    from genie_spark.analytics.text import _bpe_train_table, _word_counts

    texts = ["azc"] * 90 + ["az"] * 10 + ["bb"] * 90
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    words = _word_counts(docs, "text")
    want = _seq_bpe(texts, 4)
    for bk in (1, 2, 8, 64):
        got = _bpe_train_table(words, 4, batch_k=bk)
        assert got == want, (bk, got, want)
    # the adversary really is adversarial: step 2 must be the CREATED
    # pair, not the disjoint original candidate
    assert want[0][1:3] == ("a", "z")
    assert want[1][1:3] == ("az", "c")


def test_bpe_train_batched_phantom_prefix_adversary(spark):
    """r14 ADVICE (high): symbol-set disjointness is NOT sufficient
    for batch acceptance — merging (a,b) phantom-matches ' a bq d'
    because symbol 'bq' spelling-EXTENDS the rhs 'b', destroying 10
    of (bq,d)'s 40 occurrences.  The old disjoint-only rule accepted
    (bq,d) at count 40 in the same batch; sequential emits (x,y,35)
    first and (bq,d) at 30.  The prefix-relation + phantom-capability
    rule must reproduce the sequential order in both loops and at
    every batch width."""

    texts = (
        ["bq"] * 100 + ["ab"] * 50 + ["abqd"] * 10
        + ["bqd"] * 30 + ["xy"] * 35
    )
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    want = _seq_bpe(texts, 5)
    # the adversary really is adversarial: sequential's step 3/4 are
    # (x,y,35) then (bq,d,30) — the phantom-decayed count
    assert want[2][1:] == ("x", "y", "xy", 35)
    assert want[3][1:] == ("bq", "d", "bqd", 30)
    for bk in (2, 8, 64):
        got = _bpe_loops(docs, 5, batch_k=bk)
        assert got == (want, want), (bk, got, want)


def _bpe_loops(docs, n_merges, batch_k=64):
    """(vocabulary-table loop, driver-side histogram loop) merge lists
    of ``bpe_train`` on the same word counts."""
    from genie_spark.analytics.text import (
        _bpe_train_histogram,
        _bpe_train_table,
        _collect_histogram,
        _word_counts,
    )

    words = _word_counts(docs, "text")
    hist = _collect_histogram(words, 1000, "test")
    return (
        _bpe_train_table(words, n_merges, batch_k=batch_k),
        _bpe_train_histogram(hist, n_merges),
    )


def test_bpe_train_histogram_loop_equals_table_loop(spark):
    """The driver-side heap loop is byte-identical to the vocabulary-
    table loop — tie order, overlap corpus, the created-pair
    adversary, AND the space-prefixed encoding's phantom-match corner
    (' a ab' under merge (a,a): the pattern matches across the 'ab'
    spelling, so count and replace disagree — consistently in both
    loops).  Routing: past the threshold ``bpe_train`` takes the
    histogram loop, whose vocabulary cap raises loudly."""
    import pytest

    from genie_spark.analytics.text import (
        BPE_TRAIN_HISTOGRAM_THRESHOLD,
        bpe_train,
    )

    corpora = [
        ["low lower lowest low low", "new newer newest new",
         "aaaa aaaa baaa", "zz zz yy yy"],
        ["azc"] * 90 + ["az"] * 10 + ["bb"] * 90,
        # phantom corner: merge1 (a,b) makes ' a ab' from 'aab';
        # merge2 (a,a) string-matches ' a a' INSIDE ' a ab'
        ["aab"] * 10 + ["ab"] * 30 + ["aa"] * 20,
    ]
    for texts in corpora:
        docs = spark.createDataFrame(
            list(enumerate(texts)), ["doc_id", "text"]
        )
        table_seq, hist_seq = _bpe_loops(docs, 8)
        assert hist_seq == table_seq, texts[:2]
        assert hist_seq == _seq_bpe(texts, 8)
    docs = spark.createDataFrame(
        list(enumerate(corpora[0])), ["doc_id", "text"]
    )
    assert BPE_TRAIN_HISTOGRAM_THRESHOLD == 256
    with pytest.raises(ValueError, match="max_vocab_rows"):
        bpe_train(docs, n_merges=257, max_vocab_rows=3)
    # the table loop never collects the histogram, so no cap applies
    assert bpe_train(docs, n_merges=2, max_vocab_rows=3).count() == 2


def test_winnow_store_sync_and_pairs(spark, tmp_path):
    """X49 fingerprints in the signature store: full build → noop →
    incremental change/removal; the store equals a fresh
    winnow_fp_docinfo build and pairs-from-store equals the batch
    winnow_dup_pairs result."""
    from genie_spark.analytics.dedup import winnow_dup_pairs, winnow_fp_docinfo
    from genie_spark.analytics.signature_store import (
        read_winnow_store,
        sync_winnow_store,
        winnow_pairs_from_store,
    )

    store = str(tmp_path / "winstore")
    docs = _store_corpus(spark, n=30)
    s1 = sync_winnow_store(spark, docs, store, n_buckets=8)
    assert s1["mode"] == "full" and s1["delta_rows"] == 30
    assert sync_winnow_store(spark, docs, store, n_buckets=8)["mode"] == "noop"

    def snap(df):
        return {
            r["doc_id"]: tuple(r["__fps"]) for r in df.collect()
        }

    assert snap(read_winnow_store(spark, store)) == snap(
        winnow_fp_docinfo(docs)
    )
    got = {
        (r["a"], r["b"], r["n_shared"])
        for r in winnow_pairs_from_store(spark, store, min_shared=1).collect()
    }
    want = {
        (r["a"], r["b"], r["n_shared"])
        for r in winnow_dup_pairs(docs, min_shared=1).collect()
    }
    assert got == want and got  # non-trivial: boilerplate corpus pairs

    # change one doc, remove one: only the delta re-fingerprints
    changed = docs.where(F.col("doc_id") != 7).withColumn(
        "text",
        F.when(
            F.col("doc_id") == 3,
            F.concat(F.col("text"), F.lit(" fresh new suffix text here")),
        ).otherwise(F.col("text")),
    )
    s = sync_winnow_store(spark, changed, store, n_buckets=8)
    assert s["mode"] == "incremental"
    assert s["delta_rows"] == 1 and s["removed_rows"] == 2
    assert snap(read_winnow_store(spark, store)) == snap(
        winnow_fp_docinfo(changed)
    )

    # parameter pin: a different (k, w) must refuse to mix spaces
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not\\s+comparable|not "):
        sync_winnow_store(spark, changed, store, k=10, w=4, n_buckets=8)


def test_bpe_encode_roundtrip_and_shape(spark):
    """X53: encoding the training corpus with the learned merges
    reproduces the trainer's final word states (same greedy replace
    semantics); merged subwords concatenate back to the original
    words; token accounting is exact."""
    from genie_spark.analytics.text import bpe_encode, bpe_train

    texts = ["low lower lowest low low", "new newer newest new", ""]
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    merges = [
        (r["lhs"], r["rhs"]) for r in bpe_train(docs, n_merges=4).collect()
    ]
    out = {r["doc_id"]: r for r in bpe_encode(docs, merges).collect()}
    # subwords concatenate back to the original text (no space)
    for i, t in enumerate(texts):
        assert "".join(out[i]["bpe_tokens"]) == t.replace(" ", "")
        assert out[i]["n_tokens"] == len(t.split())
        assert out[i]["n_subwords"] == len(out[i]["bpe_tokens"])
    # after ('l','o') and ('lo','w') merges, 'low' encodes as one token
    if ("l", "o") in merges and ("lo", "w") in merges:
        toks0 = out[0]["bpe_tokens"]
        assert "low" in toks0
    # empty doc: empty sequence
    assert out[2]["bpe_tokens"] == [] and out[2]["n_subwords"] == 0


def test_normalize_text_forms_and_audit(spark):
    """X54: composed/decomposed inputs normalize to equal NFC bytes;
    the audit columns count what changed; NFKC folds compatibility
    chars; invalid form raises."""
    import unicodedata

    from genie_spark.analytics.text import normalize_text

    decomposed = "cafe\u0301 and more"  # e + combining acute, explicit
    composed = unicodedata.normalize("NFC", decomposed)
    docs = spark.createDataFrame(
        [(1, decomposed), (2, composed), (3, "plain ascii"), (4, "ﬁle")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in normalize_text(docs).collect()}
    assert out[1]["text_norm"] == composed and out[1]["changed"]
    assert out[1]["n_chars"] == out[1]["n_chars_norm"] + 1
    assert not out[2]["changed"] and not out[3]["changed"]
    assert not out[4]["changed"]                 # NFC keeps ligatures
    nfkc = {
        r["doc_id"]: r for r in normalize_text(docs, form="NFKC").collect()
    }
    assert nfkc[4]["text_norm"] == "file" and nfkc[4]["changed"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown form"):
        normalize_text(docs, form="NFX")


def test_token_drift_semantics(spark):
    """X55: tokens overrepresented on one side rank first with exact
    ppm rates; shared-rate tokens drift ~0; one-sided tokens count 0
    on the absent side; an empty side rates 0 everywhere."""
    from genie_spark.analytics.text import token_drift

    a = spark.createDataFrame(
        [(1, "alpha alpha alpha shared"), (2, "alpha shared")],
        ["doc_id", "text"],
    )
    b = spark.createDataFrame(
        [(3, "beta beta shared"), (4, "beta shared")],
        ["doc_id", "text"],
    )
    rows = {r["token"]: r for r in token_drift(a, b, k=10).collect()}
    # A: alpha 4/6, shared 2/6; B: beta 3/5, shared 2/5
    assert rows["alpha"]["ppm_a"] == 666_666 and rows["alpha"]["ppm_b"] == 0
    assert rows["beta"]["ppm_b"] == 600_000 and rows["beta"]["c_a"] == 0
    assert rows["alpha"]["rank"] == 1 and rows["beta"]["rank"] == 2
    assert rows["shared"]["drift_ppm"] == abs(333_333 - 400_000)
    # empty side: every A token drifts by its full A rate
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    r2 = {r["token"]: r for r in token_drift(a, empty, k=10).collect()}
    assert r2["alpha"]["ppm_b"] == 0 and r2["alpha"]["drift_ppm"] == 666_666


def test_domain_cap_semantics(spark):
    """X56: at most k rows per group survive, highest order_col first,
    md5/id tiebreak deterministic; unordered mode is md5-uniform."""
    from genie_spark.analytics.corpus import domain_cap

    rows = [(i, f"d{i % 3}", (i * 7) % 11) for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    out = domain_cap(
        df, group_col="source", max_per_group=4, order_col="n_chars"
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert all(len(v) == 4 for v in by_src.values())
    for src, kept in by_src.items():
        kept_chars = sorted((r["n_chars"] for r in kept), reverse=True)
        all_chars = sorted(
            (c for i, s, c in rows if s == src), reverse=True
        )
        # the kept set's char counts are the top-4 multiset
        assert kept_chars == all_chars[:4]
        assert sorted(r["domain_rank"] for r in kept) == [1, 2, 3, 4]
    again = domain_cap(
        df, group_col="source", max_per_group=4, order_col="n_chars"
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_semantic_decontaminate_flags_paraphrase_dup(spark):
    """X57 semantics: a corpus vector equal (or nearly equal) to an
    eval vector is flagged with cosine ~1 against the RIGHT eval id;
    an orthogonal vector is clean; ties resolve to the lowest eval
    id; a zero-norm corpus vector gets NULL cosine and a false flag."""
    from genie_spark.analytics.similarity import semantic_decontaminate

    rows = [
        # eval set
        (100, [1.0, 0.0, 0.0, 0.0]),
        (101, [0.0, 1.0, 0.0, 0.0]),
        # corpus: 1 = verbatim copy of eval 100; 2 = near-copy;
        # 3 = orthogonal; 4 = equidistant from BOTH evals (tie);
        # 5 = zero-norm
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [1.0, 1.0, 0.0, 0.0]),
        (5, [0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semantic_decontaminate(
        df.where("vec_id < 100"), df.where("vec_id >= 100"), threshold=0.9
    )
    got = {r["vec_id"]: r for r in out.collect()}
    assert len(got) == 5
    assert got[1]["is_contaminated"] and got[1]["eval_id"] == 100
    assert got[1]["max_cosine"] == 1.0
    assert got[2]["is_contaminated"] and got[2]["eval_id"] == 100
    assert not got[3]["is_contaminated"]
    assert abs(got[3]["max_cosine"]) < 1e-9
    # exact tie between eval 100 and 101 → lowest eval id wins
    assert got[4]["eval_id"] == 100
    assert not got[4]["is_contaminated"]  # cos = 1/sqrt(2) < 0.9
    assert got[5]["max_cosine"] is None and got[5]["eval_id"] is None
    assert got[5]["is_contaminated"] is False


def test_semantic_decontaminate_guards(spark):
    """X57 contract: empty / all-zero-norm eval set raises; an
    oversized eval set trips the broadcastability guard."""
    import pytest

    from genie_spark.analytics.similarity import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    empty = corpus.where("vec_id < 0")
    with pytest.raises(ValueError, match="empty"):
        semantic_decontaminate(corpus, empty)
    zero = spark.createDataFrame(
        [(9, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="zero-norm"):
        semantic_decontaminate(corpus, zero)
    big = spark.createDataFrame(
        [(i, [1.0, float(i)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="max_eval_rows"):
        semantic_decontaminate(corpus, big, max_eval_rows=3)


def test_semantic_decontaminate_null_eval_embedding_omitted(spark):
    """X57 graceful-omit: a NULL (or null-element) eval embedding is
    skipped at build like a zero-norm one — no TypeError — and the
    remaining valid eval rows still drive the scan; an ALL-null eval
    set raises the empty-set error."""
    import pytest

    from genie_spark.analytics.similarity import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    evalset = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, None), (102, [None, 1.0])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: r
        for r in semantic_decontaminate(corpus, evalset).collect()
    }
    assert got[1]["is_contaminated"] and got[1]["eval_id"] == 100
    assert not got[2]["is_contaminated"]  # orthogonal to the one valid eval
    all_null = evalset.where("vec_id > 100")
    with pytest.raises(ValueError, match="empty"):
        semantic_decontaminate(corpus, all_null)


def test_pq_train_dim_inference_guards(spark):
    """pq_train infers dim from a non-null SAMPLE and fails loudly on a
    ragged corpus (instead of silently setting dim from an arbitrary
    first row and having pq_encode omit every conforming row); all-null
    and empty corpora raise."""
    import pytest

    from genie_spark.analytics.clustering import pq_train

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="inconsistent"):
        pq_train(ragged, m=2)
    all_null = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="empty corpus"):
        pq_train(all_null, m=2)
    # a leading NULL no longer poisons inference: dim comes from the
    # non-null sample
    leading_null = spark.createDataFrame(
        [(1, None), (2, [1.0, 2.0]), (3, [3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    codebooks, sub_dim = pq_train(leading_null, m=2, k=2, iters=1)
    assert len(codebooks) == 2 and sub_dim == 1


def test_ivfpq_candidate_broadcast_guard_same_results(spark):
    """X62 guard: with max_candidate_rows=0 the candidate join drops
    the explicit broadcast hint (AQE sizes it) but the RESULT is
    identical to the hinted path — the guard changes strategy, never
    semantics."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.clustering import ivfpq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(
        k_neighbors=5, n_centroids=8, n_probe=2, m=4, k=4, iters=1
    )
    hinted = ivfpq_topk(emb, F.col("vec_id") < 3, **kw).collect()
    unhinted = ivfpq_topk(
        emb, F.col("vec_id") < 3, max_candidate_rows=0, **kw
    ).collect()
    assert sorted(map(tuple, hinted)) == sorted(map(tuple, unhinted))
    assert hinted


def test_soft_dedup_downweights_boilerplate(spark):
    """X58 semantics: documents made of corpus-common 3-grams score a
    LOWER mean rarity (= lower weight) than a document of unique text;
    sub-n-token documents are unscored; ranks are dense 1..k and the
    rarest doc is a near-certain survivor."""
    from genie_spark.analytics.corpus import soft_dedup

    boiler = "click here to subscribe to our newsletter today"
    rows = [(i, boiler) for i in range(1, 9)]  # 8 boilerplate copies
    rows.append((20, "quantum chromodynamics lattice renormalization group flow"))
    rows.append((30, "too short"))  # < 3 tokens → no 3-grams
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = soft_dedup(df, n=3, k=20).collect()
    got = {r["doc_id"]: r for r in out}
    assert 30 not in got  # unscored
    assert len(got) == 9
    # every boilerplate gram occurs 8×, every rare gram once
    assert all(got[i]["mean_rarity_mbits"] == got[1]["mean_rarity_mbits"]
               for i in range(1, 9))
    assert got[20]["mean_rarity_mbits"] > got[1]["mean_rarity_mbits"]
    assert got[20]["weight"] > got[1]["weight"]
    assert sorted(r["rank"] for r in out) == list(range(1, 10))
    # n_ngrams = tokens - 2
    assert got[20]["n_ngrams"] == 6 - 2
    assert got[1]["n_ngrams"] == 8 - 2


def test_soft_dedup_rarity_bits_exact(spark):
    """X58 exactness: rarity_bits is the exact integer surplus
    ilog2(T) - ilog2(c) summed over occurrences."""
    from genie_spark.analytics.corpus import soft_dedup

    # 4 docs of the same 3 tokens → each contributes ONE 3-gram with
    # corpus count 4; T = 4 → ilog2(T)=2, ilog2(c)=2 → 0 bits
    rows = [(i, "alpha beta gamma") for i in range(4)]
    rows.append((10, "delta epsilon zeta eta"))  # two grams, count 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in soft_dedup(df, n=3, k=10).collect()}
    # T = 4*1 + 2 = 6 → ilog2 = 2
    assert got[0]["rarity_bits"] == 2 - 2  # c=4 → ilog2=2
    assert got[10]["rarity_bits"] == 2 * (2 - 0)  # c=1 → ilog2=0
    assert got[10]["mean_rarity_mbits"] == (4 * 1000) // 2
    assert got[0]["weight"] == 1


def test_bpe_fertility_exact_counts(spark):
    """X59 semantics: per-group fertility and compression ratios are
    the exact integer milli values of the applied merge table; an
    all-empty group reports NULL ratios."""
    from genie_spark.analytics.text import bpe_fertility

    df = spark.createDataFrame(
        [
            (1, "the the", "en"),
            (2, "thethe", "en"),
            (3, "ab", "de"),
            (4, "   ", "xx"),
        ],
        ["doc_id", "text", "lang"],
    )
    out = bpe_fertility(df, [("t", "h"), ("th", "e")], group_col="lang")
    rows = {r["lang"]: r for r in out.collect()}
    # "the" → " t h e" → " th e" → " the" = 1 subword;
    # "thethe" → "the the" merged per-word: " th e th e" → " the the"
    # = 2 subwords
    en = rows["en"]
    assert (en["n_docs"], en["n_tokens"], en["n_subwords"]) == (2, 3, 4)
    assert en["n_token_chars"] == 6 + 6
    assert en["fertility_milli"] == (4 * 1000) // 3
    assert en["chars_per_subword_milli"] == (12 * 1000) // 4
    de = rows["de"]
    # "ab" has no applicable merge → 2 subwords from 1 token
    assert (de["n_tokens"], de["n_subwords"]) == (1, 2)
    assert de["fertility_milli"] == 2000
    xx = rows["xx"]
    assert (xx["n_docs"], xx["n_tokens"], xx["n_subwords"]) == (1, 0, 0)
    assert xx["fertility_milli"] is None
    assert xx["chars_per_subword_milli"] is None
    # deterministic group ordering
    assert [r["lang"] for r in out.collect()] == ["de", "en", "xx"]


def test_gopher_filter_rules_fire_individually(spark):
    """X60 semantics: each Gopher rule fires on its targeted pathology
    and ONLY that rule; a clean 50-word document passes all seven."""
    from genie_spark.analytics.text import gopher_quality_filter

    clean = ("the be to of and that have with " + "data " * 42).strip()
    rows = [
        (1, clean),                                   # passes all
        (2, "the be short text"),                     # word count
        (3, ("# " * 30 + clean)),                     # symbol ratio (30 hashes / 80 words)
        (4, "\n".join("- " + clean for _ in range(10))),  # bullets
        (5, "\n".join(clean + " ..." for _ in range(10))),  # ellipsis ends
        (6, "the be " + "12345 " * 60),               # alpha words < 80%
        (7, ("data " * 60).strip()),                  # no stop words
        (8, "the be " + "a " * 60),                   # mean word len < 3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in gopher_quality_filter(df).collect()}
    assert got[1]["keep"], got[1]
    assert all(got[1][c] for c in got[1].asDict() if c.startswith("r_"))
    assert not got[2]["r_word_count"] and not got[2]["keep"]
    assert not got[3]["r_symbol_ratio"] and got[3]["r_word_count"]
    assert not got[4]["r_bullet_lines"] and got[4]["r_symbol_ratio"]
    assert not got[5]["r_ellipsis_lines"] and got[5]["r_bullet_lines"]
    assert not got[6]["r_alpha_words"]
    assert not got[7]["r_stop_words"] and got[7]["r_alpha_words"]
    assert not got[8]["r_mean_word_len"]
    # metric exactness spot-checks
    assert got[2]["n_words"] == 4
    assert got[7]["n_stop_hits"] == 0
    assert got[1]["n_stop_hits"] == 8
    assert got[4]["bullet_line_frac"] == 1.0
    assert got[5]["ellipsis_line_frac"] == 1.0


def test_pq_encode_codes_and_reconstruction(spark):
    """X61 semantics: identical vectors get identical codes; codes are
    valid codebook ids; d2 is the exact reconstruction error (zero
    when a vector IS a final centroid is not guaranteed, but d2 must
    equal the sum of per-subspace nearest distances — cross-checked
    against kmeans_fit on each slice)."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.clustering import kmeans_fit, pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    m, k, iters = 4, 8, 2
    codes = pq_encode(emb, m=m, k=k, iters=iters).collect()
    assert len(codes) == emb.count()
    by_id = {r["vec_id"]: r for r in codes}
    for r in codes[:20]:
        for s in range(1, m + 1):
            assert 0 <= r[f"code_{s}"] < k
        assert r["d2"] >= 0
    # cross-check: each subspace column equals an independent
    # kmeans_fit assignment on the slice, and d2 sums the slice d2s
    dim = 64
    sub = dim // m
    total = {vid: 0 for vid in by_id}
    for s in range(m):
        sliced = emb.select(
            "vec_id", F.slice("embedding", s * sub + 1, sub).alias("__sub")
        )
        adf, _cb = kmeans_fit(sliced, vec_col="__sub", k=k, iters=iters)
        for r in adf.collect():
            assert by_id[r["vec_id"]][f"code_{s + 1}"] == r["cluster_id"]
            total[r["vec_id"]] += r["d2"]
    assert all(by_id[v]["d2"] == t for v, t in total.items())


def test_pq_topk_identical_vector_ties_at_min(spark):
    """X61 ADC semantics: ADC scores a neighbor by its CODES, so a
    corpus vector bit-identical to the query sits at the minimal ADC
    distance (= the query's own reconstruction error) — tied with any
    other vector sharing all m codes, ties broken by neighbor id.
    Ranks are dense and the query row itself is excluded."""
    rows = []
    base = [1.0, -0.5, 0.25, 2.0] * 16  # dim 64
    for i in range(40):
        rows.append((i, [x + 0.05 * i for x in base]))
    rows.append((100, list(rows[0][1])))  # identical to query 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from pyspark.sql import functions as F

    from genie_spark.analytics.clustering import pq_topk

    out = pq_topk(df, F.col("vec_id") == 0, k_neighbors=41, m=4, k=4, iters=2)
    got = {r["neighbor_id"]: r for r in out.collect()}
    assert 0 not in got  # query excluded
    ranks = sorted(r["rank"] for r in got.values())
    assert ranks == list(range(1, len(got) + 1))  # dense
    min_d2 = min(r["adc_d2"] for r in got.values())
    assert got[100]["adc_d2"] == min_d2  # identical vector ties at min


def test_ivfpq_subset_of_pq_with_same_scores(spark):
    """X62 semantics: IVF-PQ results are exactly the PQ-ADC results
    RESTRICTED to the coarse candidate set — for every (query,
    neighbor) IVF-PQ returns, the full pq_topk run must hold the same
    adc_d2; and every IVF-PQ rank list is densely 1..n in the package
    total order."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.clustering import ivfpq_topk, pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    full = {
        (r["query_id"], r["neighbor_id"]): r["adc_d2"]
        for r in pq_topk(
            emb, F.col("vec_id") < 5, k_neighbors=10_000, m=4, k=8, iters=2
        ).collect()
    }
    pruned = ivfpq_topk(
        emb, F.col("vec_id") < 5, k_neighbors=10, n_centroids=16,
        n_probe=4, m=4, k=8, iters=2,
    ).collect()
    assert pruned, "IVF-PQ returned no candidates"
    by_q: dict = {}
    for r in pruned:
        assert full[(r["query_id"], r["neighbor_id"])] == r["adc_d2"]
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["adc_d2"]))
    for q, rows in by_q.items():
        rows.sort()
        assert [rk for rk, _ in rows] == list(range(1, len(rows) + 1))
        assert all(
            rows[i][1] <= rows[i + 1][1] for i in range(len(rows) - 1)
        )


def test_lm_bigram_backoff_semantics(spark):
    """X63 semantics: bigrams seen in the model score conditional
    bits; held-out bigrams take the backoff path (penalty + smoothed
    unigram); sub-2-token docs are unscored; counts are exact."""
    from genie_spark.analytics.text import lm_surprisal_bigram

    model = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x")], ["doc_id", "text"]
    )
    score = spark.createDataFrame(
        [
            (10, "a b"),      # seen bigram: c1(a)=3, c2(a,b)=3 → 1-1=0? no:
                              # ilog2(3)-ilog2(3)=0 bits
            (11, "b a"),      # seen once: c1(b)=3, c2(b,a)=1 → 1-0=1 bit
            (12, "c z"),      # UNSEEN bigram, z OOV: 4 + ilog2(8) - ilog2(0+1)
            (13, "one"),      # 1 token → unscored
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in lm_surprisal_bigram(
        score, model, backoff_bits=4, outlier_centibits=500
    ).collect()}
    assert 13 not in out and len(out) == 3
    # model totals: tokens a,b,a,b,c,a,b,x → T=8, c1: a=3,b=3,c=1,x=1
    assert out[10]["n_backoff"] == 0
    assert out[10]["total_bits"] == (3).bit_length() - 1 - ((3).bit_length() - 1)
    assert out[11]["total_bits"] == ((3).bit_length() - 1) - ((1).bit_length() - 1)
    assert out[12]["n_backoff"] == 1
    # backoff: 4 + ilog2(8) - ilog2(0+1) = 4 + 3 - 0 = 7
    assert out[12]["total_bits"] == 7
    assert out[12]["is_outlier"]  # 700 centibits >= 500
    assert not out[10]["is_outlier"]


def test_line_repetition_exact_fractions(spark):
    """X64 semantics on real multi-line/multi-paragraph documents:
    duplicate counts are occurrences-beyond-first per distinct unit,
    character fractions weight by unit length, thresholds flag."""
    from genie_spark.analytics.text import line_repetition_stats

    d1 = "alpha\nbeta\nalpha\nalpha"          # 4 lines, 2 dups of 'alpha'
    d2 = "para one\n\npara two\n\npara one"   # 3 paras, 1 dup
    d3 = "unique one\nunique two"             # clean
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in line_repetition_stats(df).collect()}
    r1 = got[1]
    assert (r1["n_lines"], r1["dup_lines"]) == (4, 2)
    assert r1["dup_lines_frac"] == 2 / 4
    # chars: 5+4+5+5 = 19 line chars, dups carry 10
    assert r1["dup_lines_char_frac"] == 10 / 19
    assert r1["flagged"]  # 50% dup lines > 30%
    r2 = got[2]
    assert (r2["n_paras"], r2["dup_paras"]) == (3, 1)
    assert r2["dup_paras_frac"] == 1 / 3
    assert r2["flagged"]
    r3 = got[3]
    assert r3["dup_lines"] == 0 and r3["dup_paras"] == 0
    assert not r3["flagged"]


def test_char_entropy_orders_clean_above_degenerate(spark):
    """X66 semantics: the integer entropy proxy is exact on
    constructed distributions, orders natural-ish text above repeated
    symbols, and excludes empty documents."""
    from genie_spark.analytics.text import char_entropy

    df = spark.createDataFrame(
        [
            (1, "aaaaaaaa"),        # 1 distinct char → 0 bits
            (2, "abababab"),        # 2 chars, 4+4 of 8: each term 3-2=1 → 8 bits
            (3, "abcdefgh"),        # 8 distinct: 8 * (3-0) = 24 bits
            (4, ""),                # excluded
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in char_entropy(df).collect()}
    assert 4 not in got and len(got) == 3
    assert got[1]["entropy_bits"] == 0 and got[1]["is_low_entropy"]
    assert got[2]["entropy_bits"] == 8
    assert got[2]["mean_entropy_milli"] == 1000
    assert got[3]["entropy_bits"] == 24
    assert got[3]["mean_entropy_milli"] == 3000
    assert not got[3]["is_low_entropy"]
    assert got[1]["mean_entropy_milli"] < got[2]["mean_entropy_milli"] \
        < got[3]["mean_entropy_milli"]


def test_blocklist_whole_token_semantics(spark):
    """X67 semantics: whole-token matching only (no substring false
    positives), case-insensitive, audit columns exact; empty terms
    raise."""
    import pytest

    from genie_spark.analytics.text import blocklist_filter

    df = spark.createDataFrame(
        [
            (1, "this page is SLOW and broken"),
            (2, "slowly but surely"),       # substring — NOT a match
            (3, "clean text here"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in blocklist_filter(
        df, ["slow", "broken"]
    ).collect()}
    assert got[1]["is_blocked"] and got[1]["n_blocked_tokens"] == 2
    assert got[1]["first_blocked_term"] == "slow"
    assert not got[2]["is_blocked"] and got[2]["first_blocked_term"] is None
    assert not got[3]["is_blocked"]
    with pytest.raises(ValueError, match="empty terms"):
        blocklist_filter(df, [])


def test_temperature_mix_flattens_head_upsamples_tail(spark):
    """X69 semantics: T=2 (α=1/2 via exact isqrt) flattens the head
    group and upsamples tail groups — the tail's admit_ppm exceeds the
    head's, the realized mixture is closer to uniform than the input,
    audit columns are exact integers, and admission is deterministic
    (md5 of the id — rerunning yields the identical set)."""
    from genie_spark.analytics.corpus import temperature_mix

    rows = [(i, "head" if i < 900 else "tail") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    out = temperature_mix(df, n_target=400, group_col="grp", id_col="doc_id")
    got = out.collect()
    by = {}
    for r in got:
        by.setdefault(r["grp"], []).append(r)
    meta = {g: (v[0]["n_docs"], v[0]["s_alpha"], v[0]["admit_ppm"]) for g, v in by.items()}
    # head: n=900 s=30; tail: n=100 s=10; S=40
    assert meta["head"][:2] == (900, 30)
    assert meta["tail"][:2] == (100, 10)
    # targets: head 400*30//40=300 of 900 (admit 333333 ppm);
    #          tail 400*10//40=100 of 100 (admit capped at 1000000)
    assert meta["head"][2] == 333333
    assert meta["tail"][2] == 1_000_000
    assert len(by["tail"]) == 100  # whole tail admitted
    # realized head share well under the input's 90%
    share = len(by["head"]) / len(got)
    assert 0.5 < share < 0.85
    # deterministic rerun
    again = {r["doc_id"] for r in temperature_mix(
        df, n_target=400, group_col="grp", id_col="doc_id").collect()}
    assert again == {r["doc_id"] for r in got}
    # a=0 is proportional sampling: s_alpha == n_docs
    prop = temperature_mix(
        df, n_target=400, group_col="grp", alpha_halvings=0
    ).select("grp", "s_alpha", "n_docs").distinct().collect()
    assert all(r["s_alpha"] == r["n_docs"] for r in prop)
    import pytest

    with pytest.raises(ValueError, match="n_target"):
        temperature_mix(df, n_target=-1, group_col="grp")
    with pytest.raises(ValueError, match="alpha_halvings"):
        temperature_mix(df, n_target=1, group_col="grp", alpha_halvings=-1)


def _bpe_replay(word, merges):
    """Pure-Python apply_bpe of one word: the space-prefixed symbol
    string, each merge a leftmost non-overlapping ``str.replace``."""
    s = "".join(" " + ch for ch in word)
    for l, r in merges:
        s = s.replace(f" {l} {r}", f" {l}{r}")
    return s.lstrip(" ").split(" ")


def test_bpe_encode_and_fertility_run_a_1000_entry_merge_table(spark):
    """A production-sized merge table (learned pairs padded to 1000
    entries with pairs that never match) encodes, and both
    ``bpe_encode`` and ``bpe_fertility`` equal a pure-Python replay —
    a one-``F.replace``-per-merge chain overflowed the JVM stack while
    planning this.  Also: null text gives null outputs, a NUL inside a
    token encodes like any other character, a merge holding ``\n`` is
    a no-op, and string ids keep their type."""
    import collections
    import hashlib

    from pyspark.sql import types as T

    from genie_spark.analytics.text import (
        _bpe_train_histogram,
        bpe_encode,
        bpe_fertility,
    )

    texts = [
        " ".join(
            hashlib.md5(f"{i % 13}_{j}".encode()).hexdigest()[:5]
            for j in range(6)
        )
        for i in range(40)
    ] + ["a\x00b ab", "solo"]
    langs = ["en", "de", "fr"]
    rows = [(i, t, langs[i % 3]) for i, t in enumerate(texts)]
    rows.append((len(rows), None, "de"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    wf = collections.Counter(w for t in texts for w in t.split(" "))
    learned = [
        (m[1], m[2]) for m in _bpe_train_histogram(sorted(wf.items()), 40)
    ]
    assert len(learned) == 40
    pad = [(chr(0x4E00 + i), chr(0x4E00 + i + 1)) for i in range(959)]
    merges = learned[:20] + [("a\nb", "c")] + pad + learned[20:]
    assert len(merges) == 1000

    got = {
        r["doc_id"]: (r["bpe_tokens"], r["n_tokens"], r["n_subwords"])
        for r in bpe_encode(docs, merges).collect()
    }
    want = {}
    for i, t, _ in rows:
        if t is None:
            want[i] = (None, None, None)
            continue
        subs = [s for w in t.split(" ") for s in _bpe_replay(w, merges)]
        want[i] = (subs, len(t.split(" ")), len(subs))
    assert got == want
    assert "".join(got[40][0]) == "a\x00bab"  # NUL is a plain character

    fert = {
        r["lang"]: tuple(r)[1:]
        for r in bpe_fertility(docs, merges, group_col="lang").collect()
    }
    want_fert = {}
    for lang in langs:
        mine = [t for i, t, g in rows if g == lang]
        toks = [w for t in mine if t is not None for w in t.split(" ")]
        nt = len(toks)
        ns = sum(len(_bpe_replay(w, merges)) for w in toks)
        nc = sum(len(w) for w in toks)
        want_fert[lang] = (len(mine), nt, ns, nc, ns * 1000 // nt, nc * 1000 // ns)
    assert fert == want_fert

    sdocs = docs.where(F.col("text").isNotNull()).select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"), "text"
    )
    enc = bpe_encode(sdocs, merges)
    assert enc.schema["doc_id"].dataType == T.StringType()
    assert sorted((r["doc_id"], r["n_subwords"]) for r in enc.collect()) == sorted(
        (f"doc-{i}", want[i][2]) for i, t, _ in rows if t is not None
    )


def test_trainer_loops_and_encoder_split_every_character(spark):
    """U+0085 and U+2028 are not whitespace to ``tokens()`` (Java's
    ``\\s``), so they sit inside words.  Every trainer loop and the
    encoder must split them into their own symbols — a plain Java
    ``.`` skips them, which once glued them to their left neighbour in
    the vocabulary-table loops only, so the merge table depended on
    which loop ``n_merges`` routed to."""
    from genie_spark.analytics.text import (
        _collect_histogram,
        _word_counts,
        _wordpiece_train_histogram,
        _wordpiece_train_table,
        bpe_encode,
    )

    texts = ["x\u0085y x\u0085y x\u0085y", "a\u2028b a\u2028b", "ab"]
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    table, hist = _bpe_loops(docs, 4)
    assert table == hist
    assert table[0][1:3] == ("x", "\u0085")
    merges = [(m[1], m[2]) for m in table]
    enc = {r["doc_id"]: r["bpe_tokens"] for r in bpe_encode(docs, merges).collect()}
    for i, t in enumerate(texts):
        assert enc[i] == [s for w in t.split(" ") for s in _bpe_replay(w, merges)]
    split = {r["doc_id"]: r["bpe_tokens"] for r in bpe_encode(docs, []).collect()}
    assert split[1] == ["a", "\u2028", "b"] * 2

    words = _word_counts(docs, "text")
    wp_table = _wordpiece_train_table(words, 3)
    wp_hist = _wordpiece_train_histogram(_collect_histogram(words, 100, "test"), 3)
    assert wp_table == wp_hist
    assert wp_table[0][1:3] == ("##\u0085", "##y")


def _clustered_vectors(n=320, dim=16, n_clusters=8):
    """Deterministic clustered corpus (no RNG): 8 well-separated
    integer-grid centers + tiny deterministic within-cluster offsets —
    the data shape where residual PQ's mechanism (codebooks spend
    their budget on WITHIN-cell geometry) is visible."""
    rows = []
    for i in range(n):
        c = i % n_clusters
        center = [(((c * 37 + d * 11) % 7) - 3) * 0.5 for d in range(dim)]
        noise = [((((i * 13 + d * 29) % 5) - 2)) * 0.01 for d in range(dim)]
        rows.append((i, [center[d] + noise[d] for d in range(dim)]))
    return rows


def test_ivfpq_residual_candidate_restriction_law(spark):
    """X71 law: shrinking n_probe only RESTRICTS the candidate set —
    every pair returned at n_probe=2 appears at n_probe=8 (all cells)
    with the IDENTICAL adc_d2, and per-query ranks stay dense 1..n in
    the package total order."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.clustering import ivfpq_residual_topk

    df = spark.createDataFrame(
        _clustered_vectors(), "vec_id long, embedding array<float>"
    )
    kw = dict(k_neighbors=10_000, n_centroids=8, m=4, k=4, iters=2)
    full = {
        (r["query_id"], r["neighbor_id"]): r["adc_d2"]
        for r in ivfpq_residual_topk(
            df, F.col("vec_id") < 5, n_probe=8, **kw
        ).collect()
    }
    pruned = ivfpq_residual_topk(
        df, F.col("vec_id") < 5, n_probe=2, **kw
    ).collect()
    assert pruned
    by_q: dict = {}
    for r in pruned:
        assert full[(r["query_id"], r["neighbor_id"])] == r["adc_d2"]
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["adc_d2"]))
    for rows in by_q.values():
        rows.sort()
        assert [rk for rk, _ in rows] == list(range(1, len(rows) + 1))
        assert all(
            rows[i][1] <= rows[i + 1][1] for i in range(len(rows) - 1)
        )


def test_ivfpq_residual_beats_nonresidual_on_clustered_data(spark):
    """X71 mechanism (Jégou §V): on clustered data the residual
    codebooks encode only the small within-cell offsets, so at the
    SAME (m, k) budget residual IVF-PQ recalls the true neighbors the
    non-residual form cannot separate from the cluster centers.
    (On the near-uniform testdata embeddings the two are a measured
    wash — within-label variance is 98% of total; see BASELINE.md.)"""
    import numpy as np
    from pyspark.sql import functions as F

    from genie_spark.analytics.clustering import ivfpq_residual_topk, ivfpq_topk

    rows = _clustered_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # exact truth on quantized ints (the ADC target metric)
    V = np.floor(
        np.array([v for _, v in rows], dtype=np.float64) * 1000.0 + 0.5
    ).astype(np.int64)
    topk = 10
    truth = {}
    for qid in range(5):
        d2 = ((V - V[qid]) ** 2).sum(axis=1)
        order = sorted(
            (int(d), i) for i, d in enumerate(d2) if i != qid
        )[:topk]
        truth[qid] = {i for _, i in order}

    def recall(out):
        got: dict = {}
        for r in out.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        return hits / sum(len(t) for t in truth.values())

    kw = dict(
        k_neighbors=topk, n_centroids=8, n_probe=4, m=4, k=4, iters=2
    )
    r_res = recall(ivfpq_residual_topk(df, F.col("vec_id") < 5, **kw))
    r_raw = recall(ivfpq_topk(df, F.col("vec_id") < 5, **kw))
    assert r_res >= r_raw + 0.1, (r_res, r_raw)


def test_ccnet_buckets_terciles_and_carry(spark):
    """X72 CCNet bucketing: every scored doc lands in exactly one
    bucket consistent with its language's thresholds (head ≤ t_head <
    middle ≤ t_mid < tail), thresholds are per-language, lang rides
    the scoring aggregate (no join-back), sub-2-token docs are
    unscored, and reruns are identical."""
    import pytest
    from pyspark.sql import functions as F

    from genie_spark.analytics.text import ccnet_buckets, lm_surprisal_bigram

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model = docs.where(F.col("doc_id") % 50 != 0)
    out = ccnet_buckets(docs, model, sample_bp=10_000).collect()
    assert out
    langs = {r["lang"] for r in out}
    assert langs == {"en", "de", "es", "fr", "zh"}
    by_lang: dict = {}
    for r in out:
        assert r["bucket"] in ("head", "middle", "tail")
        t1, t2 = r["t_head_centibits"], r["t_mid_centibits"]
        assert t1 <= t2
        if r["bucket"] == "head":
            assert r["bpt_centibits"] <= t1
        elif r["bucket"] == "middle":
            assert t1 < r["bpt_centibits"] <= t2
        else:
            assert r["bpt_centibits"] > t2
        by_lang.setdefault(r["lang"], set()).add((t1, t2))
    # one threshold pair per language, pairs differ somewhere
    assert all(len(v) == 1 for v in by_lang.values())
    assert len({next(iter(v)) for v in by_lang.values()}) > 1
    # lang carried through the aggregate matches the source table
    src = {
        r["doc_id"]: r["lang"]
        for r in docs.select("doc_id", "lang").collect()
    }
    assert all(src[r["doc_id"]] == r["lang"] for r in out)
    # every bucket is populated for the biggest language
    en = {r["bucket"] for r in out if r["lang"] == "en"}
    assert en == {"head", "middle", "tail"}
    # deterministic rerun
    again = {
        (r["doc_id"], r["bucket"])
        for r in ccnet_buckets(docs, model, sample_bp=10_000).collect()
    }
    assert again == {(r["doc_id"], r["bucket"]) for r in out}
    with pytest.raises(ValueError, match="qs_milli"):
        ccnet_buckets(docs, model, qs_milli=(700, 300))
    with pytest.raises(ValueError, match="carry_cols"):
        lm_surprisal_bigram(docs, model, carry_cols=("n_bigrams",))


def test_ccnet_buckets_unsampled_language_kept(spark):
    """ADVICE r12 (medium): a language whose scored docs all miss the
    md5 threshold sample must NOT vanish — it is kept via a left join
    with NULL thresholds and the explicit bucket 'unsampled'.  Doc ids
    1-5 hash to md5 buckets >= 5000 (outside sample_bp=5000), 6-8 to
    < 5000 (inside) — precomputed from dedup's md5 bucket formula."""
    from genie_spark.analytics.text import ccnet_buckets

    rows = [
        (i, "xx", "alpha beta gamma delta epsilon") for i in (1, 2, 3, 4, 5)
    ] + [(i, "en", "one two three four five six") for i in (6, 7, 8)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = ccnet_buckets(docs, docs, sample_bp=5_000).collect()
    xx = [r for r in out if r["lang"] == "xx"]
    en = [r for r in out if r["lang"] == "en"]
    # every xx doc survives with NULL thresholds + explicit bucket
    assert len(xx) == 5
    assert all(r["bucket"] == "unsampled" for r in xx)
    assert all(
        r["t_head_centibits"] is None and r["t_mid_centibits"] is None
        for r in xx
    )
    # the sampled language still gets real terciles
    assert len(en) == 3
    assert all(r["bucket"] in ("head", "middle", "tail") for r in en)
    assert all(r["t_head_centibits"] is not None for r in en)
    # full sample => no unsampled bucket anywhere
    full = ccnet_buckets(docs, docs, sample_bp=10_000).collect()
    assert all(r["bucket"] != "unsampled" for r in full)
    assert len(full) == 8


def test_wordpiece_encode_greedy_longest_match(spark):
    """X73 WordPiece semantics (BERT inference): longest-match-first
    per position, ## continuations, whole-word [UNK] on any dead end
    or over-length word, zero-token and null-text handling, and the
    guard rails."""
    import pytest

    from genie_spark.analytics.text import wordpiece_encode

    vocab = ["s", "spark", "sp", "q", "##low", "##l", "##y", "##park"]
    rows = [
        (1, "spark"),          # longest head wins: spark (not sp/s)
        (2, "slowly"),         # s ##low ##l ##y (##low beats ##l)
        (3, "q qq"),           # q ok; qq dead-ends after q (##q absent)
        (4, "x"),              # no head match → [UNK]
        (5, "s" + "p" * 20),   # > 16 chars → [UNK]
        (6, ""),               # zero tokens
        (7, None),             # null text excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["wp_text"], r["n_words"], r["n_subwords"], r["n_unk_words"]
        )
        for r in wordpiece_encode(df, vocab).collect()
    }
    assert got[1] == ("spark", 1, 1, 0)
    assert got[2] == ("s ##low ##l ##y", 1, 4, 0)
    assert got[3] == ("q [UNK]", 2, 2, 1)
    assert got[4] == ("[UNK]", 1, 1, 1)
    assert got[5] == ("[UNK]", 1, 1, 1)
    assert got[6] == ("", 0, 0, 0)
    assert 7 not in got
    with pytest.raises(ValueError, match="empty vocab"):
        wordpiece_encode(df, [])
    with pytest.raises(ValueError, match="non-empty"):
        wordpiece_encode(df, ["a", "##"])
    # zero-exchange plan: scan → project → MapInPandas
    plan = (
        wordpiece_encode(df, vocab)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan
    assert "Exchange" not in plan, plan
    # ADVICE r14: id carried with its ORIGINAL type — string doc ids
    # must pass through unchanged (no ANSI long cast)
    sdf = df.where(F.col("text").isNotNull()).select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"), "text"
    )
    sgot = {
        r["doc_id"]: r["wp_text"]
        for r in wordpiece_encode(sdf, vocab).collect()
    }
    assert sgot["doc-1"] == "spark" and sgot["doc-2"] == "s ##low ##l ##y"
    assert dict(wordpiece_encode(sdf, vocab).dtypes)["doc_id"] == "string"


def test_wordpiece_coverage_slices_and_zero_guard(spark):
    """X74 coverage semantics: per-slice exact integer OOV rate and
    fertility; a slice the vocab cannot segment at all reads
    unk_ppm = 1e6; null-group rows are excluded; zero-word slices get
    NULL rates, not drops."""
    from genie_spark.analytics.text import wordpiece_coverage

    vocab = ["a", "b", "##a", "##b"]
    rows = [
        (1, "good", "ab ba"),     # fully covered: 2 words, 4 subwords
        (2, "good", "aa"),        # 1 word, 2 subwords
        (3, "bad", "xx yy"),      # nothing matches → 2 UNK
        (4, None, "ab"),          # null group excluded
        (5, "empty", ""),         # zero words → NULL rates
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {
        r["lang"]: r for r in wordpiece_coverage(df, vocab).collect()
    }
    assert set(got) == {"good", "bad", "empty"}
    g = got["good"]
    assert (g["n_docs"], g["n_words"], g["n_subwords"], g["n_unk_words"]) \
        == (2, 3, 6, 0)
    assert g["unk_ppm"] == 0 and g["fertility_milli"] == 2000
    b = got["bad"]
    assert b["unk_ppm"] == 1_000_000 and b["n_unk_words"] == 2
    assert b["fertility_milli"] == 1000  # each UNK word = 1 subword
    e = got["empty"]
    assert e["n_words"] == 0
    assert e["unk_ppm"] is None and e["fertility_milli"] is None


def _seq_wordpiece(texts, n_merges, scale=1_000_000_000):
    """Sequential WordPiece trainer reference (Schuster-Nakajima
    likelihood scoring, exact integer score_q, ## continuation
    convention) — the X78 oracle-of-record."""
    import collections

    wf = collections.Counter(w for t in texts for w in t.split())
    states = {}
    for w, f in wf.items():
        states[w] = (" " + w[0] + "".join(" ##" + c for c in w[1:]), f)
    merges = []
    for step in range(1, n_merges + 1):
        pc: collections.Counter = collections.Counter()
        uc: collections.Counter = collections.Counter()
        for s, f in states.values():
            syms = s.strip().split(" ")
            for sym in syms:
                uc[sym] += f
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        best = None
        for (l, r), c in pc.items():
            q = (c * scale) // (uc[l] * uc[r])
            key = (-q, l, r)
            if best is None or key < best[0]:
                best = (key, l, r, c, q)
        _, l, r, c, q = best
        merged = l + r[2:]
        merges.append((step, l, r, merged, c, q))
        states = {
            w: (s.replace(f" {l} {r}", f" {merged}"), f)
            for w, (s, f) in states.items()
        }
    return merges


def test_wordpiece_train_matches_model_and_roundtrips(spark):
    """X78: the trainer matches the sequential likelihood-scored
    reference exactly (including the case where WordPiece's rule
    picks a DIFFERENT merge than BPE's raw count — the defining
    distinction), and round-trips with X73: vocab = alphabet seed +
    merged pieces encodes the corpus with every emitted piece in the
    vocab and zero UNKs on in-alphabet words."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.text import (
        _collect_histogram,
        _word_counts,
        _wordpiece_train_histogram,
        wordpiece_alphabet,
        wordpiece_encode,
        wordpiece_train,
    )

    # (q,##u) appears only 2x but q and ##u appear nowhere else
    # (score 2/(2*2) = 0.5); (t,##h) appears 40x but t and ##h are
    # everywhere (score 40/(40*56)) — BPE's count rule picks (t,##h),
    # WordPiece's likelihood rule must pick (q,##u)
    texts = ["the that this than then myth both"] * 8 + ["qu"] * 2
    docs = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = [tuple(r) for r in wordpiece_train(docs, n_merges=6).collect()]
    want = _seq_wordpiece(texts, 6)
    assert got == want
    assert got[0][1] == "q"  # the likelihood rule, not the count rule
    # determinism
    again = [tuple(r) for r in wordpiece_train(docs, n_merges=6).collect()]
    assert again == got
    # the driver-side histogram loop (past the threshold) is byte-equal
    words = _word_counts(docs, "text")
    hist = _collect_histogram(words, 100, "test")
    assert _wordpiece_train_histogram(hist, 6) == want
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_vocab_rows"):
        wordpiece_train(docs, n_merges=257, max_vocab_rows=2)
    # round-trip with X73
    vocab = wordpiece_alphabet(docs) + [m[3] for m in got]
    enc = wordpiece_encode(docs, vocab)
    rows = enc.collect()
    assert rows and all(r["n_unk_words"] == 0 for r in rows)
    vocab_set = set(vocab)
    for r in rows:
        for piece in r["wp_text"].split(" "):
            assert piece in vocab_set, piece
    # the real corpus shape too: train on sf0.001 docs and round-trip
    sf_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(150).where(F.col("text").isNotNull())
    table = [tuple(r) for r in wordpiece_train(sf_docs, n_merges=5).collect()]
    assert len(table) == 5
    v2 = set(wordpiece_alphabet(sf_docs)) | {m[3] for m in table}
    enc2 = wordpiece_encode(sf_docs, sorted(v2), max_word_chars=32)
    for r in enc2.collect():
        for piece in r["wp_text"].split(" "):
            assert piece == "[UNK]" or piece in v2


def test_unigram_encode_viterbi_model_ties_and_unk(spark):
    """X79 Unigram-LM Viterbi encode: exact DP under integer scores —
    beats greedy longest-match where the vocabulary makes greedy
    suboptimal, resolves exact score ties by the smallest back-pointer
    (longest FINAL piece), UNKs unreachable/overlong words, and
    matches a sequential python DP on a real corpus slice."""
    import pytest
    from pyspark.sql import functions as F

    from genie_spark.analytics.text import unigram_encode

    # viterbi vs greedy: greedy longest-first takes ab|c (score -103);
    # the DP must take a|bc (score -4)
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "zz zz"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    v = {"a": -2, "ab": -1, "bc": -2, "c": -100, "z": -3}
    rows = {r["doc_id"]: r for r in unigram_encode(docs, v).collect()}
    assert rows[1]["unig_text"] == "a bc"
    assert rows[1]["score_milli"] == -4
    assert rows[1]["n_pieces"] == 2 and rows[1]["n_unk_words"] == 0
    # "zz" = z|z (-6) per word, two words
    assert rows[2]["unig_text"] == "z z z z"
    assert rows[2]["score_milli"] == -12
    assert 3 not in rows  # null text excluded
    assert rows[4]["unig_text"] == "" and rows[4]["n_words"] == 0
    # exact tie: a|bc and ab|c both score -10; smallest back-pointer
    # wins => the LONGEST final piece => a|bc
    tie = {"a": -4, "ab": -5, "bc": -6, "c": -5}
    t = unigram_encode(
        spark.createDataFrame([(1, "abc")], "doc_id long, text string"), tie
    ).collect()[0]
    assert t["unig_text"] == "a bc" and t["score_milli"] == -10
    # UNK: unreachable word and overlong word each count 1 piece, 0 score
    u = unigram_encode(
        spark.createDataFrame(
            [(1, "ax " + "a" * 20)], "doc_id long, text string"
        ),
        {"a": -1},
        max_word_chars=12,
    ).collect()[0]
    assert u["unig_text"] == "[UNK] [UNK]"
    assert u["n_unk_words"] == 2 and u["score_milli"] == 0
    with pytest.raises(ValueError, match="empty pieces"):
        unigram_encode(docs, {})
    with pytest.raises(ValueError, match="invalid piece"):
        unigram_encode(docs, {"a b": -1})
    # ADVICE r14 (low): id carried with its ORIGINAL type — string doc
    # ids must pass through unchanged (no ANSI long cast)
    sdocs = spark.createDataFrame(
        [("d-1", "abc"), ("d-2", "zz")], "doc_id string, text string"
    )
    srows = {r["doc_id"]: r for r in unigram_encode(sdocs, v).collect()}
    assert srows["d-1"]["unig_text"] == "a bc"
    assert srows["d-2"]["score_milli"] == -6
    assert dict(unigram_encode(sdocs, v).dtypes)["doc_id"] == "string"
    # sequential python DP cross-check on a real corpus slice
    from genie_spark.workload_analytics import UNIG_MAX_WORD, UNIGRAM_VOCAB

    sf_docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where(F.col("text").isNotNull() & (F.col("doc_id") < 60))
        .select("doc_id", "text")
    )
    got = {
        r["doc_id"]: (r["unig_text"], r["score_milli"], r["n_pieces"])
        for r in unigram_encode(
            sf_docs, UNIGRAM_VOCAB, max_word_chars=UNIG_MAX_WORD
        ).collect()
    }

    def model_word(w):
        if len(w) > UNIG_MAX_WORD:
            return None
        mp = max(len(p) for p in UNIGRAM_VOCAB)
        best = [None] * (len(w) + 1)
        back = [0] * (len(w) + 1)
        best[0] = 0
        for j in range(1, len(w) + 1):
            for i in range(max(0, j - mp), j):
                if best[i] is None or w[i:j] not in UNIGRAM_VOCAB:
                    continue
                cand = best[i] + UNIGRAM_VOCAB[w[i:j]]
                if best[j] is None or cand > best[j]:
                    best[j], back[j] = cand, i
        if best[len(w)] is None:
            return None
        out, pos = [], len(w)
        while pos > 0:
            out.append(w[back[pos]:pos])
            pos = back[pos]
        return list(reversed(out)), best[len(w)]

    for r in sf_docs.collect():
        segs, score = [], 0
        toks = [t for t in (r["text"] or "").split() if t]
        for w in toks:
            m = model_word(w)
            if m is None:
                segs.append("[UNK]")
            else:
                segs.extend(m[0])
                score += m[1]
        assert got[r["doc_id"]] == (" ".join(segs), score, len(segs))


def test_leakage_safe_split_components_never_straddle(spark):
    """X80: every near-dup component lands in ONE split (the leakage
    guarantee per-document hashing lacks — demonstrated: on the same
    pair graph the per-doc rule DOES straddle at least one component),
    singletons follow the plain md5 rule on their own id, and
    assignments are stable under corpus growth."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.corpus import (
        _uniform_bp,
        leakage_safe_split,
        train_split_shuffle,
    )

    docs = spark.range(400).select(F.col("id").alias("doc_id"))
    # components: chains of 4 over ids 0..199 (50 components), ids
    # 200..399 singletons
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 200, 4) for i in (i, i + 1, i + 2)][:150],
        "a long, b long",
    )
    out = leakage_safe_split(docs, pairs).collect()
    assert len(out) == 400
    by_rep: dict = {}
    for r in out:
        by_rep.setdefault(r["rep_id"], set()).add(r["split"])
    # the leakage guarantee: one split per component
    assert all(len(s) == 1 for s in by_rep.values())
    # chain heads: rep = min member = the 4k id
    for r in out:
        if r["doc_id"] < 200:
            assert r["rep_id"] == (r["doc_id"] // 4) * 4
        else:
            assert r["rep_id"] == r["doc_id"]
    # singleton split == the plain per-doc rule
    plain = {
        r["doc_id"]: r["split"]
        for r in train_split_shuffle(docs).collect()
    }
    for r in out:
        if r["doc_id"] >= 200:
            assert r["split"] == plain[r["doc_id"]]
    # the per-doc rule leaks on this graph (some component straddles)
    straddle: dict = {}
    for r in out:
        straddle.setdefault(r["rep_id"], set()).add(plain[r["doc_id"]])
    assert any(len(s) > 1 for s in straddle.values())
    # stability under growth: adding docs changes no prior assignment
    grown = leakage_safe_split(
        spark.range(600).select(F.col("id").alias("doc_id")), pairs
    ).collect()
    want = {(r["doc_id"], r["rep_id"], r["split"]) for r in out}
    assert want <= {(r["doc_id"], r["rep_id"], r["split"]) for r in grown}


def test_epoch_allocation_waterfill_model(spark):
    """X81: greedy integer water-filling matches a sequential model —
    allocations are proper epoch prefixes (strictly decreasing
    weights), the straddling candidate is admitted whole (X36 rule),
    zero-epoch domains stay in the report, and guards fire."""
    import pytest

    from genie_spark.analytics.corpus import epoch_allocation

    rows = (
        [(i, "web", "w " * 50) for i in range(10)]       # 500 tokens
        + [(100 + i, "code", "c " * 30) for i in range(5)]  # 150
        + [(200 + i, "forum", "f " * 8) for i in range(5)]  # 40
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budget = 900

    def model():
        u = {"web": 500, "code": 150, "forum": 40}
        ws = [1000, 700, 500, 300]
        cands = sorted(
            ((w, u[d], d) for w in ws for d in u),
            key=lambda t: (-t[0], t[1], t[2]),
        )
        cum, out = 0, {d: [0, 0] for d in u}
        for w, ud, d in cands:
            if cum < budget:
                out[d][0] += 1
                out[d][1] += w * ud
            cum += ud
        return {
            d: (u[d], e, e * u[d], util) for d, (e, util) in out.items()
        }

    got = {
        r["domain"]: (
            r["unique_tokens"], r["epochs"], r["tokens_used"],
            r["utility_milli"],
        )
        for r in epoch_allocation(docs, budget).collect()
    }
    assert got == model()
    # prefix property: epochs are dense counts 0..4
    assert all(0 <= v[1] <= 4 for v in got.values())
    # a zero budget still reports every domain at 0 epochs... except
    # the straddle rule admits the FIRST candidate only when budget>0
    z = {
        r["domain"]: r["epochs"]
        for r in epoch_allocation(docs, 0).collect()
    }
    assert set(z) == {"web", "code", "forum"} and all(v == 0 for v in z.values())
    with pytest.raises(ValueError, match="decreasing"):
        epoch_allocation(docs, 10, epoch_weights_milli=(500, 500))
    with pytest.raises(ValueError, match="negative"):
        epoch_allocation(docs, -1)


def test_leakage_split_store_query_equals_inline(spark):
    """r14 (VERDICT r13 item 5): the store-fed split workload query —
    per-batch component maps via ONE disjoint-union-tagged components
    pass, merged by the X82 law — produces byte-identical rows to the
    inline pairs= form on the same corpus (the merge-law contract a
    rolling release pipeline depends on)."""
    from genie_spark.workload_analytics import (
        corpus_leakage_safe_split,
        corpus_leakage_split_store,
    )

    sf = "/root/testdata/sf0.001"
    inline = sorted(
        tuple(r) for r in corpus_leakage_safe_split(spark, sf).collect()
    )
    store_fed = sorted(
        tuple(r) for r in corpus_leakage_split_store(spark, sf).collect()
    )
    assert store_fed == inline
    assert len(store_fed) == 500


def test_unigram_seed_vocab_scores_alphabet_and_fill(spark):
    """X84 seed-vocab semantics (SentencePiece MakeSeedSentencePieces):
    every occurrence POSITION counts (weighted by word freq), score =
    count*len, the single-char alphabet is ALWAYS kept, and the
    remaining slots fill with top multi-char pieces under
    (score DESC, piece ASC)."""
    import pytest

    from genie_spark.analytics.text import unigram_seed_vocab

    texts = ["abab"] * 3 + ["ab"] * 2 + ["zz"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    out = unigram_seed_vocab(docs, vocab_size=6, max_piece_len=3)
    rows = {
        r["piece"]: (r["piece_len"], r["n_hits"], r["score"], r["in_alphabet"])
        for r in out.collect()
    }
    # alphabet: a,b appear 2x in 'abab' (f=3) + 1x in 'ab' (f=2) = 8
    assert rows["a"] == (1, 8, 8, True)
    assert rows["b"] == (1, 8, 8, True)
    assert rows["z"] == (1, 2, 2, True)  # kept despite low score
    # multi-char fill (3 slots): ab=8 hits ('abab' has 2 positions),
    # score 16; aba/bab score 9; ba (score 6) and zz (2) miss the cut
    assert rows["ab"] == (2, 8, 16, False)
    assert rows["aba"] == (3, 3, 9, False)
    assert rows["bab"] == (3, 3, 9, False)
    assert len(rows) == 6 and "ba" not in rows and "zz" not in rows
    # vocab smaller than the alphabet: alphabet still complete
    small = unigram_seed_vocab(docs, vocab_size=2, max_piece_len=3)
    assert sorted(r["piece"] for r in small.collect()) == ["a", "b", "z"]
    with pytest.raises(ValueError, match="vocab_size"):
        unigram_seed_vocab(docs, vocab_size=0)


def test_random_projection_exact_values_and_nulls(spark):
    """X85 signed random projection: each output coordinate equals the
    exact integer dot of the quantized vector with the md5-derived
    ±1 plane (seeds 1..out_dim); null vectors project null; the plan
    is scan -> project (zero exchange, zero Python)."""
    import pytest

    from genie_spark.analytics.similarity import (
        _hyperplane,
        random_projection,
    )

    dim = 4
    vecs = [
        (1, [1.0, -2.0, 0.5, 3.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, None),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: r["rp"]
        for r in random_projection(
            df, out_dim=3, dim=dim
        ).collect()
    }
    planes = [_hyperplane(dim, 1 + j) for j in range(3)]
    q1 = [1000, -2000, 500, 3000]  # floor(x*1000 + 0.5)
    for j in range(3):
        assert out[1][j] == sum(s * v for s, v in zip(planes[j], q1))
        assert out[2][j] == 0
    assert out[3] is None or all(x is None for x in out[3])
    with pytest.raises(ValueError, match="out_dim"):
        random_projection(df, out_dim=0, dim=dim)
    plan = (
        random_projection(df, out_dim=3, dim=dim)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Python" not in plan, plan


def test_rrf_fuse_exact_scores_and_ties(spark):
    """X86 reciprocal rank fusion (Cormack et al. 2009): exact integer
    scale//(c+rank) scores summed per id, single-list ids fused too,
    ties broken on ascending id, the fused rank bounded by k."""
    import pytest

    from genie_spark.analytics.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, rank long"
    )
    dense = spark.createDataFrame(
        [(20, 1), (40, 2), (10, 3)], "doc_id long, rank long"
    )
    out = {
        r["doc_id"]: (
            r["rrf_q"], r["n_lists"], r["best_rank"], r["fused_rank"]
        )
        for r in rrf_fuse([lex, dense], c=60, k=4).collect()
    }
    s = lambda r: 1_000_000_000 // (60 + r)  # noqa: E731
    # doc 20: ranks 2+1; doc 10: ranks 1+3; doc 30/40 single-list
    assert out[20] == (s(2) + s(1), 2, 1, 1)
    assert out[10] == (s(1) + s(3), 2, 1, 2)
    assert out[40] == (s(2), 1, 2, 3)
    assert out[30] == (s(3), 1, 3, 4)
    # k truncates the fused list deterministically
    top2 = rrf_fuse([lex, dense], c=60, k=2).collect()
    assert sorted(r["doc_id"] for r in top2) == [10, 20]
    # exact-tie: identical rank multisets -> ascending id order
    a = spark.createDataFrame([(7, 1), (5, 2)], "doc_id long, rank long")
    b = spark.createDataFrame([(5, 1), (7, 2)], "doc_id long, rank long")
    tie = {r["doc_id"]: r["fused_rank"] for r in rrf_fuse([a, b], k=2).collect()}
    assert tie == {5: 1, 7: 2}
    with pytest.raises(ValueError, match="ranked list"):
        rrf_fuse([])


def test_webdataset_shards_content_order_and_determinism(spark, tmp_path):
    """X87 WebDataset tar sink: every doc lands exactly once, member
    order inside each tar is the shuffle order, split/shard assignment
    matches train_split_shuffle's md5 rule, and re-running the sink
    reproduces byte-identical archives (pinned tar metadata)."""
    import glob
    import hashlib
    import os
    import tarfile

    from genie_spark.analytics.corpus import (
        train_split_shuffle,
        write_webdataset_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"text-{i}" if i % 50 else None) for i in range(200)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "wds")
    write_webdataset_shards(docs, out, n_shards=4)

    want = {
        r["doc_id"]: (r["split"], r["shard"], r["shuffle_rank"])
        for r in train_split_shuffle(docs, n_shards=4).collect()
    }
    seen = {}
    for path in glob.glob(os.path.join(out, "*.tar")):
        base = os.path.basename(path)[: -len(".tar")]
        split, shard = base.rsplit("-", 1)
        with tarfile.open(path) as tf:
            names = tf.getnames()
            # member order IS shuffle order (zero-padded rank prefix)
            assert names == sorted(names)
            for n in names:
                rank_s, doc_s = n[: -len(".txt")].split("-", 1)
                did = int(doc_s)
                assert did not in seen
                seen[did] = (split, int(shard), int(rank_s))
                data = tf.extractfile(n).read().decode()
                assert data == (f"text-{did}" if did % 50 else "")
    assert seen == want
    # re-run -> byte-identical archives
    digests = {
        p: hashlib.md5(open(p, "rb").read()).hexdigest()
        for p in glob.glob(os.path.join(out, "*.tar"))
    }
    write_webdataset_shards(docs, out, n_shards=4)
    for p, d in digests.items():
        assert hashlib.md5(open(p, "rb").read()).hexdigest() == d


def test_webdataset_reader_roundtrip(spark, tmp_path):
    """X87 reader: read_webdataset inverts the sink — every (split,
    shard, rank, id, text) row comes back exactly, one task per shard
    archive."""
    from genie_spark.analytics.corpus import (
        read_webdataset,
        train_split_shuffle,
        write_webdataset_shards,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} text") for i in range(150)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "wds")
    write_webdataset_shards(docs, out, n_shards=3)
    back = read_webdataset(spark, out)
    got = {
        int(r["key"]): (r["split"], r["shard"], r["shuffle_rank"], r["text"])
        for r in back.collect()
    }
    want = {
        r["doc_id"]: (r["split"], r["shard"], r["shuffle_rank"])
        for r in train_split_shuffle(docs, n_shards=3).collect()
    }
    assert set(got) == set(want)
    for did, (split, shard, rank, text) in got.items():
        assert (split, shard, rank) == want[did]
        assert text == f"doc {did} text"


def test_ivf_store_build_query_append_parity(spark, tmp_path):
    """X88 IVF index store: (1) store_topk after build == ephemeral
    ivf_topk row-for-row (same centroid rule, same tie-breaks);
    (2) the inverted-list scan prunes to the probed cells via a
    PARTITION filter; (3) append assigns against the STORED centroids
    (geometry unchanged — FAISS add() semantics), the appended
    vectors are findable, and returned cosines are exact."""
    import math

    from genie_spark.analytics.ann_store import (
        ivf_store_append,
        ivf_store_build,
        ivf_store_topk,
    )
    from genie_spark.analytics.similarity import ivf_topk

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    store = str(tmp_path / "ivf")
    meta = ivf_store_build(emb, store, n_centroids=16)
    assert meta["n_centroids"] == 16
    queries = emb.where(F.col("vec_id") < 20)

    def rows(df):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
            for r in df.collect()
        )

    got = ivf_store_topk(spark, store, queries, k=10, n_probe=4)
    want = ivf_topk(emb, k=10, query_filter=F.col("vec_id") < 20)
    assert rows(got) == rows(want)

    # partition pruning: the cells scan carries cell IN (...) as a
    # partition filter, not a row predicate
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    # append: near-copies of two build vectors, ids in a fresh range
    base = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    new_rows = [
        (9001, [float(x) for x in base[3]]),
        (9002, [float(x) for x in base[7]]),
    ]
    new_df = spark.createDataFrame(
        new_rows, "vec_id long, embedding array<float>"
    )
    cents_before = sorted(
        tuple(r)
        for r in spark.read.parquet(store + "/centroids").collect()
    )
    ivf_store_append(new_df, store)
    cents_after = sorted(
        tuple(r)
        for r in spark.read.parquet(store + "/centroids").collect()
    )
    assert cents_after == cents_before  # geometry never re-trained
    cells = spark.read.parquet(store + "/cells")
    assert cells.where(F.col("vec_id") >= 9000).count() == 2
    assert cells.count() == emb.count() + 2

    # the appended exact copies surface at rank 1 with cosine 1.0
    q2 = emb.where(F.col("vec_id").isin([3, 7]))
    top = {
        r["query_id"]: r
        for r in ivf_store_topk(spark, store, q2, k=3, n_probe=4)
        .where(F.col("rank") == 1)
        .collect()
    }
    assert top[3]["neighbor_id"] == 9001
    assert top[7]["neighbor_id"] == 9002
    for q in (3, 7):
        assert math.isclose(top[q]["cosine"], 1.0, rel_tol=1e-12)


def test_sq8_codes_bounds_and_screen(spark):
    """X89: codes lie in 0..255; the trained-dim screen drops
    mis-sized vectors instead of mis-encoding them."""
    from genie_spark.analytics.similarity import sq8_codes, sq8_minmax

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    mn, mx = sq8_minmax(emb)
    assert len(mn) == 64 and len(mx) == 64
    assert all(a <= b for a, b in zip(mn, mx))
    codes = sq8_codes(emb, mn, mx)
    stats = codes.select(
        F.min(F.array_min("code")).alias("lo"),
        F.max(F.array_max("code")).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert stats["lo"] >= 0 and stats["hi"] <= 255
    assert stats["n"] == emb.count()
    # a mis-sized vector is screened out, not encoded
    bad = spark.createDataFrame(
        [(9001, [0.1, 0.2])], "vec_id long, embedding array<float>"
    )
    assert sq8_codes(bad, mn, mx).count() == 0


def test_sq8_topk_recall_vs_exact(spark):
    """X89 sanity: symmetric SQ8 search is an approximation, but on
    real embeddings the byte codes must keep most of the exact
    top-10 (recall@10 >= 0.6 corpus-wide here) — the property that
    makes the codec usable, not just runnable."""
    from genie_spark.analytics.similarity import cosine_topk, sq8_topk

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    flt = F.col("vec_id") < 10
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, k=10, query_filter=flt).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sq8_topk(emb, k=10, query_filter=flt).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.6


def test_sq8_topk_query_size_guard(spark):
    from genie_spark.analytics.similarity import sq8_topk

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        sq8_topk(emb, k=3, max_query_rows=5)


def test_prefix_rerank_full_m_equals_exact(spark):
    """X90 collapse law: with m >= corpus size stage 1 keeps every
    candidate, so the rerank IS the exact brute-force ranking —
    prefix_rerank_topk must equal cosine_topk row-for-row."""
    from genie_spark.analytics.similarity import (
        cosine_topk,
        prefix_rerank_topk,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    flt = F.col("vec_id") < 10
    n = emb.count()
    got = sorted(
        tuple(r)
        for r in prefix_rerank_topk(
            emb, prefix_dim=16, m=n, k=10, query_filter=flt
        ).collect()
    )
    want = sorted(
        tuple(r) for r in cosine_topk(emb, k=10, query_filter=flt).collect()
    )
    assert got == want


def test_prefix_rerank_candidate_discipline(spark):
    """X90 funnel shape: with a small m every returned neighbor must
    be a stage-1 candidate (rank <= k <= m rows per query), and the
    guard rejects corpus-sized query sets."""
    from genie_spark.analytics.similarity import prefix_rerank_topk

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    flt = F.col("vec_id") < 5
    out = prefix_rerank_topk(
        emb, prefix_dim=16, m=12, k=10, query_filter=flt
    )
    per = (
        out.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"), F.max("rank").alias("mr"))
        .collect()
    )
    assert per and all(r["n"] <= 10 and r["mr"] <= 10 for r in per)
    with pytest.raises(ValueError, match="max_query_rows"):
        prefix_rerank_topk(emb, m=12, k=3, max_query_rows=2)


def test_ivf_store_topk_query_size_guard(spark, tmp_path):
    """VERDICT r14 item 2: the store probe path collects the probe
    cells driver-side, so the query frame is small BY CONTRACT — the
    ``max_query_rows`` guard turns that contract into a loud runtime
    raise instead of an unbounded collect."""
    import pytest

    from genie_spark.analytics.ann_store import ivf_store_build, ivf_store_topk

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    store = str(tmp_path / "ivf_guard")
    ivf_store_build(emb, store, n_centroids=8)
    queries = emb.where(F.col("vec_id") < 20)
    with pytest.raises(ValueError, match="max_query_rows"):
        ivf_store_topk(
            spark, store, queries, k=3, n_probe=2, max_query_rows=5
        )
    # None disables the guard; the tiny frame still answers
    assert (
        ivf_store_topk(
            spark, store, queries, k=3, n_probe=2, max_query_rows=None
        ).count()
        > 0
    )


def test_disjoint_union_tag_untag_exact_at_big_ids(spark):
    """r14 code-review regression: the store-fed split's node*4+shard
    tag must round-trip through components and `div 4` untagging
    EXACTLY for ids past 2^52 — floor(x/4) via double division
    silently corrupts there (53-bit mantissa), which would scatter one
    component across splits at web-scale id domains."""
    from genie_spark.analytics.dedup import connected_components

    big = (1 << 60) + 12345
    pairs = spark.createDataFrame(
        [(big, big + 1), (big + 1, big + 2), ((1 << 52) + 1, (1 << 52) + 5)],
        "a long, b long",
    )
    shard = F.pmod(F.col("a"), F.lit(3))
    tagged = pairs.select(
        (F.col("a") * 4 + shard).alias("a"),
        (F.col("b") * 4 + shard).alias("b"),
    )
    store = connected_components(tagged).select(
        F.expr("node div 4").alias("node"),
        F.expr("cluster_id div 4").alias("cluster_id"),
    )
    got = {r["node"]: r["cluster_id"] for r in store.collect()}
    # every untagged node is one of the ORIGINAL ids, bit-exact
    originals = {big, big + 1, big + 2, (1 << 52) + 1, (1 << 52) + 5}
    assert set(got) == originals
    assert got[(1 << 52) + 5] == (1 << 52) + 1
    # the double-division form really is broken at this domain — pin
    # the counterexample that motivated the integer div: node 2^52+1,
    # shard 2 untags to the WRONG id under floor(x/4)
    x = ((1 << 52) + 1) * 4 + 2
    bad = spark.createDataFrame([(x,)], "x long").select(
        F.floor(F.col("x") / 4).cast("long").alias("y")
    ).collect()[0]["y"]
    assert bad != (1 << 52) + 1


def _pr_model(edges, iters=3, dm=850, scale=1_000_000):
    """Sequential reference model of analytics/graph.pagerank — the
    same integer recurrence in plain Python."""
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    deg = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    r = {n: scale for n in nodes}
    base = (scale * (1000 - dm)) // 1000
    for _ in range(iters):
        s = {n: 0 for n in nodes}
        for a, b in edges:
            s[b] += r[a] // deg[a]
        r = {n: base + (dm * s[n]) // 1000 for n in nodes}
    return r


def test_pagerank_ring_uniform_and_star(spark):
    """X91: on a directed ring every node keeps the uniform rank at
    every iteration (rank is a fixed point there); on a star all mass
    concentrates on the hub; both match the sequential integer model
    exactly."""
    from genie_spark.analytics.graph import pagerank

    ring = [(i, (i + 1) % 5) for i in range(5)]
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            spark.createDataFrame(ring, "src long, dst long")
        ).collect()
    }
    assert got == _pr_model(ring)
    assert len(set(got.values())) == 1  # uniform fixed point

    star = [(i, 0) for i in range(1, 6)]
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            spark.createDataFrame(star, "src long, dst long")
        ).collect()
    }
    want = _pr_model(star)
    assert got == want
    assert got[0] == max(got.values()) and got[0] > got[1]
    # leaves are sinks (dangling): their rank decays to the base floor
    assert got[1] == min(got.values())


def test_pagerank_matches_model_on_random_graph(spark):
    """X91: exact trajectory parity with the sequential model on a
    deterministic pseudo-random multigraph (duplicate edges kept)."""
    from genie_spark.analytics.graph import pagerank

    edges = [((i * 7) % 23, (i * 13 + 5) % 23) for i in range(80)]
    edges += edges[:10]  # duplicates — multigraph semantics
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            spark.createDataFrame(edges, "src long, dst long"),
            iters=4,
            damping_milli=850,
        ).collect()
    }
    assert got == _pr_model(edges, iters=4)


def test_pagerank_validation(spark):
    from genie_spark.analytics.graph import pagerank

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="iters"):
        pagerank(df, iters=0)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping_milli=1500)


def test_triangle_count_known_graphs(spark):
    """X92: K4 has 4 triangles; a path has 0; duplicate / reversed /
    self-loop edges collapse before counting; node and edge counts
    come from the canonical simple graph."""
    from genie_spark.analytics.graph import triangle_count

    def run(edges):
        r = triangle_count(
            spark.createDataFrame(edges, "src long, dst long")
        ).first()
        return (r["n_nodes"], r["n_edges"], r["n_triangles"])

    k4 = [(i, j) for i in range(4) for j in range(4) if i < j]
    assert run(k4) == (4, 6, 4)
    # noisy form of the same K4: reversed duplicates + self loops
    noisy = k4 + [(j, i) for i, j in k4] + [(0, 0), (3, 3)]
    assert run(noisy) == (4, 6, 4)
    path = [(0, 1), (1, 2), (2, 3)]
    assert run(path) == (4, 3, 0)
    # two triangles sharing an edge (the "bowtie on an edge")
    bow = [(0, 1), (1, 2), (0, 2), (2, 3), (1, 3)]
    assert run(bow) == (4, 5, 2)
    # a skewed star (hub + leaves) has no triangles; hub degree must
    # not blow the wedge set (degree orientation points AT the hub)
    star = [(0, i) for i in range(1, 30)]
    assert run(star) == (30, 29, 0)
