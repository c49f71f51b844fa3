"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with a typed metadata struct; the
heavy per-item work (decode, resize, feature-extract, frame-sample)
runs as Arrow-batched Pandas UDFs over ``mapInPandas`` so bytes never
round-trip through row-at-a-time Python.

Decoding is layered: ``StdlibDecoder`` REALLY decodes the codec-free
container formats (binary PPM/PGM images, 16-bit PCM WAV audio) with
stdlib ``struct`` + numpy — dims, channel means, RMS are genuine
content features — while compressed formats (JPEG/PNG/MP3/MP4) remain
behind a documented ``NotImplementedError`` stub
(``DeterministicFakeDecoder``) because their codecs are not in this
container.  The Spark-side contract — schema, batch iteration,
partitioning, UDF signature — is identical for both, so a PIL/ffmpeg
decoder drops in without touching the plumbing.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from genie_spark.session import local_rows_df

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("mime", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = "media_id long, n_bytes long, content_sha int, feature array<float>"


class DeterministicFakeDecoder:
    """Stand-in decoder: derives a small feature vector from the byte
    content hash.  Deterministic so tests are stable; raises on real
    decode requests to make the stub boundary explicit."""

    def __init__(self, dim: int = 8):
        self.dim = dim

    def features(self, content: bytes) -> list[float]:
        h = hashlib.sha256(content or b"").digest()
        return [h[i] / 255.0 for i in range(self.dim)]

    def decode(self, content: bytes):
        raise NotImplementedError(
            "real media decode requires PIL/ffmpeg — not in this container"
        )


class StdlibDecoder:
    """REAL decoder for the uncompressed container formats that need no
    external codec: binary PPM (P6) / PGM (P5) images and PCM WAV
    audio — parsed with stdlib ``struct`` + numpy.  Compressed formats
    (JPEG/PNG/MP3/MP4) still raise ``NotImplementedError``; a production
    deployment layers a PIL/ffmpeg decoder behind the same interface.

    ``decode`` returns (kind, array): images as a (h, w, channels)
    uint8 array, audio as a (samples, channels) int16 array.
    ``features`` is an 8-dim summary (dims + per-channel means) so the
    pipeline produces REAL content-derived features for supported
    formats.
    """

    def decode(self, content: bytes):
        import numpy as np

        if not content:
            raise ValueError("empty media content")
        if content[:2] in (b"P6", b"P5"):
            return ("image", self._decode_pnm(content, np))
        if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
            return ("audio", self._decode_wav(content, np))
        raise NotImplementedError(
            "only PPM/PGM images and PCM WAV audio decode without external "
            "codecs; plug a PIL/ffmpeg decoder for compressed formats"
        )

    @staticmethod
    def _decode_pnm(content: bytes, np):
        # header: magic, whitespace/comment-separated width height maxval
        fields: list[bytes] = []
        i = 2
        while len(fields) < 3:
            while i < len(content) and content[i : i + 1].isspace():
                i += 1
            if content[i : i + 1] == b"#":  # comment to end of line
                while i < len(content) and content[i : i + 1] != b"\n":
                    i += 1
                continue
            j = i
            while j < len(content) and not content[j : j + 1].isspace():
                j += 1
            fields.append(content[i:j])
            i = j
        i += 1  # single whitespace after maxval, then raster
        w, h, maxval = (int(f) for f in fields)
        if maxval > 255:
            raise NotImplementedError("16-bit PNM not supported")
        channels = 3 if content[:2] == b"P6" else 1
        raster = np.frombuffer(content, dtype=np.uint8, count=w * h * channels, offset=i)
        return raster.reshape(h, w, channels)

    @staticmethod
    def _decode_wav(content: bytes, np):
        import struct

        pos, n_channels, bits, data = 12, None, None, None
        while pos + 8 <= len(content):
            cid, size = struct.unpack_from("<4sI", content, pos)
            body = content[pos + 8 : pos + 8 + size]
            if cid == b"fmt ":
                fmt_code, n_channels = struct.unpack_from("<HH", body, 0)
                bits = struct.unpack_from("<H", body, 14)[0]
                if fmt_code != 1 or bits != 16:
                    raise NotImplementedError("only 16-bit PCM WAV supported")
            elif cid == b"data":
                data = body
            pos += 8 + size + (size & 1)  # chunks are word-aligned
        if data is None or n_channels is None:
            raise ValueError("WAV missing fmt/data chunk")
        samples = np.frombuffer(
            data, dtype="<i2", count=len(data) // 2 // n_channels * n_channels
        )
        return samples.reshape(-1, n_channels)

    def features(self, content: bytes) -> list[float]:
        try:
            kind, arr = self.decode(content)
        except NotImplementedError:
            # unsupported codec: fall back to the content-hash feature
            # so mixed corpora still flow end-to-end
            return DeterministicFakeDecoder().features(content)
        if kind == "image":
            h, w, c = arr.shape
            means = [float(arr[:, :, i].mean()) / 255.0 for i in range(c)]
            means += [0.0] * (3 - len(means))
            return [float(h), float(w), float(c), *means, 0.0, 1.0]
        # audio: duration-ish + per-channel RMS
        n, c = arr.shape
        rms = [
            float((arr[:, i].astype("float64") ** 2).mean() ** 0.5) / 32768.0
            for i in range(c)
        ]
        rms += [0.0] * (2 - len(rms))
        return [float(n), float(c), *rms[:2], 0.0, 0.0, 0.0, 2.0]

    def resize(self, content: bytes, width: int, height: int) -> bytes:
        """Real nearest-neighbor resize for PNM images, re-encoded as
        PNM — the ``resize_fn`` signature ``resize_media`` expects."""
        import numpy as np

        kind, arr = self.decode(content)
        if kind != "image":
            raise ValueError("resize only applies to images")
        h0, w0, c = arr.shape
        rows = np.arange(height) * h0 // height
        cols = np.arange(width) * w0 // width
        out = arr[rows][:, cols]
        magic = b"P6" if c == 3 else b"P5"
        return magic + f"\n{width} {height}\n255\n".encode() + out.tobytes()


class PillowDecoder(StdlibDecoder):
    """Optional-dependency decoder: layers Pillow (JPEG/PNG/WebP/…) and
    ``soundfile`` (FLAC/OGG/…) behind the same ``decode``/``features``/
    ``resize`` interface as :class:`StdlibDecoder`.  Stdlib formats
    (PNM, PCM WAV) decode exactly as before; compressed formats decode
    for real when the optional lib is importable and raise the same
    documented ``NotImplementedError`` when it is not — so this class
    is always safe to instantiate and degrades to ``StdlibDecoder``
    in a bare container.

    The libraries are imported lazily PER EXECUTOR (inside the Pandas
    UDF worker), never pickled from the driver: the instance holds only
    booleans, keeping the closure Arrow-serializable.
    """

    @staticmethod
    def pil_available() -> bool:
        try:
            import PIL.Image  # noqa: F401

            return True
        except ImportError:
            return False

    @staticmethod
    def soundfile_available() -> bool:
        try:
            import soundfile  # noqa: F401

            return True
        except ImportError:
            return False

    def decode(self, content: bytes):
        import numpy as np

        try:
            return super().decode(content)
        except NotImplementedError as stdlib_err:
            # image via Pillow
            try:
                import io

                from PIL import Image, UnidentifiedImageError

                try:
                    with Image.open(io.BytesIO(content)) as im:
                        if im.mode not in ("L", "RGB"):
                            im = im.convert("RGB")
                        arr = np.asarray(im)
                        if arr.ndim == 2:
                            arr = arr[:, :, None]
                        return ("image", arr)
                except UnidentifiedImageError:
                    pass  # not an image — try audio below
                except Exception:
                    # recognized image but undecodable (truncated scan,
                    # decompression bomb, …): fall through so the row
                    # degrades to the hash feature instead of one bad
                    # file aborting the whole mapInPandas job
                    pass
            except ImportError:
                pass
            # audio via soundfile
            try:
                import io

                import soundfile as sf

                try:
                    data, _rate = sf.read(io.BytesIO(content), dtype="int16")
                    if data.ndim == 1:
                        data = data[:, None]
                    return ("audio", data)
                except Exception:
                    pass  # soundfile raises RuntimeError on unknown bytes
            except ImportError:
                pass
            raise stdlib_err

    def resize(self, content: bytes, width: int, height: int) -> bytes:
        """PNM resizes via the stdlib path; compressed images resize
        with Pillow and re-encode as PNG (a lossless, universally
        readable target — re-encoding lossy JPEG would stack
        generation loss).  Mirrors the parent contract: missing Pillow
        → the documented NotImplementedError, non-image bytes →
        ValueError."""
        if content[:2] in (b"P6", b"P5"):
            return super().resize(content, width, height)
        import io

        try:
            from PIL import Image, UnidentifiedImageError
        except ImportError:
            raise NotImplementedError(
                "resizing compressed images requires Pillow; only PNM "
                "resizes with stdlib code"
            ) from None

        try:
            with Image.open(io.BytesIO(content)) as im:
                out = io.BytesIO()
                im.resize((width, height), Image.NEAREST).save(out, format="PNG")
                return out.getvalue()
        except UnidentifiedImageError:
            raise ValueError("resize only applies to images") from None


class AVDecoder(PillowDecoder):
    """Optional-dependency decoder completing the codec ladder: PyAV
    (ffmpeg bindings — MP3/MP4/MKV/WebM…) behind the same
    ``decode``/``features`` interface, layered OVER
    :class:`PillowDecoder` (which itself layers over
    :class:`StdlibDecoder`).  Stdlib and Pillow/soundfile formats
    decode exactly as before; compressed audio/video decodes for real
    when ``av`` is importable and raises the documented
    ``NotImplementedError`` when it is not — always safe to
    instantiate, degrades gracefully in a bare container.

    ``decode`` adds a third kind: videos return
    ``("video", frames)`` with ``frames`` a (n≤max_frames, h, w, 3)
    uint8 array (the head of the stream — a feature probe, not a full
    decode); audio-only containers return the usual
    ``("audio", (samples, channels) int16)``.  Like the parent, the
    library import happens lazily per executor; the instance carries
    only plain ints, keeping the closure Arrow-serializable.
    """

    def __init__(self, max_frames: int = 8):
        self.max_frames = max_frames

    @staticmethod
    def av_available() -> bool:
        try:
            import av  # noqa: F401

            return True
        except ImportError:
            return False

    def decode(self, content: bytes):
        import numpy as np

        try:
            return super().decode(content)
        except NotImplementedError as prior_err:
            try:
                import io

                import av
            except ImportError:
                raise prior_err from None
            try:
                with av.open(io.BytesIO(content)) as container:
                    if any(s.type == "video" for s in container.streams):
                        frames = []
                        for frame in container.decode(video=0):
                            frames.append(frame.to_ndarray(format="rgb24"))
                            if len(frames) >= self.max_frames:
                                break
                        if frames:
                            return ("video", np.stack(frames))
                    if any(s.type == "audio" for s in container.streams):
                        chunks = []
                        for aframe in container.decode(audio=0):
                            arr = aframe.to_ndarray()
                            if arr.dtype.kind == "f":
                                arr = np.clip(arr * 32768.0, -32768, 32767)
                            arr = arr.astype("int16")
                            n_ch = len(aframe.layout.channels)
                            if aframe.format.is_planar:
                                # (channels, samples) planes → (samples, ch)
                                chunk = arr.T
                            else:
                                # packed: (1, samples·channels) interleaved
                                chunk = arr.reshape(-1, n_ch)
                            chunks.append(chunk)
                        if chunks:
                            return ("audio", np.concatenate(chunks, axis=0))
            except Exception:
                pass  # not an av-readable container — keep the contract
            raise prior_err

    def features(self, content: bytes) -> list[float]:
        try:
            kind, arr = self.decode(content)
        except NotImplementedError:
            return DeterministicFakeDecoder().features(content)
        if kind != "video":
            # delegate image/audio to the shared summary shapes
            return super().features(content)
        n, h, w, _c = arr.shape
        means = [float(arr[:, :, :, i].mean()) / 255.0 for i in range(3)]
        return [float(n), float(h), float(w), *means, 0.0, 3.0]

    def frame_fn(self, every_ms: int = 1000):
        """A ``sample_frames``-compatible callable: frame i is the
        first video frame at/after ``i·every_ms``, re-encoded as
        binary PPM (P6) with stdlib code — so the sampled frames feed
        straight back into ``StdlibDecoder``-based feature passes with
        no extra codec dependency.

        Degrade-don't-abort (the module's contract): when the
        container's metadata duration overstates the decodable stream
        (so no frame exists at/after the target), the LAST decoded
        frame is returned; a completely undecodable payload returns
        empty bytes — one bad row must never abort the whole
        mapInPandas job.  Each call re-opens and decodes the stream
        head (O(frames) per sampled index — a documented simplicity
        trade; a production sampler would seek by pts or emit all
        indices in one pass)."""

        def fn(content: bytes, i: int) -> bytes:
            import io

            import av

            target_s = i * every_ms / 1000.0
            last = None
            try:
                with av.open(io.BytesIO(content or b"")) as container:
                    for frame in container.decode(video=0):
                        last = frame
                        if frame.time is not None and frame.time < target_s:
                            continue
                        break
            except Exception:
                return b""
            if last is None:
                return b""
            arr = last.to_ndarray(format="rgb24")
            h, w, _ = arr.shape
            return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()

        return fn


def extract_features(
    media: DataFrame,
    decode_fn: Callable[[bytes], list[float]] | None = None,
    batch_schema: str = FEATURE_SCHEMA,
) -> DataFrame:
    """Feature extraction over the binary column via mapInPandas:
    Arrow-batched, one pandas DataFrame per partition chunk — the
    shape real decoders plug into."""
    fn = decode_fn or DeterministicFakeDecoder().features

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            feats = [fn(c if c is not None else b"") for c in pdf["content"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [len(c) if c is not None else 0 for c in pdf["content"]],
                    "content_sha": [
                        int.from_bytes(
                            hashlib.sha256(c or b"").digest()[:3], "big"
                        )
                        for c in pdf["content"]
                    ],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=batch_schema)


RESIZED_SCHEMA = (
    "media_id long, media_type string, content binary, "
    "width int, height int, mime string"
)


def resize_media(
    media: DataFrame,
    width: int,
    height: int,
    resize_fn: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """Resize the binary payload to (width, height) via mapInPandas.

    The default ``resize_fn`` is the deterministic fake (content-hash
    bytes sized ∝ the target area, so tests can assert the contract);
    a real deployment passes a PIL-backed callable with the same
    signature.  Metadata is updated to the target dimensions — the
    Spark-side contract the fake and the real decoder share."""
    fn = resize_fn or (
        lambda c, w, h: (hashlib.sha256(c or b"").digest() * (1 + (w * h) // 8192))[
            : max(1, (w * h) // 256)
        ]
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "content": [
                        fn(c if c is not None else b"", width, height)
                        for c in pdf["content"]
                    ],
                    "width": width,
                    "height": height,
                    "mime": [m["mime"] if m is not None else None for m in pdf["meta"]],
                }
            )

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = "media_id long, frame_idx int, ts_ms long, frame binary"


def sample_frames(
    media: DataFrame,
    every_ms: int = 1000,
    frame_fn: Callable[[bytes, int], bytes] | None = None,
) -> DataFrame:
    """Sample one frame per ``every_ms`` from video rows — a one-to-many
    mapInPandas (each input row fans out to duration/every_ms frame
    rows).  The frame extraction itself is the stub boundary (an
    ffmpeg-backed callable in production); the fan-out shape, schema
    and partition behavior are real."""
    fn = frame_fn or (
        lambda c, i: hashlib.sha256((c or b"") + i.to_bytes(4, "big")).digest()
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for mid, mtype, content, meta in zip(
                pdf["media_id"], pdf["media_type"], pdf["content"], pdf["meta"]
            ):
                if mtype != "video" or meta is None:
                    continue
                duration = meta["duration_ms"] or 0
                for i in range(int(duration // every_ms)):
                    ids.append(mid)
                    idxs.append(i)
                    tss.append(i * every_ms)
                    frames.append(fn(content, i))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "ts_ms": tss, "frame": frames}
            )

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


def synthesize_media(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media table for tests (binary payload derived
    from the id)."""
    rows = []
    for i in range(n):
        payload = hashlib.sha256(str(i).encode()).digest() * (1 + i % 5)
        mtype = ["image", "audio", "video"][i % 3]
        rows.append(
            (
                i,
                mtype,
                bytearray(payload),
                (64 + i % 512, 64 + (i * 7) % 512, 1000 * (i % 90), f"x/{mtype}"),
            )
        )
    return local_rows_df(spark, rows, MEDIA_SCHEMA)


def image_ahash(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    grid: int = 8,
) -> DataFrame:
    """Perceptual average-hash over an image binary column (the
    classic aHash): REAL decode (``StdlibDecoder`` — binary PPM/PGM
    parse into a numpy raster), nearest-neighbor downsample to
    ``grid``×``grid``, channel mean by integer floor-division, and one
    bit per cell — set iff ``pixel·grid² > Σ pixels`` (strict, exact
    integer — no float mean, so a SQL oracle reproduces the hash
    bit-for-bit on images whose pixels it can derive).  Bit j is the
    row-major cell j with weight 2^j; returns (id, ahash long).

    Rows whose content fails to decode (null, empty, or a compressed
    codec behind the ``NotImplementedError`` stub) are OMITTED — the
    same degenerate-row policy as the Arrow k-means/signature engines.

    Feed the result to ``dedup.hamming_near_dup_pairs`` for exact
    banded near-dup search: near-identical images differ in few cells,
    so their hashes sit within a small Hamming distance, while the
    expected distance of unrelated images is grid²/2.
    """
    if not 2 <= grid <= 8:
        raise ValueError(f"image_ahash: grid={grid} outside [2, 8] (bits ≤ 64)")
    decoder = StdlibDecoder()

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, hashes = [], []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                if content is None or len(content) == 0:
                    continue
                # broad catch ON PURPOSE: the omit-degenerates contract
                # must hold for ANY malformed container (truncated fmt
                # chunk → struct.error, 0×0 raster → IndexError, …) —
                # one corrupt file in a corpus must not fail the task
                # (code-review r8)
                try:
                    kind, arr = decoder.decode(bytes(content))
                    if kind != "image" or arr.size == 0:
                        continue
                    h0, w0, c = arr.shape
                    rows = np.arange(grid) * h0 // grid
                    cols = np.arange(grid) * w0 // grid
                    cells = arr[rows][:, cols].astype(np.int64)
                    gray = cells.sum(axis=2) // c  # integer channel mean
                    flat = gray.ravel()            # row-major cell order
                    total = int(flat.sum())
                    bits = flat * (grid * grid) > total
                    # signed-64 two's complement: bit 63 (grid=8)
                    # carries weight −2^63, so the long stays
                    # representable and the band/mask arithmetic
                    # matches the SQL mirror exactly
                    ahash = int(
                        sum(1 << j for j, b in enumerate(bits[:63]) if b)
                    )
                    if len(bits) > 63 and bits[63]:
                        ahash -= 1 << 63
                except Exception:
                    continue
                ids.append(mid)
                hashes.append(ahash)
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="int64"),
                 "ahash": pd.Series(hashes, dtype="int64")}
            )

    return media.select(id_col, content_col).mapInPandas(
        run, schema=f"{id_col} long, ahash long"
    )


def audio_fingerprint(
    media: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    n_windows: int = 64,
) -> DataFrame:
    """Energy-window audio fingerprint over a WAV binary column — the
    audio analog of ``image_ahash``: REAL decode (``StdlibDecoder`` —
    16-bit PCM WAV parse), mono-mix by integer channel sum, split the
    samples into ``n_windows`` equal windows, and one bit per window —
    set iff ``window_energy · n_windows > total_energy`` (strict,
    exact Python-int arithmetic: energies are Σ s² of int samples, no
    float RMS, so a SQL oracle reproduces the fingerprint bit-for-bit
    on audio whose samples it can derive).  Bit w is window w with
    weight 2^w (two's-complement signed-64 at ``n_windows=64``, same
    convention as ``image_ahash``); returns (id, afp long).

    Rows that fail to decode (null, empty, compressed codecs behind
    the ``NotImplementedError`` stub) or carry fewer samples than
    windows are OMITTED.  Feed the result to
    ``dedup.hamming_near_dup_pairs``: a re-encode or small edit moves
    few window energies across the global-mean threshold, so
    near-identical clips sit within a small Hamming distance while
    unrelated clips average n_windows/2.
    """
    if not 8 <= n_windows <= 64:
        raise ValueError(
            f"audio_fingerprint: n_windows={n_windows} outside [8, 64]"
        )
    decoder = StdlibDecoder()

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, prints = [], []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                if content is None or len(content) == 0:
                    continue
                # broad catch ON PURPOSE: omit-degenerates must hold
                # for ANY malformed container (0-channel fmt chunk →
                # ZeroDivisionError, truncated chunk → struct.error)
                # rather than fail the task (code-review r8)
                try:
                    kind, arr = decoder.decode(bytes(content))
                    if kind != "audio" or arr.shape[0] < n_windows:
                        continue
                    mono = arr.astype(np.int64).sum(axis=1)
                    n = mono.shape[0]
                    m = int(np.abs(mono).max()) if n else 0
                    if n * m * m < 2**62:
                        # int64-safe: squares ≤ m², window sums < 2^62
                        sq = mono * mono
                        energies = [
                            int(sq[w * n // n_windows:(w + 1) * n // n_windows].sum())
                            for w in range(n_windows)
                        ]
                    else:
                        # pathological length×amplitude: exact Python
                        # ints (arbitrary precision), never a silent
                        # int64 wrap (code-review r8)
                        energies = [
                            sum(
                                int(v) * int(v)
                                for v in mono[w * n // n_windows:(w + 1) * n // n_windows]
                            )
                            for w in range(n_windows)
                        ]
                    total = sum(energies)
                    bits = [e * n_windows > total for e in energies]
                    afp = sum(
                        1 << w for w in range(min(n_windows, 63)) if bits[w]
                    )
                    if n_windows == 64 and bits[63]:
                        afp -= 1 << 63
                except Exception:
                    continue
                ids.append(mid)
                prints.append(afp)
            yield pd.DataFrame(
                {id_col: pd.Series(ids, dtype="int64"),
                 "afp": pd.Series(prints, dtype="int64")}
            )

    return media.select(id_col, content_col).mapInPandas(
        run, schema=f"{id_col} long, afp long"
    )
