"""Multimodal (binary) column plumbing for media-bearing corpora
(SURVEY.md §2 north-star extension; no reference file:line — the C
reference is text-only).

Design: image/audio/video payloads are opaque ``binary`` columns with
typed metadata alongside. The Spark-side machinery — schema, Arrow batch
shape, ``mapInPandas`` signatures, partitioning — is real and tested.
The codec is REAL for PNG and WAV (pure-stdlib decoders in
``functions/codecs.py``: zlib+struct scanline unfiltering, RIFF/PCM);
payloads in neither format fall back to a deterministic pseudo-dimension
stub (``fake=True``) so text-derived fixture payloads stay
oracle-predictable. Swapping in PIL/ffmpeg for richer formats is a
one-function change; nothing in the distributed plan moves.

Scale notes: media rows are large and variable-sized, so the operators
(a) never shuffle raw bytes — feature extraction happens in the scan
stage via ``mapInPandas`` and only fixed-width features flow onward, and
(b) use ``maxRecordsPerBatch``-bounded Arrow batches so executor memory
is bounded regardless of payload size.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

#: Schema of the feature output of `extract_media_features`.
MEDIA_FEATURE_SCHEMA = (
    "doc_id bigint, n_bytes bigint, magic string, checksum_prefix string, "
    "fake_width bigint, fake_height bigint"
)


def attach_binary_payload(documents: DataFrame) -> DataFrame:
    """Derive an opaque binary payload column from text (fixture stand-in).

    In production this column arrives from the source (parquet BINARY);
    here we materialize one deterministically so the downstream plumbing
    is exercised end-to-end.
    """
    return documents.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
    )


def decode_media(payload: bytes, fake: bool = False) -> dict:
    """Dispatch on magic bytes to a real decoder where one exists.

    - PNG → real decode (``codecs.png_decode``): actual width/height/
      channels from the unfiltered scanlines.
    - BMP → real decode (``codecs.bmp_decode``): 24-bit uncompressed,
      both row orders normalized.
    - GIF → real decode (``codecs.gif_decode``): LZW + palette, first
      frame, RGB via the color table.
    - JPEG → real decode (``codecs.jpeg_decode``): baseline sequential,
      Huffman + dequant + IDCT; grayscale or 4:4:4 YCbCr.
    - WAV → real decode (``codecs.wav_decode``): ``width`` carries
      n_frames and ``height`` n_channels so the fixed feature schema
      holds across modalities.
    - anything else → deterministic pseudo-dimensions when ``fake=True``
      (fixture payloads are UTF-8 text; the oracle SQL replicates this
      formula), else ``NotImplementedError`` naming the format.

    ``fake=True`` additionally catches real-decoder failures and falls
    back to the fake formula: the fake paths run over encoded document
    TEXT, so a payload that merely *sniffs* like a container (the 'BM'
    magic is two ASCII bytes) must degrade to the deterministic fake the
    oracle replicates, not crash the whole query on one document.
    """
    from mapreduceindex_spark.functions import codecs

    kind = codecs.sniff_media(payload)
    if fake and kind != "unknown":
        try:
            return decode_media(payload, fake=False)
        except Exception:
            kind = "unknown"
    if kind == "png":
        arr = codecs.png_decode(payload)
        h, w = arr.shape[:2]
        ch = 1 if arr.ndim == 2 else arr.shape[2]
        return {"kind": "png", "width": w, "height": h, "channels": ch}
    if kind == "bmp":
        arr = codecs.bmp_decode(payload)
        h, w = arr.shape[:2]
        return {"kind": "bmp", "width": w, "height": h, "channels": 3}
    if kind == "gif":
        arr = codecs.gif_decode(payload)
        h, w = arr.shape[:2]
        return {"kind": "gif", "width": w, "height": h, "channels": 3}
    if kind == "jpeg":
        arr = codecs.jpeg_decode(payload)
        h, w = arr.shape[:2]
        ch = 1 if arr.ndim == 2 else arr.shape[2]
        return {"kind": "jpeg", "width": w, "height": h, "channels": ch}
    if kind == "wav":
        meta = codecs.wav_decode(payload)
        return {
            "kind": "wav",
            "width": meta["n_frames"],
            "height": meta["n_channels"],
            "channels": meta["n_channels"],
            "sample_rate": meta["sample_rate"],
        }
    if not fake:
        raise NotImplementedError(
            f"no codec for payload with magic {payload[:4]!r}; PNG, BMP, GIF, "
            "baseline JPEG and WAV decode natively, other formats need "
            "PIL/ffmpeg"
        )
    n = len(payload)
    return {
        "kind": "fake",
        "width": 16 + n % 1024,
        "height": 16 + (n // 7) % 1024,
        "channels": 0,
    }


def extract_media_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas`` keeps bytes inside the scan stage: each Arrow batch is
    processed in one Python call, emitting only small fixed-width features.
    The decode itself is the stub above (deterministic fake), so the test
    asserts real plumbing with fake codec output.
    """

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            dims = [decode_media(p, fake=True) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": payloads.map(len),
                    "magic": payloads.map(lambda b: b[:4].hex()),
                    "checksum_prefix": payloads.map(
                        lambda b: __import__("hashlib").md5(b).hexdigest()[:8]
                    ),
                    "fake_width": [d["width"] for d in dims],
                    "fake_height": [d["height"] for d in dims],
                }
            )

    return media.mapInPandas(_extract, schema=MEDIA_FEATURE_SCHEMA)


def resize_media(
    media: DataFrame, target_w: int = 32, target_h: int = 32
) -> DataFrame:
    """Resize plumbing: per-payload scale factors from decoded dimensions.

    The decode is the deterministic stub; the real resize kernel (PIL
    ``Image.resize`` over the bytes) slots into the same ``mapInPandas``
    batch loop. Only fixed-width numeric features leave the stage — the
    resized bytes would stay columnar in the scan stage exactly like the
    input payload.
    """

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [decode_media(p, fake=True) for p in pdf["payload"]]
            w = pd.Series([d["width"] for d in dims], dtype="int64")
            h = pd.Series([d["height"] for d in dims], dtype="int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_w": w,
                    "orig_h": h,
                    "new_w": target_w,
                    "new_h": target_h,
                    "scale_x": (target_w / w).round(6),
                    "scale_y": (target_h / h).round(6),
                }
            )

    return media.mapInPandas(
        _resize,
        schema=(
            "doc_id bigint, orig_w bigint, orig_h bigint, "
            "new_w bigint, new_h bigint, scale_x double, scale_y double"
        ),
    )


def frame_sample(media: DataFrame, every_n: int = 1000) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled frame offset.

    Stands in for video frame extraction (pyav keyframe walk): frames are
    modeled as fixed-stride byte offsets, one output row each — the same
    explode-shaped fan-out a real sampler produces. Per-frame decode
    attaches in the batch loop; only (doc_id, frame_idx, offset, length)
    flow onward.
    """

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_offset": [], "frame_len": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                for i, off in enumerate(range(0, n, every_n)):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame_offset"].append(off)
                    rows["frame_len"].append(min(every_n, n - off))
            # explicit dtypes so an all-empty batch still matches the schema
            yield pd.DataFrame(rows).astype("int64")

    return media.mapInPandas(
        _frames,
        schema=(
            "doc_id bigint, frame_idx bigint, frame_offset bigint, "
            "frame_len bigint"
        ),
    )


def decode_png_dims(documents: DataFrame) -> DataFrame:
    """Real-codec proof under the oracle gate: synthesize a PNG per doc,
    decode it back, emit features of the DECODED pixels.

    Each doc gets a PNG whose dimensions and content derive from
    ``doc_id`` alone — width ``4 + id%61``, height ``4 + id%53``, RGB
    gradient ``(id%196 + x)`` along the row — encoded with scanline
    filter ``id % 5``, so all five PNG filter paths (None/Sub/Up/Average/
    Paeth) are exercised across the corpus. The emitted ``px_sum`` is
    summed from the decoded array; a wrong unfilter produces a hash
    mismatch against the closed-form oracle SQL:

        px_sum = height * 3 * (width*(id%196) + width*(width-1)/2)

    Bytes never leave the stage: synth + encode + decode happen inside
    one ``mapInPandas`` pass and only fixed-width numerics flow onward.
    """
    import numpy as np

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapreduceindex_spark.functions import codecs

        for pdf in batches:
            out = {"doc_id": [], "width": [], "height": [], "channels": [], "px_sum": []}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 4 + i % 61, 4 + i % 53
                row = ((i % 196) + np.arange(w)).astype(np.uint8)
                arr = np.ascontiguousarray(
                    np.broadcast_to(row[None, :, None], (h, w, 3))
                )
                data = codecs.png_encode(arr, filter_type=i % 5)
                dec = codecs.png_decode(data)
                out["doc_id"].append(i)
                out["width"].append(dec.shape[1])
                out["height"].append(dec.shape[0])
                out["channels"].append(dec.shape[2])
                out["px_sum"].append(int(dec.sum(dtype=np.int64)))
            yield pd.DataFrame(out)

    # The fixture table is one small parquet file → one input split → one
    # core doing all the Python codec work. Spread it: the repartition
    # shuffles 8-byte doc_ids only (payloads are synthesized inside the
    # stage), so "bytes never shuffle" still holds. At 100 TB the scan
    # has thousands of splits and this round-robin is a cheap no-op
    # safety net rather than the parallelism source.
    spread = documents.select("doc_id").repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        _roundtrip,
        schema=(
            "doc_id bigint, width bigint, height bigint, "
            "channels bigint, px_sum bigint"
        ),
    )


def decode_gif_dims(documents: DataFrame) -> DataFrame:
    """Real-codec proof for the GIF path, same contract as
    ``decode_png_dims``: synthesize a palette GIF per doc, LZW-decode it
    back, emit features of the DECODED pixels under the oracle gate.

    Per doc: dims ``w = 4 + id%24``, ``h = 4 + id%16``, index image
    ``k(y, x) = id%40 + x + 3y`` (max 39 + 23 + 57 = 119 < 128 — no
    wrap), 128-entry palette ``k → (k, 2k, 255−k)`` (2k ≤ 254, exact).
    Emitted from the decoded RGB array:

        px_sum = Σ (k + 2k + 255−k) = 2·Σk + 255·w·h
        r_sum  = Σk = w·h·base + h·w(w−1)/2 + 3·w·h(h−1)/2

    ``r_sum`` is the palette witness: a decoder that returned raw
    indices on every channel would still satisfy a ``3·Σk``-shaped sum
    but not the per-channel ``r_sum``/``px_sum`` pair against the
    closed-form oracle. The LZW dictionary/width machinery is the part
    a wrong implementation corrupts wholesale — any slip scrambles the
    index stream and the sums. Bytes never leave the stage.
    """
    import numpy as np

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapreduceindex_spark.functions import codecs

        pal = np.stack(
            [
                np.arange(128),
                2 * np.arange(128),
                255 - np.arange(128),
            ],
            axis=1,
        ).astype(np.uint8)
        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [],
                "px_sum": [], "r_sum": [],
            }
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h, base = 4 + i % 24, 4 + i % 16, i % 40
                xs = np.arange(w, dtype=np.int64)[None, :]
                ys = np.arange(h, dtype=np.int64)[:, None]
                idx = (base + xs + 3 * ys).astype(np.uint8)
                dec = codecs.gif_decode(codecs.gif_encode(idx, pal))
                out["doc_id"].append(i)
                out["width"].append(dec.shape[1])
                out["height"].append(dec.shape[0])
                out["px_sum"].append(int(dec.sum(dtype=np.int64)))
                out["r_sum"].append(int(dec[:, :, 0].sum(dtype=np.int64)))
            yield pd.DataFrame(out)

    spread = documents.select("doc_id").repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        _roundtrip,
        schema=(
            "doc_id bigint, width bigint, height bigint, "
            "px_sum bigint, r_sum bigint"
        ),
    )


def decode_jpeg_dims(documents: DataFrame) -> DataFrame:
    """Real-codec proof for the JPEG path — the third image wire format
    and the only LOSSY one, which changes what can be oracle-gated:
    synthesize a baseline grayscale JPEG per doc whose 8×8 blocks are
    all FLAT (DC-only, every AC zero), full-decode it back through the
    real machinery (marker parse, DHT Huffman decode, DPCM, dezigzag,
    dequant, float IDCT, level shift), and emit pixel features under a
    closed-form oracle.

    Why DC-only makes a lossy format exactly checkable: a DC-only block
    dequantizes to F00·q00 and inverse-transforms to the constant
    F00·q00/8, so with q00 = 8 the decoded block is EXACTLY F00 + 128 —
    the rounding that makes general JPEG content approximate never
    engages (``codecs.jpeg_encode_gray_dc``). General AC streams go
    through the same decoder; their float IDCT path is pinned against
    an independent numpy IDCT in tests rather than a SQL oracle. That
    is also why the dHash near-dup family stays on the lossless wire
    formats (its oracle replays exact per-pixel comparisons a lossy
    round-trip cannot guarantee) — documented scope cut in README.

    Per doc: blocks ``bw = 1 + id%4``, ``bh = 1 + id%3``, DC value of
    block (bx, by) = ``base + bx + 2·by − 128`` with ``base = id%50``,
    so decoded pixel(y, x) = base + bx + 2·by exactly (max 56, no
    clamp). Emitted: width, height,

        px_sum   = 64·(bw·bh·base + bh·bw(bw−1)/2 + bw·bh(bh−1))
        row0_sum = 8·(bw·base + bw(bw−1)/2)

    ``row0_sum`` weights bx only while ``px_sum`` weights bx and by
    differently (1 vs 2), so a transposed or re-ordered block raster —
    the classic MCU-loop slip — mismatches the closed form. A DPCM
    error corrupts every later block's DC; a Huffman/bit-reader slip
    scrambles the stream wholesale. Bytes never leave the stage.
    """
    import numpy as np

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapreduceindex_spark.functions import codecs

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [],
                "px_sum": [], "row0_sum": [],
            }
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                bw, bh, base = 1 + i % 4, 1 + i % 3, i % 50
                bxs = np.arange(bw, dtype=np.int64)[None, :]
                bys = np.arange(bh, dtype=np.int64)[:, None]
                dc = (base + bxs + 2 * bys) - 128
                dec = codecs.jpeg_decode(codecs.jpeg_encode_gray_dc(dc))
                out["doc_id"].append(i)
                out["width"].append(dec.shape[1])
                out["height"].append(dec.shape[0])
                out["px_sum"].append(int(dec.sum(dtype=np.int64)))
                out["row0_sum"].append(int(dec[0, :].sum(dtype=np.int64)))
            yield pd.DataFrame(out)

    spread = documents.select("doc_id").repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        _roundtrip,
        schema=(
            "doc_id bigint, width bigint, height bigint, "
            "px_sum bigint, row0_sum bigint"
        ),
    )


def decode_bmp_dims(documents: DataFrame) -> DataFrame:
    """Real-codec proof for the BMP path, same contract as
    ``decode_png_dims``: synthesize a 24-bit BMP per doc, decode it back,
    emit features of the DECODED pixels under the oracle gate.

    Dimensions/content derive from ``doc_id`` alone — width
    ``4 + id%29``, height ``4 + id%23`` (the width sweep covers all four
    scanline-padding classes of ``3·w mod 4``), pixel value
    ``v(y, x) = id%100 + x + 2y`` replicated across RGB (max 183, no
    byte wrap). Odd ids encode top-down (negative biHeight), even ids
    bottom-up, so both row orders must normalize identically. Emitted:

        px_sum   = 3 · Σ_y Σ_x v(y,x)
                 = 3·(h·w·base + h·w(w−1)/2 + w·h(h−1))
        row0_sum = 3 · Σ_x v(0,x) = 3·(w·base + w(w−1)/2)

    ``row0_sum`` is the orientation witness: a decoder that forgets to
    flip bottom-up rows (or flips top-down ones) reports row y=h−1 as
    row 0 and hash-mismatches the closed-form oracle, which ``px_sum``
    alone (flip-invariant) would miss. Bytes never leave the stage.
    """
    import numpy as np

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapreduceindex_spark.functions import codecs

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [],
                "px_sum": [], "row0_sum": [],
            }
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h, base = 4 + i % 29, 4 + i % 23, i % 100
                xs = np.arange(w, dtype=np.int64)[None, :]
                ys = np.arange(h, dtype=np.int64)[:, None]
                gray = (base + xs + 2 * ys).astype(np.uint8)
                data = codecs.bmp_encode(gray, top_down=bool(i % 2))
                dec = codecs.bmp_decode(data)
                out["doc_id"].append(i)
                out["width"].append(dec.shape[1])
                out["height"].append(dec.shape[0])
                out["px_sum"].append(int(dec.sum(dtype=np.int64)))
                out["row0_sum"].append(int(dec[0].sum(dtype=np.int64)))
            yield pd.DataFrame(out)

    spread = documents.select("doc_id").repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        _roundtrip,
        schema=(
            "doc_id bigint, width bigint, height bigint, "
            "px_sum bigint, row0_sum bigint"
        ),
    )


def media_metadata_stats(documents: DataFrame) -> DataFrame:
    """Pure-SQL metadata pass over the binary column (no Python at all):
    byte length + hex magic prefix, aggregated by source bucket.

    This is the shape of a corpus-level media audit (bytes per bucket,
    payload size distribution) and is oracle-checkable.
    """
    media = documents.select(
        "doc_id",
        "source",
        F.encode("text", "UTF-8").alias("payload"),
    )
    return (
        media.select(
            "source",
            F.octet_length("payload").cast("long").alias("n_bytes"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.min("n_bytes").alias("min_bytes"),
            F.max("n_bytes").alias("max_bytes"),
        )
        .orderBy("source")
    )


def decode_wav_features(documents: DataFrame) -> DataFrame:
    """Real-codec proof for the AUDIO path, twin of ``decode_png_dims``:
    synthesize PCM per doc, WAV-encode, decode back, emit integer
    features of the DECODED samples.

    Each doc gets mono 16 kHz int16 audio derived from ``doc_id`` alone —
    ``n = 256 + id%512`` frames of the wrapping ramp
    ``((id%97 + 7t) % 2048) − 1024`` (the %2048 wraps several times per
    clip, so a sample-order or sign bug cannot cancel out of the sums).
    ``sum_samples`` and ``sum_sq`` are integer-exact aggregates of the
    decoded array; the oracle SQL regenerates the same series with a
    DuckDB ``range`` unnest, so any RIFF-framing or PCM-width defect in
    the codec hash-mismatches.

    Bytes never leave the stage (synth + encode + decode inside one
    ``mapInPandas`` pass); only fixed-width numerics flow onward.
    """
    import numpy as np

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapreduceindex_spark.functions import codecs

        for pdf in batches:
            out = {
                "doc_id": [], "n_frames": [], "sample_rate": [],
                "sum_samples": [], "sum_sq": [],
            }
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                n, k = 256 + i % 512, i % 97
                t = np.arange(n, dtype=np.int64)
                samples = ((k + 7 * t) % 2048 - 1024).astype(np.int16)
                data = codecs.wav_encode(samples, sample_rate=16000)
                dec = codecs.wav_decode(data)
                s = dec["samples"].astype(np.int64)
                out["doc_id"].append(i)
                out["n_frames"].append(int(dec["n_frames"]))
                out["sample_rate"].append(int(dec["sample_rate"]))
                out["sum_samples"].append(int(s.sum()))
                out["sum_sq"].append(int((s * s).sum()))
            yield pd.DataFrame(out)

    # same single-file-fixture spread as decode_png_dims: shuffle 8-byte
    # ids so the Python codec work uses every core, payloads stay in-stage
    spread = documents.select("doc_id").repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        _roundtrip,
        schema=(
            "doc_id bigint, n_frames bigint, sample_rate bigint, "
            "sum_samples bigint, sum_sq bigint"
        ),
    )


def _gif_gray_thumb(arr, codecs, np):
    """GIF-wire 9×8 grayscale thumbnail: encode under the gray-identity
    palette, decode, floor-index NN-resize (the exact
    ``png_resize_nearest`` arithmetic), re-encode the thumbnail through
    the same wire. ONE definition shared by ``media_dhash`` and the
    near-dup coarse fingerprint — the two must stay bit-identical for
    the "one fingerprint, two wire formats" invariant (round-8 review:
    the inlined copies were a divergence risk)."""
    gray_pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    dec = codecs.gif_decode(codecs.gif_encode(arr, gray_pal))[:, :, 0]
    hh, ww = dec.shape
    t = dec[(np.arange(8) * hh) // 8][:, (np.arange(9) * ww) // 9]
    return codecs.gif_decode(codecs.gif_encode(t, gray_pal))[:, :, 0]


def _jpeg_params(i: int, bx, by, coarse: bool):
    """Closed-form per-block JPEG pattern parameters (c0, c1, c2, c3)
    for doc ``i`` — ONE definition mirrored literally by the oracle SQL.
    ``bx``/``by`` may be ints or numpy index grids."""
    if coarse:
        # block-independent, small parameter space so near-dup clusters
        # form (the coarse fixture's job)
        return (
            (i % 11) * 10 - 50,
            (i % 3) * 5 - 5,
            (i % 5) * 4 - 8,
            (i % 7) * 3 - 9,
        )
    return (
        ((i + 5 * bx + 3 * by) % 193) - 96,
        ((i // 3 + bx) % 21) - 10,
        ((i // 5 + by) % 21) - 10,
        ((i // 7 + bx + by) % 21) - 10,
    )


def _jpeg_ac_thumb(i: int, w: int, h: int, codecs, np, coarse: bool = False):
    """JPEG-wire 9×8 grayscale thumbnail through the GENERAL-AC codec
    path: per-block 4-term pattern → integer DCT coefficients at
    (0,0)/(4,0)/(0,4)/(4,4) → ``jpeg_encode_gray_ac`` (full AC Huffman
    run/size entropy coding) → real ``jpeg_decode`` → fidelity gate →
    floor-index NN-resize (the exact ``png_resize_nearest`` arithmetic).

    Why THIS pattern: a lossy wire can carry a bit-exact closed-form
    pixel oracle only where ``round(IDCT(C))`` is exactly the intended
    pixels. Arbitrary content fails (the integer-coefficient lattice's
    IDCT image misses ~2/3 of integer pixel vectors — measured on the
    gradient fixture: quant-1 round trips flip dHash comparison bits on
    0.1–9% of docs), but the span of the (0,0)/(4,0)/(0,4)/(4,4) DCT
    basis pairs is integral by construction:
    ``px(y,x) = 128 + c0 + c1·s(y) + c2·s(x) + c3·s(y)s(x)`` with
    ``s = (+,−,−,+,+,−,−,+)`` (the u=4 cosine's exact sign pattern) has
    coefficients exactly ``8·c``. So the bitstream is a REAL baseline
    JPEG exercising the decoder's AC machinery (run/size decode, ZRL,
    dezigzag, float IDCT with nonzero ACs, DC DPCM across blocks), and
    the decoded pixels are still a two-line SQL formula. The decode is
    verified against that formula per image — a decoder defect raises
    here rather than silently shifting hashes (the
    ``media_luma_histogram`` loud-fidelity discipline).

    The thumbnail is hashed directly from the decoded plane (no second
    wire pass): a 9×8 crop of the pattern is not itself in the exactly
    codable family, so a thumb re-encode would reintroduce the lossy
    divergence the pattern exists to eliminate. PNG/GIF legs keep their
    full thumb re-encode — they are lossless.
    """
    bh, bw = (h + 7) // 8, (w + 7) // 8
    ii, s = np.arange(8), np.array([1, -1, -1, 1, 1, -1, -1, 1])
    coefs = np.zeros((bh, bw, 8, 8), dtype=np.int64)
    exp = np.zeros((bh * 8, bw * 8), dtype=np.int64)
    for by in range(bh):
        for bx in range(bw):
            c0, c1, c2, c3 = _jpeg_params(i, bx, by, coarse)
            coefs[by, bx, 0, 0] = 8 * c0
            coefs[by, bx, 4, 0] = 8 * c1
            coefs[by, bx, 0, 4] = 8 * c2
            coefs[by, bx, 4, 4] = 8 * c3
            exp[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                128 + c0 + c1 * s[:, None] + c2 * s[None, :]
                + c3 * s[:, None] * s[None, :]
            )
    dec = codecs.jpeg_decode(codecs.jpeg_encode_gray_ac(coefs))[:h, :w]
    if not np.array_equal(dec.astype(np.int64), exp[:h, :w]):
        raise RuntimeError(
            f"JPEG decode fidelity violated for doc {i}: the general-AC "
            "round trip no longer reproduces the 4-term pattern exactly"
        )
    return dec[(np.arange(8) * h) // 8][:, (np.arange(9) * w) // 9]


def media_dhash(documents: DataFrame) -> DataFrame:
    """Image near-dup fingerprint through the real codec path: per-doc
    synthetic grayscale PNG → encode → **nearest-neighbor resize to
    9×8** (``png_resize_nearest``: decode, integer-index, re-encode) →
    decode → 64-bit difference hash.

    dHash is the standard cheap perceptual fingerprint: bit (y,x) is
    ``px[y][x+1] > px[y][x]`` on the 9×8 thumbnail, packed row-major into
    two 32-bit halves (rows 0–3 → ``dhash_lo``, rows 4–7 → ``dhash_hi``;
    one 64-bit word would put bit 63 in the BIGINT sign position, which
    numpy wraps and DuckDB rejects — two halves keep both sides in exact
    integer range). Near-duplicate images then cluster by Hamming
    distance exactly like ``simhash`` does for text — the banded-prefix
    grouping there applies unchanged, so this operator is the image
    analog of that pipeline's front end.

    The synth image ``px(y,x) = (id%97 + 3x + 5y) % 251`` varies in both
    axes (a pure gradient would give a constant hash), with dims
    ``w = 8 + id%41``, ``h = 8 + id%37``. The oracle SQL replays the
    NN-resize index arithmetic (``(x_dst·w) // 9``, ``(y_dst·h) // 8``)
    and the comparison bits in closed form, so a wrong resize index, a
    gray-path encode/decode defect, or a bit-packing error all
    hash-mismatch.

    **Three wire formats, one fingerprint family**: ids ≡ 0 (mod 3)
    round-trip through PNG, ids ≡ 1 through GIF (gray-identity
    palette) — both lossless, full thumbnail re-encode included, so
    for those the dHash is wire-invariant over the SAME gradient
    synth. Ids ≡ 2 ride the **JPEG general-AC wire**
    (``_jpeg_ac_thumb``): a real lossy-format bitstream whose 4-term
    DCT-exact pattern keeps the pixel oracle in closed form — the
    r09 scope cut ("dHash is lossless-only") closed without giving up
    the bit-exact oracle. A lossy-divergent or index-scrambling path
    on ANY of the three wires hash-mismatches its third of the corpus.
    """
    import numpy as np

    def _dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapreduceindex_spark.functions import codecs

        for pdf in batches:
            out = {"doc_id": [], "dhash_lo": [], "dhash_hi": []}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h, k = 8 + i % 41, 8 + i % 37, i % 97
                xs = np.arange(w, dtype=np.int64)
                ys = np.arange(h, dtype=np.int64)
                arr = ((k + 3 * xs[None, :] + 5 * ys[:, None]) % 251).astype(
                    np.uint8
                )
                if i % 3 == 2:
                    thumb = _jpeg_ac_thumb(i, w, h, codecs, np)
                elif i % 3 == 1:
                    thumb = _gif_gray_thumb(arr, codecs, np)
                else:
                    thumb = codecs.png_decode(
                        codecs.png_resize_nearest(
                            codecs.png_encode(arr), 9, 8
                        )
                    )
                bits = (thumb[:, 1:].astype(np.int16)
                        > thumb[:, :-1].astype(np.int16)).astype(np.int64)
                weights = np.left_shift(
                    np.int64(1), np.arange(32, dtype=np.int64)
                ).reshape(4, 8)
                out["doc_id"].append(i)
                out["dhash_lo"].append(int((bits[:4] * weights).sum()))
                out["dhash_hi"].append(int((bits[4:] * weights).sum()))
            yield pd.DataFrame(out)

    spread = documents.select("doc_id").repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        _dhash, schema="doc_id bigint, dhash_lo bigint, dhash_hi bigint"
    )


def _dhash_frame_coarse(documents: DataFrame) -> DataFrame:
    """(doc_id, dhash_lo, dhash_hi) via the coarse synth parameters used
    by the near-dup pipeline (see ``media_dhash_near_dups``): quadratic
    texture ``(k + 7x² + 11y² + 3xy) % 251`` with ``k = id%13,
    w = 8+id%5, h = 8+id%7``, fingerprinted through the real codec
    round trip — PNG wire for ids ≡ 0 (mod 3), GIF wire (gray-identity
    palette) for ids ≡ 1 (both lossless, one fingerprint), and the
    JPEG general-AC wire for ids ≡ 2 with the coarse block-independent
    4-term pattern (small parameter space — lcm(11,3,5,7)-periodic —
    so JPEG-wire near-dup clusters still form; see
    ``_jpeg_ac_thumb``).

    Memoized via ``caching.memo`` keyed on the input plan's semantic
    hash (the dedup_front discipline): the near-dup pair scan and the
    cluster resolution both start from exactly this frame, and the
    Python codec round trip behind it dominated each separately. The
    persisted cache is 3 bigints per document; one live set."""
    from mapreduceindex_spark.functions import caching

    fingerprint = caching.plan_fingerprint(documents)

    def _build() -> list:
        return [
            _dhash_frame_coarse_plan(documents).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        ]

    return caching.memo("dhash_coarse", fingerprint, _build)[0]


def _dhash_frame_coarse_plan(documents: DataFrame) -> DataFrame:
    """The raw (unmemoized) plan behind :func:`_dhash_frame_coarse`."""
    import numpy as np

    def _dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapreduceindex_spark.functions import codecs

        for pdf in batches:
            out = {"doc_id": [], "dhash_lo": [], "dhash_hi": []}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h, k = 8 + i % 5, 8 + i % 7, i % 13
                xs = np.arange(w, dtype=np.int64)[None, :]
                ys = np.arange(h, dtype=np.int64)[:, None]
                arr = (
                    (k + 7 * xs * xs + 11 * ys * ys + 3 * xs * ys) % 251
                ).astype(np.uint8)
                if i % 3 == 2:
                    thumb = _jpeg_ac_thumb(i, w, h, codecs, np, coarse=True)
                elif i % 3 == 1:
                    # GIF wire: lossless, so the fingerprint — and the
                    # near-dup pairs — are wire-format-invariant (one
                    # shared thumb definition: _gif_gray_thumb)
                    thumb = _gif_gray_thumb(arr, codecs, np)
                else:
                    thumb = codecs.png_decode(
                        codecs.png_resize_nearest(
                            codecs.png_encode(arr), 9, 8
                        )
                    )
                bits = (thumb[:, 1:].astype(np.int16)
                        > thumb[:, :-1].astype(np.int16)).astype(np.int64)
                weights = np.left_shift(
                    np.int64(1), np.arange(32, dtype=np.int64)
                ).reshape(4, 8)
                out["doc_id"].append(i)
                out["dhash_lo"].append(int((bits[:4] * weights).sum()))
                out["dhash_hi"].append(int((bits[4:] * weights).sum()))
            yield pd.DataFrame(out)

    spread = documents.select("doc_id").repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        _dhash, schema="doc_id bigint, dhash_lo bigint, dhash_hi bigint"
    )


def media_dhash_near_dups(
    documents: DataFrame,
    max_hamming: int = 6,
    _hashes: DataFrame | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Image near-duplicate pairs by difference-hash Hamming distance —
    the image twin of the text MinHash-LSH pipeline, end to end: real
    codec fingerprint (``media_dhash``'s encode → NN-resize → decode →
    dHash) and **Hamming banding** for the pair search.

    Banding: the 64 hash bits split into 8 bands of 8 bits; two hashes
    with Hamming distance d < 8 agree exactly on ≥ 1 band (pigeonhole),
    so for ``max_hamming`` ≤ 7 the band-bucket self-join is a LOSSLESS
    candidate cover — never an all-pairs join, data replication exactly
    8×, the same guarantee structure as ``minhash_lsh_pairs``. Candidates
    verify with ``bit_count(xor)`` and a pair found via several bands
    dedups on (doc_a, doc_b).

    Synth images here use coarser parameters than ``media_dhash``
    (``k = id%13, w = 8+id%5, h = 8+id%7``) so genuinely duplicate
    images exist at every fixture SF (ids congruent mod lcm = 455 render
    identically), and a QUADRATIC texture (``(k + 7x² + 11y² + 3xy)
    % 251``) rather than the linear gradient — a gradient's dHash bits
    are nearly all-ones for every image, which would rate most of the
    corpus "near-duplicate"; the quadratic texture puts unrelated images
    at Hamming ≈ 32 so the threshold actually discriminates. The oracle
    replays the closed form and verifies by brute-force pairwise
    distance.
    """
    if max_hamming >= 8:
        # pigeonhole cover is lossless only below the band count — same
        # guard as simhash_near_dups; silently-incomplete candidates
        # presented as exact would be a correctness bug, not a tuning knob
        raise ValueError(
            f"media_dhash_near_dups: max_hamming={max_hamming} breaks the "
            f"8-band pigeonhole guarantee (requires max_hamming <= 7)"
        )
    if _hashes is not None:
        hashes = _hashes
    else:
        # both sides of the band self-join scan this frame and Catalyst
        # does not reuse the exchange across the differently-aliased
        # sides (verified: MapInPandas appears twice in the executed
        # plan); the frame arrives persisted from the memoized front
        # end, so the codec stage runs once per corpus, not per call.
        hashes = _dhash_frame_coarse(documents)
    # 8 bands × 8 bits: bands 0-3 from the lo half, 4-7 from the hi half
    banded = hashes.select(
        "doc_id",
        "dhash_lo",
        "dhash_hi",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("dhash_lo"), 8 * j).bitwiseAND(255)
                    for j in range(4)
                ],
                *[
                    F.shiftright(F.col("dhash_hi"), 8 * j).bitwiseAND(255)
                    for j in range(4)
                ],
            )
        ).alias("band", "band_val"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        F.col("dhash_lo").alias("_la"),
        F.col("dhash_hi").alias("_ha"),
        "band",
        "band_val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        F.col("dhash_lo").alias("_lb"),
        F.col("dhash_hi").alias("_hb"),
        "band",
        "band_val",
    )
    pairs = (
        a.join(b, ["band", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.bit_count(F.col("_la").bitwiseXOR(F.col("_lb")))
                + F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
            ).cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # presentation sort only — consumers that feed the pair graph onward
    # (media_dup_clusters) skip the global range exchange it costs
    return pairs.orderBy("doc_a", "doc_b") if ordered else pairs


def media_dup_clusters(documents: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Image duplicate clusters: (doc_id, cluster_rep) — every document
    mapped to the minimum doc_id reachable through the dHash
    near-duplicate graph, singletons to themselves.

    The image pipeline taken to the dedup DECISION, mirroring the text
    path one-to-one — including the **exact-dup pre-collapse**
    ``near_dup_clusters`` uses: byte-identical dHashes are grouped first
    and contribute linear STAR edges (member—rep) instead of the
    quadratic within-group pair expansion, and the banded Hamming join
    runs over one representative per DISTINCT hash. Connectivity is
    identical (members reach their rep directly; reps carry the
    cross-image edges) but every stage collapses by the clone factor —
    measured at sf0.1 (5 000 docs over a 455-image cycle): 682 k pair
    edges → ~7 k rep edges, band-join input 5 000 → 457 rows, and the
    driver collect shrinks to match (10.1 s → 2.6 s total). The shared
    ``resolve_components`` tail (driver union-find under the edge bound,
    distributed min-label propagation above) resolves the graph; keeping
    ``doc_id == cluster_rep`` rows yields the image-deduplicated corpus.
    """
    from mapreduceindex_spark.operators.dedup import resolve_components

    # one codec pass: the memoized persisted hash frame feeds the group
    # collapse, the star edges, and the rep-level band join;
    # resolve_components materializes the pair graph eagerly (its
    # bounded collect of at most driver_max_edges + 1 edges picks the
    # tier). The frame stays alive in the memo for the rest of the
    # dHash family.
    hashes = _dhash_frame_coarse(documents)
    groups = hashes.groupBy("dhash_lo", "dhash_hi").agg(
        F.min("doc_id").alias("rep"),
        F.collect_set("doc_id").alias("members"),
    )
    star = (
        groups.filter(F.size("members") > 1)
        .select("rep", F.explode("members").alias("doc_a"))
        .filter(F.col("doc_a") != F.col("rep"))
        .select("doc_a", F.col("rep").alias("doc_b"))
    )
    rep_hashes = groups.select(
        F.col("rep").alias("doc_id"), "dhash_lo", "dhash_hi"
    )
    rep_pairs = media_dhash_near_dups(
        documents, max_hamming=max_hamming, _hashes=rep_hashes, ordered=False
    ).select("doc_a", "doc_b")
    return resolve_components(rep_pairs.union(star), documents)


def media_audio_frame_windows(
    documents: DataFrame, window_frames: int = 128
) -> DataFrame:
    """Frame-SAMPLING over the audio path — the feature-extract shape
    the north-star names for time media (pick the representative
    segment of a clip): decode the per-doc synthetic WAV
    (``decode_wav_features``' fixture contract), split the PCM into
    fixed ``window_frames``-frame windows (the tail window may be
    partial), and emit the highest-ENERGY window's coordinates — index,
    integer energy (Σ sample², exact int64) and peak |sample| — plus
    the window count. Ties break to the LOWEST window index on both
    engines (numpy argmax-first here; ``ORDER BY energy DESC, idx``
    there).

    The oracle regenerates the same wrapping-ramp series with a DuckDB
    range unnest and replays the windowing in SQL, so a mis-sliced
    window boundary, a dropped tail, or a sample-width defect in the
    codec hash-mismatches. Bytes never leave the ``mapInPandas`` stage;
    one fixed-width row per doc flows onward.
    """
    import numpy as np

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapreduceindex_spark.functions import codecs

        w = int(window_frames)
        for pdf in batches:
            out = {
                "doc_id": [], "n_windows": [], "peak_window_idx": [],
                "peak_window_energy": [], "peak_abs_sample": [],
            }
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                n, k = 256 + i % 512, i % 97
                t = np.arange(n, dtype=np.int64)
                samples = ((k + 7 * t) % 2048 - 1024).astype(np.int16)
                dec = codecs.wav_decode(
                    codecs.wav_encode(samples, sample_rate=16000)
                )
                s = dec["samples"].astype(np.int64).ravel()
                idx = np.arange(len(s)) // w
                nw = int(idx[-1]) + 1
                energy = np.zeros(nw, dtype=np.int64)
                np.add.at(energy, idx, s * s)
                best = int(energy.argmax())  # first max = lowest index
                in_best = s[idx == best]
                out["doc_id"].append(i)
                out["n_windows"].append(nw)
                out["peak_window_idx"].append(best)
                out["peak_window_energy"].append(int(energy[best]))
                out["peak_abs_sample"].append(int(np.abs(in_best).max()))
            yield pd.DataFrame(out)

    spread = documents.select("doc_id").repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        _roundtrip,
        schema=(
            "doc_id bigint, n_windows bigint, peak_window_idx bigint, "
            "peak_window_energy bigint, peak_abs_sample bigint"
        ),
    )


def media_gif_frame_sample(documents: DataFrame) -> DataFrame:
    """Frame-SAMPLING over a MULTI-frame container — the video analog
    of ``media_audio_frame_windows`` on the one animated format the
    codec library really decodes: synthesize an animated GIF per doc
    (``codecs.gif_encode_frames``), decode EVERY frame back through the
    real multi-descriptor LZW path (``gif_decode_frames``), and emit
    the brightest frame's coordinates — the pick-the-representative-
    frame step a media pipeline runs before a single-image featurizer.

    Per doc: ``F = 2 + id%4`` full-canvas frames of ``w = 4 + id%12`` ×
    ``h = 4 + id%8``; frame f's index image is
    ``base + (7f)%10 + x + 3y`` with ``base = id%20`` (max 76 < 128, no
    wrap; the ``(7f)%10`` offsets are distinct and NON-monotone in f,
    so the argmax is not vacuously the last frame), palette
    ``k → (k, 2k, 255−k)``. Decoded px_sum per frame is the closed form
    ``2·Sk_f + 255·w·h`` with
    ``Sk_f = w·h·(base + (7f)%10) + h·w(w−1)/2 + 3·w·h(h−1)/2`` —
    the oracle sweeps frames with a range unnest and replays the argmax
    (ties impossible by construction; the SQL still orders (sum DESC,
    idx) for form). A dropped/duplicated frame, a cross-frame LZW state
    leak, or a mis-advanced block pointer shifts a sum and mismatches.
    Bytes never leave the stage.
    """
    import numpy as np

    def _roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapreduceindex_spark.functions import codecs

        pal = np.stack(
            [
                np.arange(128),
                2 * np.arange(128),
                255 - np.arange(128),
            ],
            axis=1,
        ).astype(np.uint8)
        for pdf in batches:
            out = {
                "doc_id": [], "n_frames": [], "peak_frame_idx": [],
                "peak_frame_px_sum": [], "first_frame_px_sum": [],
            }
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                nf, w, h, base = 2 + i % 4, 4 + i % 12, 4 + i % 8, i % 20
                xs = np.arange(w, dtype=np.int64)[None, :]
                ys = np.arange(h, dtype=np.int64)[:, None]
                frames = [
                    (base + (7 * f) % 10 + xs + 3 * ys).astype(np.uint8)
                    for f in range(nf)
                ]
                dec = codecs.gif_decode_frames(
                    codecs.gif_encode_frames(frames, pal)
                )
                sums = [int(d.sum(dtype=np.int64)) for d in dec]
                best = int(np.argmax(sums))  # first max = lowest index
                out["doc_id"].append(i)
                out["n_frames"].append(len(dec))
                out["peak_frame_idx"].append(best)
                out["peak_frame_px_sum"].append(sums[best])
                out["first_frame_px_sum"].append(sums[0])
            yield pd.DataFrame(out)

    spread = documents.select("doc_id").repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        _roundtrip,
        schema=(
            "doc_id bigint, n_frames bigint, peak_frame_idx bigint, "
            "peak_frame_px_sum bigint, first_frame_px_sum bigint"
        ),
    )


def media_luma_histogram(documents: DataFrame) -> DataFrame:
    """Decode → feature-extract → aggregate, the canonical multimodal
    curation pipeline, with a REAL codec in the middle: per doc a
    synthetic grayscale image (the ``media_dhash`` texture
    ``px(y,x) = (id%97 + 3x + 5y) % 251``, dims ``w = 8+id%41,
    h = 8+id%37``) round-trips the full-size wire — PNG for even ids,
    GIF (gray-identity palette) for odd — and the DECODED pixels feed
    an 8-bin luminance histogram (bin = px DIV 32). Corpus rollup:
    pixels per bin plus how many images are MODAL in each bin (argmax
    count, ties to the lower bin) — the exposure-profile readout an
    image-corpus curator filters on (all-dark / blown-out detection).

    The oracle replays the texture in closed form (doc × range(w) ×
    range(h)), so a decode defect at ANY pixel — not just the dHash's
    sampled thumbnail grid — shifts a bin count and hash-mismatches:
    this is the full-image-fidelity complement of the dHash oracle.

    Scale shape: bytes never leave the ``mapInPandas`` stage (synth +
    encode + decode + per-image bincount inside one Arrow batch); only
    (doc_id, bin, n_px, is_modal) rows — ≤ 8 per image — shuffle to
    ONE bin-keyed aggregate. Output: 8 rows.

    Output: (bin, bin_lo, n_pixels, n_images_modal), ordered by bin.
    """
    import numpy as np

    def _hist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapreduceindex_spark.functions import codecs

        gray_pal = np.repeat(
            np.arange(256, dtype=np.uint8)[:, None], 3, axis=1
        )
        for pdf in batches:
            out = {"doc_id": [], "bin": [], "n_px": [], "is_modal": []}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h, k = 8 + i % 41, 8 + i % 37, i % 97
                xs = np.arange(w, dtype=np.int64)
                ys = np.arange(h, dtype=np.int64)
                arr = (
                    (k + 3 * xs[None, :] + 5 * ys[:, None]) % 251
                ).astype(np.uint8)
                if i % 2:
                    dec = codecs.gif_decode(codecs.gif_encode(arr, gray_pal))[
                        :, :, 0
                    ]
                else:
                    dec = codecs.png_decode(codecs.png_encode(arr))
                counts = np.bincount(
                    (dec.astype(np.int64) // 32).ravel(), minlength=8
                )
                modal = int(np.argmax(counts))  # argmax takes lowest tie
                for b in range(8):
                    if counts[b] == 0 and b != modal:
                        continue
                    out["doc_id"].append(i)
                    out["bin"].append(b)
                    out["n_px"].append(int(counts[b]))
                    out["is_modal"].append(1 if b == modal else 0)
            yield pd.DataFrame(out)

    spread = documents.select("doc_id").repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    )
    rows = spread.mapInPandas(
        _hist, schema="doc_id bigint, bin bigint, n_px bigint, is_modal bigint"
    )
    spark = documents.sparkSession
    bins = spark.createDataFrame([(b,) for b in range(8)], "bin long")
    agg = rows.groupBy("bin").agg(
        F.sum("n_px").cast("long").alias("n_pixels"),
        F.sum("is_modal").cast("long").alias("n_images_modal"),
    )
    return (
        bins.join(agg, "bin", "left")
        .select(
            "bin",
            (F.col("bin") * 32).cast("long").alias("bin_lo"),
            F.coalesce("n_pixels", F.lit(0)).cast("long").alias("n_pixels"),
            F.coalesce("n_images_modal", F.lit(0))
            .cast("long")
            .alias("n_images_modal"),
        )
        .orderBy("bin")
    )


def media_audio_autocorr(
    documents: DataFrame, max_lag: int = 80
) -> DataFrame:
    """Pitch/periodicity detection over the audio path: per doc,
    decode the synthetic WAV and report the dominant LAG of the
    LENGTH-NORMALIZED integer autocorrelation — argmax over
    ``1 ≤ l ≤ max_lag`` of ``m(l) = floor(r(l)·1e6 / (n−l))`` with
    ``r(l) = Σ_t s[t]·s[t+l]`` (ties to the LOWEST lag) — plus the
    zero-lag energy and the raw sum at the winning lag. The
    normalization is load-bearing, not cosmetic: the RAW sum favors
    near-period small lags purely because they overlap more terms (on
    the fixture sawtooth, lag 13 ≡ phase+1 beats the true period 64 on
    length alone); the floored per-overlap mean is the integer-exact
    form of the standard biased→unbiased estimator correction, and
    both engines floor identically (r(l) goes negative at
    anti-phase lags, so the floored — not truncating — division
    matters).

    Fixture contract: doc ``i`` carries ``n = 160 + i%96`` int16
    samples ``s[t] = (k + 5t) % 64 − 32`` with ``k = i % 97`` — a
    sawtooth of true period 64 (< max_lag, so the argmax genuinely
    finds the pitch on full-length docs), run through the REAL
    ``wav_encode → wav_decode`` round trip so a sample-width or
    framing defect in the codec hash-mismatches (the
    ``media_luma_histogram`` decode-fidelity discipline). The oracle
    regenerates the series with a range unnest and replays every
    product — docs × n × max_lag rows, bounded by the fixture's
    ≤ 256-sample clips.

    Scale shape: bytes never leave the ``mapInPandas`` stage; the
    per-doc numpy fold is O(n·max_lag) on ≤ 256-sample clips; one
    fixed-width row per doc flows onward. Output: (doc_id, n_samples,
    energy_r0, best_lag, r_best), ordered by doc_id upstream of the
    driver compare.
    """
    import numpy as np

    def _autocorr(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from mapreduceindex_spark.functions import codecs

        L = int(max_lag)
        for pdf in batches:
            out = {
                "doc_id": [], "n_samples": [], "energy_r0": [],
                "best_lag": [], "r_best": [],
            }
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                n, k = 160 + i % 96, i % 97
                t = np.arange(n, dtype=np.int64)
                samples = ((k + 5 * t) % 64 - 32).astype(np.int16)
                dec = codecs.wav_decode(
                    codecs.wav_encode(samples, sample_rate=16000)
                )
                s = dec["samples"].astype(np.int64).ravel()
                r0 = int((s * s).sum())
                best_lag, r_best, m_best = 0, None, None
                for lag in range(1, min(L, len(s) - 1) + 1):
                    r = int((s[:-lag] * s[lag:]).sum())
                    m = (r * 1_000_000) // (len(s) - lag)  # Python // floors
                    if m_best is None or m > m_best:
                        best_lag, r_best, m_best = lag, r, m
                out["doc_id"].append(i)
                out["n_samples"].append(len(s))
                out["energy_r0"].append(r0)
                out["best_lag"].append(best_lag)
                out["r_best"].append(int(r_best))
            yield pd.DataFrame(out)

    spread = documents.select("doc_id").repartition(
        documents.sparkSession.sparkContext.defaultParallelism
    )
    return spread.mapInPandas(
        _autocorr,
        schema=(
            "doc_id bigint, n_samples bigint, energy_r0 bigint, "
            "best_lag bigint, r_best bigint"
        ),
    )


def media_audio_autocorr_oracle_sql(max_lag: int = 80) -> str:
    """DuckDB twin of :func:`media_audio_autocorr` — the same series
    regenerated by range unnest, every lag product replayed in SQL,
    the identical FLOORED per-overlap mean as the argmax key, ties to
    the lowest lag. The lagged sample time is projected (``shifted``)
    before the self-join, so the join is one equi-join on
    (doc_id, t); written as ``b.t = a.t + l.range`` over a cross join,
    DuckDB 1.0 joined the samples on doc_id alone and filtered the
    80-fold product (72 s at sf0.001 against about 1 s)."""
    from mapreduceindex_spark.functions.exact import floor_div_sql

    floor_div_sql_duck = floor_div_sql("r * 1000000", "n_ov", "//")
    return f"""
WITH docs AS (
  SELECT doc_id, 160 + doc_id % 96 AS n, doc_id % 97 AS k
  FROM documents
), samples AS (
  SELECT d.doc_id, r.range AS t,
         ((d.k + 5 * r.range) % 64 - 32)::BIGINT AS s
  FROM docs d, range(0, 256) r WHERE r.range < d.n
), r0 AS (
  SELECT doc_id, count(*)::BIGINT AS n_samples,
         sum(s * s)::BIGINT AS energy_r0
  FROM samples GROUP BY doc_id
), shifted AS (
  SELECT a.doc_id, l.range AS lag, a.t + l.range AS t_b, a.s
  FROM samples a, range(1, {int(max_lag) + 1}) l
), lags AS (
  SELECT a.doc_id, a.lag,
         sum(a.s * b.s)::BIGINT AS r,
         count(*)::BIGINT AS n_ov
  FROM shifted a
  JOIN samples b ON b.doc_id = a.doc_id AND b.t = a.t_b
  GROUP BY a.doc_id, a.lag
), best AS (
  SELECT doc_id, lag AS best_lag, r AS r_best FROM (
    SELECT doc_id, lag, r,
           row_number() OVER (
             PARTITION BY doc_id
             ORDER BY {floor_div_sql_duck} DESC, lag ASC) AS rn
    FROM lags
  ) WHERE rn = 1
)
SELECT r0.doc_id, r0.n_samples, r0.energy_r0,
       best.best_lag, best.r_best
FROM r0 JOIN best USING (doc_id)
ORDER BY r0.doc_id
"""
