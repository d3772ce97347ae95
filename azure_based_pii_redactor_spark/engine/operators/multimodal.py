"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with decode / feature-extract / resize / frame-sample as
Arrow-batched ``mapInPandas`` stages.

Image decode/resize is REAL for uncompressed 24-bit BMP (pure
stdlib struct + numpy -- no image library needed): the generator emits
genuine BMP blobs, ``_decode_bmp`` parses them to pixel arrays, and
``resize_images`` does nearest-neighbor resampling and re-encodes.
JPEG/PNG (and audio/video codecs) need external libraries absent from
this sandbox, so those run through a deterministic fake container
(clearly marked; swap for PIL/librosa/pyav on a real cluster -- the
Spark-side plumbing (schema, partitioning, UDF signature, batch shape)
is identical either way and fully tested).

Synthetic container layout (bytes):
    magic[4] = FIMG | FAUD | FVID
    width:uint16  height:uint16     (images/video)  OR
    sample_rate:uint16 n_samples:uint16 (audio)
    n_frames:uint16                  (video; 1 for image/audio)
    payload  = deterministic pseudo-pixels/samples
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

MAGIC = {"image": b"FIMG", "audio": b"FAUD", "video": b"FVID"}

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def encode_bmp(pixels: "np.ndarray") -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as an uncompressed 24-bit BMP
    (BITMAPINFOHEADER, bottom-up rows, BGR byte order, 4-byte row
    padding) -- pure stdlib."""
    h, w, _ = pixels.shape
    row_bytes = (w * 3 + 3) & ~3
    img_size = row_bytes * h
    header = (
        b"BM"
        + struct.pack("<IHHI", 14 + 40 + img_size, 0, 0, 14 + 40)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size,
                      2835, 2835, 0, 0)
    )
    bgr = pixels[::-1, :, ::-1]  # bottom-up rows, BGR channels
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    return header + rows.tobytes()


def decode_bmp(blob: bytes) -> "np.ndarray":
    """Decode an uncompressed 24-bit BMP to an (H, W, 3) uint8 RGB array
    -- pure stdlib struct + numpy (no image library)."""
    if bytes(blob[:2]) != b"BM":
        raise ValueError("not a BMP blob")
    data_offset = struct.unpack_from("<I", blob, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", blob, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", blob, 26)
    if bpp != 24 or compression != 0:
        raise ValueError(f"only uncompressed 24-bit BMP supported "
                         f"(got bpp={bpp}, compression={compression})")
    bottom_up = h > 0
    h = abs(h)
    row_bytes = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        blob, dtype=np.uint8, count=row_bytes * h, offset=data_offset
    ).reshape(h, row_bytes)
    bgr = rows[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()  # BGR -> RGB


def resize_nearest(pixels: "np.ndarray", width: int, height: int) -> "np.ndarray":
    """Nearest-neighbor resample of an (H, W, 3) array -- two integer
    gathers, the same index math PIL uses for Image.NEAREST."""
    h, w = pixels.shape[:2]
    yi = (np.arange(height) * h // height).clip(max=h - 1)
    xi = (np.arange(width) * w // width).clip(max=w - 1)
    return pixels[yi][:, xi]


def encode_wav(samples: "np.ndarray", sample_rate: int) -> bytes:
    """Encode int16 mono PCM as a canonical RIFF/WAVE blob -- pure
    stdlib."""
    data = samples.astype("<i2").tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate,
                                sample_rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


def decode_wav(blob: bytes) -> tuple["np.ndarray", int]:
    """Decode 16-bit mono PCM WAV to (samples int16, sample_rate) --
    pure stdlib struct + numpy; walks RIFF chunks so fmt/data order and
    extra chunks don't matter."""
    if bytes(blob[:4]) != b"RIFF" or bytes(blob[8:12]) != b"WAVE":
        raise ValueError("not a WAV blob")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(blob):
        cid = bytes(blob[pos : pos + 4])
        size = struct.unpack_from("<I", blob, pos + 4)[0]
        if cid == b"fmt ":
            fmt, ch, rate = struct.unpack_from("<HHI", blob, pos + 8)
            bits = struct.unpack_from("<H", blob, pos + 22)[0]
            if (fmt, ch, bits) != (1, 1, 16):
                raise ValueError(
                    f"only 16-bit mono PCM supported (fmt={fmt}, ch={ch}, "
                    f"bits={bits})")
        elif cid == b"data":
            data = np.frombuffer(blob, dtype="<i2", count=size // 2,
                                 offset=pos + 8)
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return data, rate


def _make_blob(rng: np.random.Generator, kind: str) -> bytes:
    if kind == "audio":
        rate = int(rng.integers(8, 48)) * 1000
        n = int(rng.integers(100, 1000))
        if rng.integers(0, 2):
            # real 16-bit mono PCM WAV (decoded for real downstream)
            samples = rng.integers(-32768, 32768, n).astype(np.int16)
            return encode_wav(samples, rate)
        header = MAGIC[kind] + struct.pack(
            "<HHH", rate // 1000, n, 1
        )
        body = rng.integers(0, 256, n).astype(np.uint8).tobytes()
        return header + body
    w = int(rng.integers(16, 256))
    h = int(rng.integers(16, 256))
    if kind == "image" and rng.integers(0, 2):
        # real uncompressed 24-bit BMP (decoded/resized for real downstream)
        px = rng.integers(0, 256, (min(h, 64), min(w, 64), 3)).astype(np.uint8)
        return encode_bmp(px)
    frames = 1 if kind == "image" else int(rng.integers(2, 16))
    header = MAGIC[kind] + struct.pack("<HHH", w, h, frames)
    body = rng.integers(0, 256, min(w * h, 4096) * frames).astype(
        np.uint8).tobytes()
    return header + body


def generate_media(
    spark: SparkSession, n_rows: int, seed: int = 42, parts: int | None = None
) -> DataFrame:
    """Deterministic synthetic media table ((seed,id)-pure, like pages)."""
    parts = parts or spark.sparkContext.defaultParallelism
    kinds = ("image", "audio", "video")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid in pdf["id"]:
                rng = np.random.Generator(np.random.PCG64(
                    np.random.SeedSequence([seed, int(mid)])))
                kind = kinds[int(rng.integers(0, 3))]
                rows.append(
                    (int(mid), kind, _make_blob(rng, kind),
                     {"source": f"crawl{int(mid) % 7}"})
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    return spark.range(0, n_rows, numPartitions=parts).mapInPandas(
        gen, schema=MEDIA_SCHEMA
    )


def _decode_blob(blob: bytes) -> dict:
    """Decode: REAL for BMP (header parse), deterministic stub for the
    synthetic container (on a production cluster replace the stub branch
    with PIL.Image.open / soundfile / pyav; plumbing unchanged)."""
    if bytes(blob[:2]) == b"BM":
        data_offset = struct.unpack_from("<I", blob, 10)[0]
        _, w, h = struct.unpack_from("<Iii", blob, 14)
        return {"kind": "image", "width": w, "height": abs(h),
                "sample_rate": 0, "n_frames": 1,
                "n_payload_bytes": len(blob) - data_offset}
    if bytes(blob[:4]) == b"RIFF":
        samples, rate = decode_wav(bytes(blob))
        return {"kind": "audio", "width": 0, "height": 0,
                "sample_rate": rate, "n_frames": 1,
                "n_payload_bytes": samples.nbytes}
    magic = bytes(blob[:4])
    a, b, c = struct.unpack("<HHH", bytes(blob[4:10]))
    if magic == MAGIC["audio"]:
        return {"kind": "audio", "width": 0, "height": 0,
                "sample_rate": a * 1000, "n_frames": c,
                "n_payload_bytes": len(blob) - 10}
    kind = "image" if magic == MAGIC["image"] else "video"
    return {"kind": kind, "width": a, "height": b, "sample_rate": 0,
            "n_frames": c, "n_payload_bytes": len(blob) - 10}


DECODED_SCHEMA = (
    "media_id long, kind string, width int, height int, sample_rate int,"
    " n_frames int, n_payload_bytes int"
)


def decode_media_metadata(media: DataFrame) -> DataFrame:
    """Decode stage: binary -> typed metadata (Arrow batches; one Python
    exchange)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_decode_blob(b) for b in pdf["payload"]]
            out = pd.DataFrame(metas)
            out.insert(0, "media_id", pdf["media_id"].to_numpy())
            yield out[["media_id", "kind", "width", "height",
                       "sample_rate", "n_frames", "n_payload_bytes"]]

    return media.mapInPandas(run, schema=DECODED_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 2) -> DataFrame:
    """Video frame sampling: explode every Nth frame as its own binary row
    (the UDTF-ish shape a video pipeline needs).  Frame extraction on the
    synthetic container is a real byte-slice; with pyav it would decode."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, kind, blob in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if kind != "video":
                    continue
                meta = _decode_blob(blob)
                n = meta["n_frames"]
                body = bytes(blob[10:])
                per = max(len(body) // max(n, 1), 1)
                for i in range(0, n, every_n):
                    ids.append(int(mid))
                    idxs.append(i)
                    frames.append(body[i * per : (i + 1) * per])
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return media.mapInPandas(
        run, schema="media_id long, frame_idx int, frame binary"
    )


def resize_images(
    media: DataFrame, width: int = 32, height: int = 32,
) -> DataFrame:
    """Resize stage, format-dispatched per blob:
    - BMP: REAL decode -> nearest-neighbor resample -> re-encode (pure
      stdlib + numpy, works in this sandbox and in production alike);
    - synthetic FIMG container: deterministic fake (re-header + pad);
    - anything else (JPEG/PNG): requires PIL -- import-gated with a clear
      NotImplementedError (the pattern documented in SURVEY section 7)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, blobs = [], []
            for mid, kind, blob in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if kind != "image":
                    continue
                raw = bytes(blob)
                if raw[:2] == b"BM":
                    px = decode_bmp(raw)
                    blobs.append(encode_bmp(resize_nearest(px, width, height)))
                elif raw[:4] == MAGIC["image"]:
                    # deterministic fake: re-header with the target size
                    # and truncate/pad the payload to w*h bytes
                    body = raw[10:][: width * height]
                    body = body.ljust(width * height, b"\0")
                    blobs.append(
                        MAGIC["image"] + struct.pack("<HHH", width, height, 1)
                        + body
                    )
                else:  # JPEG/PNG: PIL decode -> resize -> encode
                    try:
                        from PIL import Image
                    except ImportError as exc:  # pragma: no cover
                        raise NotImplementedError(
                            "JPEG/PNG resize requires Pillow; BMP and the "
                            "synthetic container decode natively"
                        ) from exc
                    import io

                    img = Image.open(io.BytesIO(raw))
                    fmt = img.format  # capture BEFORE convert(): the new
                    # Image returned by convert() has format=None, which
                    # would silently re-encode every JPEG as PNG
                    resized = img.convert("RGB").resize(
                        (width, height), Image.NEAREST
                    )
                    buf = io.BytesIO()
                    resized.save(buf, format=fmt or "PNG")
                    blobs.append(buf.getvalue())
                out_ids.append(int(mid))
            yield pd.DataFrame({"media_id": out_ids, "payload": blobs})

    return media.mapInPandas(run, schema="media_id long, payload binary")


def media_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Feature extraction: deterministic hash-based embedding per blob
    (stands in for a CLIP/wav2vec encoder; unit-norm float array feeds the
    similarity operators unchanged)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = []
            for blob in pdf["payload"]:
                raw = bytes(blob)
                # per-format content extraction: features must hash the
                # MEDIA payload, not header bytes (two BMPs with equal
                # pixels but different padding/DPI headers must embed
                # identically)
                if raw[:2] == b"BM":
                    arr = decode_bmp(raw).reshape(-1)
                elif raw[:4] == b"RIFF":
                    samples, _ = decode_wav(raw)
                    arr = samples.view(np.uint8)
                else:
                    arr = np.frombuffer(raw, dtype=np.uint8, offset=10)
                # bucket byte histogram -> L2-normalized float vector
                hist = np.bincount(arr % dim, minlength=dim).astype(
                    np.float64)
                norm = np.linalg.norm(hist)
                vecs.append((hist / norm if norm else hist).astype(
                    np.float32).tolist())
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "embedding": vecs}
            )

    return media.mapInPandas(
        run, schema="media_id long, embedding array<float>"
    )


def audio_stats(media: DataFrame) -> DataFrame:
    """Per-clip audio features -- REAL signal math (RMS level and
    zero-crossing rate) over decoded WAV samples; fake-container clips
    decode their deterministic byte payload as unsigned 8-bit PCM."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rates, rms, zcr = [], [], [], []
            for mid, kind, blob in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                if kind != "audio":
                    continue
                raw = bytes(blob)
                if raw[:4] == b"RIFF":
                    samples, rate = decode_wav(raw)
                    x = samples.astype(np.float64) / 32768.0
                else:
                    meta = _decode_blob(raw)
                    rate = meta["sample_rate"]
                    x = (np.frombuffer(raw, np.uint8, offset=10)
                         .astype(np.float64) - 128.0) / 128.0
                ids.append(int(mid))
                rates.append(rate)
                rms.append(round(float(np.sqrt(np.mean(x * x))), 6)
                           if len(x) else 0.0)
                zcr.append(round(float(np.mean(np.signbit(x[1:])
                                               != np.signbit(x[:-1]))), 6)
                           if len(x) > 1 else 0.0)
            yield pd.DataFrame(
                {"media_id": ids, "sample_rate": rates,
                 "rms": rms, "zero_crossing_rate": zcr}
            )

    return media.mapInPandas(
        run,
        schema="media_id long, sample_rate int, rms double,"
               " zero_crossing_rate double",
    )


def media_stats(media: DataFrame) -> DataFrame:
    """Per-kind rollup over decoded metadata (JVM-side agg)."""
    decoded = decode_media_metadata(media)
    return (
        decoded.groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("width"), 2).alias("avg_width"),
            F.round(F.avg("n_frames"), 2).alias("avg_frames"),
            F.sum("n_payload_bytes").alias("total_bytes"),
        )
        .orderBy("kind")
    )


def multimodal_suite(spark, sf_dir):
    """One driver entry covering all three media paths (decode-metadata
    rollup, video frame sampling, audio signal features) over the same
    300-row deterministic media table, schema-aligned and tagged by
    section -- merged so the full multimodal surface fits inside the
    driver's 50-query window without three near-redundant rows.

    Sections (key, n, m1, m2):
    - kind_stats:   key=kind,        n=count,       m1=avg_width, m2=avg_frames
    - frame_sample: key=media_id,    n=frames kept, m1=avg frame_idx, m2=total frame bytes
    - audio:        key=media_id,    n=sample_rate, m1=rms,       m2=zero_crossing_rate
    """
    media = generate_media(spark, 300, seed=42)
    kinds = media_stats(media).select(
        F.lit("kind_stats").alias("section"),
        F.col("kind").alias("key"),
        F.col("n").cast("long").alias("n"),
        F.col("avg_width").cast("double").alias("m1"),
        F.col("avg_frames").cast("double").alias("m2"),
    )
    frames = (
        frame_sample(media)
        .groupBy("media_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("frame_idx"), 4).alias("m1"),
            F.sum(F.length("frame")).cast("double").alias("m2"),
        )
        .select(
            F.lit("frame_sample").alias("section"),
            F.col("media_id").cast("string").alias("key"),
            "n", "m1", "m2",
        )
    )
    audio = audio_stats(media).select(
        F.lit("audio").alias("section"),
        F.col("media_id").cast("string").alias("key"),
        F.col("sample_rate").cast("long").alias("n"),
        F.col("rms").alias("m1"),
        F.col("zero_crossing_rate").alias("m2"),
    )
    return (
        kinds.unionByName(frames).unionByName(audio)
        .orderBy("section", "key")
    )


# Pinned per-section aggregates of the seed=42 / 300-row suite.  The
# generator is (seed, id)-pure (numpy PCG64 + SeedSequence, whose stream
# is stability-guaranteed across numpy versions), so these are contract
# constants, not snapshots of a flaky run; a codec/generator regression
# changes them and fails the driver's hash compare.
_SUITE_PINS = {
    # section: (n_rows, total_n)  [total_n: kind counts / frames kept /
    #                              summed sample rates -- all integers]
    "audio": (113, 2885000),
    "frame_sample": (106, 468),
    "kind_stats": (3, 300),
}


def multimodal_suite_gated(spark, sf_dir):
    """Driver form of the multimodal suite with VALUE checks (closing
    the r3 rows-only gap): per section it emits the row count and the
    integer aggregate of ``n`` -- both recomputed literally by the
    DuckDB oracle from the pinned contract constants -- plus two
    requirement booleans the oracle states as TRUE:

    - ``deterministic_ok``: the whole suite is regenerated a second
      time and every (section, key, n, m1, m2) row must match exactly.
      All suite values are per-row floats or integer-backed aggregates,
      so exact equality is well-defined (no float-accumulation
      nondeterminism to mask).
    - ``finite_ok``: every metric is non-null (decode produced real
      numbers for every row).

    Binary container parsing itself stays non-SQL-expressible; what the
    oracle now verifies is that the decode pipeline reproduces its
    pinned, determinism-checked aggregate state -- the strongest check
    available without a second decoder implementation.
    """
    d1 = multimodal_suite(spark, sf_dir).localCheckpoint()
    d2 = multimodal_suite(spark, sf_dir)
    a, b = d1.alias("a"), d2.alias("b")
    same = (
        a.join(b, ["section", "key"], "full_outer")
        .select(
            "section",
            (
                F.col("a.n").eqNullSafe(F.col("b.n"))
                & F.col("a.m1").eqNullSafe(F.col("b.m1"))
                & F.col("a.m2").eqNullSafe(F.col("b.m2"))
            ).alias("same"),
        )
        .groupBy("section")
        .agg(F.min("same").alias("deterministic_ok"))
    )
    agg = d1.groupBy("section").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("n").cast("long").alias("total_n"),
        F.min(
            F.col("n").isNotNull()
            & F.col("m1").isNotNull()
            & ~F.isnan("m1")
            & F.col("m2").isNotNull()
            & ~F.isnan("m2")
        ).alias("finite_ok"),
    )
    return (
        agg.join(same, "section")
        .select("section", "n_rows", "total_n", "deterministic_ok",
                "finite_ok")
        .orderBy("section")
    )


_SUITE_ORACLE = " UNION ALL ".join(
    f"SELECT '{s}' AS section, {n}::BIGINT AS n_rows,"
    f" {t}::BIGINT AS total_n, TRUE AS deterministic_ok,"
    f" TRUE AS finite_ok"
    for s, (n, t) in sorted(_SUITE_PINS.items())
)

QUERIES = {
    # the three single-purpose forms above stay public API + pytest
    # surface; the driver slot is the gated suite (pinned counts +
    # determinism/finiteness requirements, oracle-checked)
    "multimodal_suite": multimodal_suite_gated,
}
ORACLES: dict[str, str] = {
    "multimodal_suite": _SUITE_ORACLE + " ORDER BY section",
}
