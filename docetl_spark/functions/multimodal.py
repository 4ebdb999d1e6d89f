"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata structs.

``fake=True`` (the default in tests and oracle queries) produces
deterministic synthetic outputs so the Spark-side plumbing — schema,
batch shape, partitioning — is testable and SQL-replayable.

``fake=False`` runs REAL decoders behind import probes (the web_ops
provider pattern, VERDICT r4 item #5):

- image metadata: a pure-Python PNG/GIF/JPEG/BMP/WEBP header parser
  (``parse_image_header`` — no full decode, no deps, works in this
  container), with PIL as the fallback for exotic formats when
  importable;
- image features: PIL-backed perceptual average-hash vector (aHash),
  raising NotImplementedError when PIL is absent;
- video frame sampling: ffmpeg subprocess demux when the binary is on
  PATH, NotImplementedError otherwise.

Pattern: every kernel is a ``mapInPandas`` iterator over Arrow batches,
with media bytes staying in a single binary column (never exploded
row-per-pixel), and metadata in a sibling struct column so filters on
metadata push down without touching bytes.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..session import widen_scan

IMAGE_META = T.StructType(
    [
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("format", T.StringType(), True),
    ]
)


def read_binary_dir(spark, path: str, *, glob: str | None = None) -> DataFrame:
    """Directory of media files -> (path, modificationTime, length,
    content) via Spark's binaryFile source (scales: file listing is
    distributed, contents stream per-partition)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def _fake_decode(content: bytes) -> dict:
    h = hashlib.md5(content or b"").digest()
    return {"width": 16 + h[0] % 64, "height": 16 + h[1] % 64, "format": "fake"}


def parse_image_header(content: bytes) -> dict | None:
    """Pure-Python image header parse — (width, height, format) without a
    full decode and without any library: PNG IHDR, GIF87a/89a logical
    screen, BMP BITMAPINFOHEADER, WEBP VP8/VP8L/VP8X chunks, and a JPEG
    SOF-marker scan. Returns None when the bytes match no known
    container (caller decides fallback: PIL if importable, else null)."""
    b = content or b""
    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        return {"width": w, "height": h, "format": "png"}
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return {"width": w, "height": h, "format": "gif"}
    if len(b) >= 26 and b[:2] == b"BM":
        w, h = struct.unpack("<ii", b[18:26])
        return {"width": abs(w), "height": abs(h), "format": "bmp"}
    if len(b) >= 30 and b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        chunk = b[12:16]
        if chunk == b"VP8X":
            w = int.from_bytes(b[24:27], "little") + 1
            h = int.from_bytes(b[27:30], "little") + 1
            return {"width": w, "height": h, "format": "webp"}
        if chunk == b"VP8L" and b[20] == 0x2F:
            bits = int.from_bytes(b[21:25], "little")
            return {"width": (bits & 0x3FFF) + 1, "height": ((bits >> 14) & 0x3FFF) + 1,
                    "format": "webp"}
        if chunk == b"VP8 " and len(b) >= 30:
            w, h = struct.unpack("<HH", b[26:30])
            return {"width": w & 0x3FFF, "height": h & 0x3FFF, "format": "webp"}
        return None
    if len(b) >= 4 and b[:2] == b"\xff\xd8":  # JPEG: scan for a SOF marker
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            # JPEG pads with 0xFF fill bytes before a marker: skip runs
            # so the fill byte isn't misread as a length-prefixed segment
            while i + 9 < len(b) and b[i + 1] == 0xFF:
                i += 1
            if i + 9 >= len(b):
                return None
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seglen = struct.unpack(">H", b[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return {"width": w, "height": h, "format": "jpeg"}
            i += 2 + seglen
        return None
    return None


def _pil_image():
    """Import-probed PIL Image module, or None (the web_ops provider
    pattern — a capable environment gets the real decoder for free)."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def _real_image_meta(content: bytes) -> dict | None:
    meta = parse_image_header(content)
    if meta is not None:
        return meta
    Image = _pil_image()
    if Image is None:
        return None  # unknown container, no PIL: null meta, not a crash
    import io  # noqa: PLC0415

    try:
        with Image.open(io.BytesIO(content or b"")) as im:
            return {"width": im.width, "height": im.height,
                    "format": (im.format or "").lower() or None}
    except Exception:  # noqa: BLE001 — undecodable bytes -> null meta
        return None


def decode_image_meta(df: DataFrame, content_col: str = "content", *, fake: bool = True) -> DataFrame:
    """Attach an image-metadata struct. ``fake=False`` = REAL decode:
    header parse (cheap, no full decode, no deps) with PIL fallback;
    undecodable rows get a null struct instead of failing the job."""
    out_schema = T.StructType(list(df.schema.fields) + [T.StructField("image_meta", IMAGE_META, True)])

    def run(batches):
        decode = _fake_decode if fake else _real_image_meta
        for pdf in batches:
            pdf = pdf.copy()
            pdf["image_meta"] = [decode(c) for c in pdf[content_col]]
            yield pdf

    return widen_scan(df).mapInPandas(run, schema=out_schema)


def image_features(df: DataFrame, content_col: str = "content", *, dim: int = 16, fake: bool = True) -> DataFrame:
    """Feature-extraction kernel shape: bytes -> float vector. Stub derives
    a deterministic unit vector from the content hash."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("features", T.ArrayType(T.FloatType()), True)]
    )

    def run(batches):
        Image = None if fake else _pil_image()
        for pdf in batches:
            if not fake and Image is None:
                raise NotImplementedError(
                    "image_features fake=False requires PIL (perceptual aHash "
                    "decode); install pillow or use fake=True"
                )
            feats = []
            for c in pdf[content_col]:
                if fake:
                    seed = int(hashlib.md5(c or b"").hexdigest()[:8], 16)
                    v = np.random.RandomState(seed).standard_normal(dim)
                    feats.append((v / (np.linalg.norm(v) or 1.0)).astype(np.float32).tolist())
                else:
                    feats.append(_ahash_features(Image, c, dim))
            pdf = pdf.copy()
            pdf["features"] = feats
            yield pdf

    return widen_scan(df).mapInPandas(run, schema=out_schema)


def _ahash_features(Image, content: bytes, dim: int) -> list | None:
    """Perceptual average-hash feature vector: grayscale-resize to a
    square of ~dim cells, then each cell's luminance minus the global
    mean. A real, deterministic embedding (near-dup images land near in
    cosine space); undecodable bytes -> null."""
    import io  # noqa: PLC0415

    side = max(2, int(round(float(dim) ** 0.5)))
    try:
        with Image.open(io.BytesIO(content or b"")) as im:
            px = np.asarray(
                im.convert("L").resize((side, side), Image.BILINEAR), dtype=np.float64
            ).ravel()
    except Exception:  # noqa: BLE001
        return None
    v = px - px.mean()
    n = np.linalg.norm(v)
    v = v / n if n else v
    out = np.zeros(dim, dtype=np.float32)
    out[: min(dim, v.size)] = v[:dim]
    return out.tolist()


def frame_sample(df: DataFrame, content_col: str = "content", *, every_n: int = 30, fake: bool = True) -> DataFrame:
    """Video -> frame rows (1:N explode shape). Stub emits a deterministic
    frame count derived from byte length; real impl would demux."""
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("frame_index", T.LongType(), True), T.StructField("frame", T.BinaryType(), True)]
    )

    def run(batches):
        ffmpeg = None
        if not fake:
            import shutil  # noqa: PLC0415

            ffmpeg = shutil.which("ffmpeg")
        for pdf in batches:
            if not fake and ffmpeg is None:
                raise NotImplementedError(
                    "frame_sample fake=False requires the ffmpeg binary on "
                    "PATH; install ffmpeg or use fake=True"
                )
            rows = []
            for rec in pdf.to_dict("records"):
                if fake:
                    n_frames = (len(rec[content_col] or b"") % 5) + 1
                    frames = [(i * every_n, rec[content_col]) for i in range(n_frames)]
                else:
                    frames = _ffmpeg_sample_frames(ffmpeg, rec[content_col], every_n)
                for idx, frame in frames:
                    rows.append({**rec, "frame_index": idx, "frame": frame})
            yield pd.DataFrame(rows, columns=out_schema.fieldNames())

    return widen_scan(df).mapInPandas(run, schema=out_schema)


def _ffmpeg_sample_frames(ffmpeg: str, content: bytes, every_n: int) -> list[tuple[int, bytes]]:
    """Demux every ``every_n``-th frame as PNG bytes via one ffmpeg
    subprocess per video (executor-local; parallelism = partition
    width). The image2pipe PNG stream splits on PNG signatures, so no
    temp directory is needed for the output side."""
    import subprocess  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    with tempfile.NamedTemporaryFile(suffix=".bin") as f:
        f.write(content or b"")
        f.flush()
        proc = subprocess.run(
            [ffmpeg, "-v", "error", "-i", f.name,
             "-vf", f"select=not(mod(n\\,{every_n}))", "-vsync", "vfr",
             "-f", "image2pipe", "-c:v", "png", "-"],
            capture_output=True, check=False,
        )
    sig = b"\x89PNG\r\n\x1a\n"
    data = proc.stdout or b""
    starts = []
    i = data.find(sig)
    while i != -1:
        starts.append(i)
        i = data.find(sig, i + 1)
    frames = [
        data[s : starts[k + 1] if k + 1 < len(starts) else len(data)]
        for k, s in enumerate(starts)
    ]
    return [(k * every_n, fr) for k, fr in enumerate(frames)]
