"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decode/feature-extract as Arrow-batched Pandas operations over
``mapInPandas`` (north-star M4).

The container has no media libraries, so each modality ships a REAL,
dependency-free parser for the formats pure Python can fully handle,
plus clearly-marked fake-kernel plumbing seams:

- :func:`decode_image_kernel` — REAL image decode: binary PPM (Netpbm
  ``P6``, comment-aware header scan) and 24-bit BMP
  (``BITMAPINFOHEADER``, bottom-up rows, 4-byte row padding). It walks
  the actual bytes: dims come from the parsed header, ``pixel_sum``
  from summing every pixel byte (padding excluded). This is the seam
  where Pillow/libvips plugs in for JPEG/PNG on a real cluster — the
  compressed-codec kernel swaps in behind the same ``mapInPandas``
  signature and schema.
- :func:`decode_audio` — REAL audio decode: a RIFF/WAVE chunk walker
  (word-aligned chunk stride, PCM fmt parse, 8-bit unsigned / 16-bit
  signed sample sums). librosa/torchaudio swap in here.
- :func:`sample_frames_real` — REAL video-analog frame sampling: a
  byte-stream walk over concatenated P6 frames, striding each parsed
  pixel plane and rejecting truncated frames. ffmpeg swaps in here.
- :func:`fake_decode_image` / :func:`resize_images` /
  :func:`sample_frames` / :func:`extract_audio_features` are
  deterministic fakes (fields derive from the byte length alone) kept
  for plumbing-shape tests and as the documented library seams.

Scale notes: payloads stay opaque ``binary`` columns end-to-end (never
stringified); ``mapInPandas`` streams Arrow record batches so peak memory
is one batch per core, not one partition; decode is map-only (no
shuffle); metadata lives in a sibling struct so pruning a metadata-only
query never touches the bytes (columnar parquet reads skip the blob
column entirely).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    import pandas as pd

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("checksum", T.StringType()),
    ]
)

DECODED_IMAGE_SCHEMA = (
    "doc_id bigint, byte_len bigint, width int, height int, format string"
)


def attach_binary_payload(
    df: DataFrame, text_col: str = "text", media_type: str = "image/fake"
) -> DataFrame:
    """Demo payload builder: encodes the text column as the opaque binary
    blob (fixtures ship no real media) + the typed metadata struct every
    multimodal row carries."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.length(payload).cast("long").alias("byte_len"),
            F.md5(payload).alias("checksum"),
        ),
    )


def _ascii_only(t):
    """Byte/char parity guard for the synthetic payload builders: they
    derive sizes from ``octet_length`` but slice/tile with CHAR-based
    ``substring``/``repeat``, and the paired oracles sum codepoints —
    all three agree only while every char is one byte. The fixtures are
    ASCII; a non-ASCII document would silently diverge the declared
    chunk sizes from the encoded byte counts, so fail loudly instead.
    NULL text passes through: the comparison evaluates NULL on NULL
    input and must not fall into raise_error — downstream builders
    already degrade NULL payloads to sentinels.
    Real deployments ingest actual binary files and never hit these
    builders."""
    return F.when(
        (F.octet_length(t) == F.length(t)) | t.isNull(), t
    ).otherwise(
        F.raise_error(
            F.lit(
                "synthetic payload builders require single-byte (ASCII) "
                "text: octet_length != char_length"
            )
        )
    )


def attach_ppm_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthetic REAL-image payload builder: wraps each row's text bytes
    into a genuine binary PPM (Netpbm ``P6``) image whose dimensions
    derive from the text length (``w = L%16+1``, ``h = L%12+1``) and
    whose pixel bytes are the text tiled cyclically to ``w*h*3`` bytes.

    The construction is pure JVM string expressions (repeat + substr —
    valid because the fixtures are ASCII, where chars == bytes; binary
    payload ingestion on a real cluster reads actual image files
    instead), so an external SQL engine can predict every byte of the
    payload — which is what lets x16's DuckDB oracle hash-check a REAL
    decoder's output (header-parsed dims + pixel_sum) end-to-end.
    """
    t = _ascii_only(F.col(text_col))
    length = F.octet_length(t)
    w = length % 16 + 1
    h = length % 12 + 1
    npix = w * h * F.lit(3)
    reps = F.ceil(npix / length).cast("int")
    tiled = F.substring(F.repeat(t, reps), 1, npix)
    header = F.concat(
        F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"),
        F.lit("\n255\n"),
    )
    return df.withColumn("payload", F.encode(F.concat(header, tiled), "UTF-8"))


def _parse_ppm(data: bytes):
    """Parse a binary PPM (``P6``) header per the Netpbm spec: magic,
    then three decimal tokens (width, height, maxval) separated by
    whitespace runs and ``#`` comments, then ONE whitespace byte before
    the pixel plane. Returns ``(width, height, pixel_offset)``."""
    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":  # comment runs to end of line
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and data[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("malformed PPM header")
        fields.append(int(data[start:pos]))
    pos += 1  # single whitespace byte after maxval
    return fields[0], fields[1], pos


def _parse_bmp(data: bytes):
    """Parse a 24-bit uncompressed BMP (``BITMAPINFOHEADER``): dims from
    the DIB header, pixel rows bottom-up with 4-byte padding. Returns
    ``(width, height, pixel_sum)`` — pixel_sum over actual pixel bytes,
    row padding excluded."""
    import struct

    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (pix_off,) = struct.unpack_from("<I", data, 10)
    width, height = struct.unpack_from("<ii", data, 18)
    (bpp,) = struct.unpack_from("<H", data, 28)
    if bpp != 24:
        raise ValueError(f"only 24-bit BMP supported, got {bpp}")
    height = abs(height)  # negative height = top-down row order
    row_bytes = width * 3
    stride = (row_bytes + 3) & ~3
    total = 0
    for r in range(height):
        row = data[pix_off + r * stride : pix_off + r * stride + row_bytes]
        total += sum(row)
    return width, height, total


DECODED_IMAGE_REAL_SCHEMA = (
    "doc_id bigint, byte_len bigint, width int, height int, "
    "format string, pixel_sum bigint"
)


def decode_image_kernel(
    batches: Iterator["pd.DataFrame"],
) -> Iterator["pd.DataFrame"]:
    """REAL decode kernel (``mapInPandas`` signature): sniffs the magic
    bytes and fully parses PPM (P6) and 24-bit BMP payloads — header
    dims + a sum over every actual pixel byte. Unknown formats degrade
    to ``(UNKNOWN, -1×-1, pixel_sum 0)`` rather than poisoning the
    batch. Pillow/libvips for compressed codecs swaps in here."""
    import pandas as pd

    for pdf in batches:
        ids, lens, ws, hs, fmts, sums = [], [], [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            # NULL payload (real binary ingestion) degrades to the
            # UNKNOWN sentinel row via the empty-magic path
            data = bytes(payload) if payload is not None else b""
            ids.append(doc_id)
            lens.append(len(data))
            try:
                if data[:2] == b"P6":
                    w, h, off = _parse_ppm(data)
                    ws.append(w)
                    hs.append(h)
                    fmts.append("PPM")
                    sums.append(sum(data[off : off + w * h * 3]))
                elif data[:2] == b"BM":
                    w, h, s = _parse_bmp(data)
                    ws.append(w)
                    hs.append(h)
                    fmts.append("BMP")
                    sums.append(s)
                else:
                    raise ValueError("unknown magic")
            except (ValueError, IndexError):
                ws.append(-1)
                hs.append(-1)
                fmts.append("UNKNOWN")
                sums.append(0)
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "byte_len": lens,
                "width": ws,
                "height": hs,
                "format": fmts,
                "pixel_sum": sums,
            }
        ).astype({"width": "int32", "height": "int32"})


def fake_decode_image(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
    """DETERMINISTIC FAKE decode kernel (mapInPandas signature).

    Derives pseudo width/height from byte length — stands in for a real
    decoder so batch shape, schema, and distribution are exercised.
    """
    for pdf in batches:
        lens = pdf["payload"].map(len)
        yield type(pdf)(
            {
                "doc_id": pdf["doc_id"],
                "byte_len": lens,
                "width": (lens % 640).astype("int32"),
                "height": (lens % 480).astype("int32"),
                "format": "FAKE",
            }
        )


def decode_images(df: DataFrame, use_real_decoder: bool = False) -> DataFrame:
    """Decode the payload column into image metadata via Arrow-batched
    ``mapInPandas``. ``use_real_decoder=True`` runs the real PPM/BMP
    byte parser (:func:`decode_image_kernel`, 6-column schema with
    ``pixel_sum``); the default stays the legacy deterministic fake
    (5-column schema) for plumbing tests."""
    if use_real_decoder:
        return df.select("doc_id", "payload").mapInPandas(
            decode_image_kernel, schema=DECODED_IMAGE_REAL_SCHEMA
        )
    return df.select("doc_id", "payload").mapInPandas(
        fake_decode_image, schema=DECODED_IMAGE_SCHEMA
    )


RESIZED_SCHEMA = (
    "doc_id bigint, width int, height int, target_w int, target_h int, "
    "scale_x double, scale_y double"
)


def resize_images(df: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """Resize plumbing via ``mapInPandas`` — the fake kernel derives the
    source dims like :func:`fake_decode_image` and reports the scale
    factors a real resampler (Pillow ``Image.resize``) would apply.
    Map-only; one Arrow batch in flight per core."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            lens = pdf["payload"].map(len)
            w = (lens % 640).astype("int32")
            h = (lens % 480).astype("int32")
            yield type(pdf)(
                {
                    "doc_id": pdf["doc_id"],
                    "width": w,
                    "height": h,
                    "target_w": target_w,
                    "target_h": target_h,
                    "scale_x": (target_w / w.where(w != 0)).round(6),
                    "scale_y": (target_h / h.where(h != 0)).round(6),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(kernel, schema=RESIZED_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_checksum string"


def sample_frames(df: DataFrame, max_frames: int = 5) -> DataFrame:
    """Frame-sampling plumbing (video analog): each payload expands to
    ``byte_len % max_frames + 1`` frame rows — the 1→N output shape a
    real ffmpeg frame sampler produces. Frame identity is a deterministic
    checksum of (payload, frame_idx) so results are engine-comparable.
    Map-only with batch-local expansion; no shuffle."""
    import hashlib

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, idxs, sums = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload) % max_frames + 1
                for i in range(n):
                    ids.append(doc_id)
                    idxs.append(i)
                    sums.append(
                        hashlib.md5(payload + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_checksum": sums}
            ).astype({"frame_idx": "int32"})

    return df.select("doc_id", "payload").mapInPandas(kernel, schema=FRAME_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "doc_id bigint, duration_ms bigint, n_channels int, rms double"
)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Audio feature-extract plumbing — the fake kernel derives
    duration/channels/RMS deterministically from the bytes (the seam
    where librosa/torchaudio plugs in on a real cluster)."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            lens = pdf["payload"].map(len)
            yield type(pdf)(
                {
                    "doc_id": pdf["doc_id"],
                    "duration_ms": (lens * 20).astype("int64"),
                    "n_channels": (lens % 2 + 1).astype("int32"),
                    "rms": ((lens % 1000) / 1000.0).round(6),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(
        kernel, schema=AUDIO_FEATURES_SCHEMA
    )


def attach_wav_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthetic REAL-audio payload builder: wraps each row's text bytes
    into a genuine RIFF/WAVE file — canonical 44-byte header, PCM
    format chunk (mono, 8000 Hz, 8-bit), and the first
    ``(L-1) % 90 + 1`` text bytes as the sample plane.

    Like :func:`attach_ppm_payload`, the construction is pure JVM
    string expressions, which is only byte-exact because every
    multi-byte little-endian field is constrained below 0x80 (so its
    UTF-8 encoding is the identity): data size ≤ 90 keeps the RIFF
    size ≤ 126, the sample rate 8000 = 0x1F40 encodes as two
    sub-0x80 bytes, and 8-bit samples are the ASCII text bytes
    themselves. An external SQL engine can therefore predict every
    byte, letting x203's oracle hash-check a REAL RIFF walker's output
    end-to-end. On a real cluster, binary ingestion reads actual audio
    files into the same ``payload`` column instead.
    """
    t = _ascii_only(F.col(text_col))
    length = F.octet_length(t)
    n = F.when(length == 0, F.lit(0)).otherwise((length - 1) % 90 + 1)
    nul = F.lit("\x00")

    def le(v, width: int):
        # little-endian field whose value fits one byte (< 0x80)
        return F.concat(F.char(v), *([nul] * (width - 1)))

    header = F.concat(
        F.lit("RIFF"), le(n + 36, 4), F.lit("WAVE"),
        F.lit("fmt "), le(F.lit(16), 4),
        le(F.lit(1), 2),            # audio format: PCM
        le(F.lit(1), 2),            # channels: mono
        F.lit("\x40\x1f\x00\x00"),  # sample rate 8000
        F.lit("\x40\x1f\x00\x00"),  # byte rate = rate·channels·bytes
        le(F.lit(1), 2),            # block align
        le(F.lit(8), 2),            # bits per sample
        F.lit("data"), le(n, 4),
        F.substring(t, 1, n),
    )
    return df.withColumn("payload", F.encode(header, "UTF-8"))


def _parse_wav(data: bytes):
    """Parse a RIFF/WAVE file per the spec: RIFF/WAVE magics, then a
    chunk walk (word-aligned per RIFF) collecting ``fmt `` and
    ``data``. PCM only; 8-bit samples sum unsigned, 16-bit as signed
    little-endian. Returns (rate, channels, bits, n_samples,
    duration_ms, sample_sum)."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, samples = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (csz,) = struct.unpack_from("<I", data, pos + 4)
        body = data[pos + 8 : pos + 8 + csz]
        if cid == b"fmt ":
            audio_fmt, n_ch, rate, _brate, balign, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            fmt = (audio_fmt, n_ch, rate, balign, bits)
        elif cid == b"data":
            samples = body
        pos += 8 + csz + (csz & 1)  # odd chunks pad to word boundary
    if fmt is None or samples is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, rate, balign, bits = fmt
    if audio_fmt != 1:
        raise ValueError(f"only PCM supported, got format {audio_fmt}")
    if rate <= 0:
        raise ValueError(f"invalid sample rate {rate}")
    n_samples = len(samples) // balign if balign else 0
    if bits == 8:
        sample_sum = sum(samples)
    elif bits == 16:
        sample_sum = sum(
            struct.unpack(f"<{len(samples) // 2}h", samples[: len(samples) & ~1])
        )
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    return rate, n_ch, bits, n_samples, n_samples * 1000 // rate, sample_sum


DECODED_AUDIO_SCHEMA = (
    "doc_id bigint, sample_rate int, n_channels int, bits int, "
    "n_samples bigint, duration_ms bigint, sample_sum bigint"
)


def decode_audio(df: DataFrame) -> DataFrame:
    """REAL audio decode through ``mapInPandas``: the Arrow-batched
    kernel walks the actual RIFF bytes of each payload — rate/channels/
    bit depth out of the parsed format chunk, duration and sample sum
    out of the data plane. Malformed payloads degrade to a -1×0 row
    rather than poisoning the batch. librosa/torchaudio swap in here
    for compressed codecs on a real cluster. Map-only; bytes never
    shuffle."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        import struct

        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "sample_rate", "n_channels", "bits",
                "n_samples", "duration_ms", "sample_sum",
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    # TypeError covers a NULL payload (bytes(None)) from
                    # real binary ingestion — degrade to the -1 sentinel
                    # row like any other malformed input
                    rate, ch, bits, ns, ms, ssum = _parse_wav(bytes(payload))
                except (ValueError, IndexError, TypeError, struct.error):
                    rate, ch, bits, ns, ms, ssum = -1, 0, 0, 0, 0, 0
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["bits"].append(bits)
                out["n_samples"].append(ns)
                out["duration_ms"].append(ms)
                out["sample_sum"].append(ssum)
            yield pd.DataFrame(out).astype(
                {"sample_rate": "int32", "n_channels": "int32", "bits": "int32"}
            )

    return df.select("doc_id", "payload").mapInPandas(
        kernel, schema=DECODED_AUDIO_SCHEMA
    )


def attach_ppm_stream_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthetic REAL-video payload builder: a container of
    ``L % 4 + 2`` concatenated binary P6 PPM frames (the raw-frame
    stream layout of Netpbm video / y4m-style pipes), frame ``f``
    sized ``((L+f) % 8 + 1) × ((L+f) % 6 + 1)`` with the text bytes
    tiled as pixels. Same ASCII-exact construction rule as
    :func:`attach_ppm_payload`, so x204's oracle predicts every
    sampled frame arithmetically."""
    t = _ascii_only(F.col(text_col))
    length = F.octet_length(t)
    k = length % 4 + 2

    def frame(f):
        w = (length + f) % 8 + 1
        h = (length + f) % 6 + 1
        npix = w * h * 3
        # greatest(length, 1): ANSI mode raises DIVIDE_BY_ZERO even in
        # expressions only reachable for length >= 1 unless guarded
        reps = F.ceil(npix / F.greatest(length, F.lit(1))).cast("int")
        tiled = F.substring(F.repeat(t, reps), 1, npix)
        return F.concat(
            F.lit("P6\n"), w.cast("string"), F.lit(" "), h.cast("string"),
            F.lit("\n255\n"), tiled,
        )

    frames = F.array_join(F.transform(F.sequence(F.lit(0), k - 1), frame), "")
    # an empty document has no pixel bytes to tile — its payload is an
    # empty stream (zero frames), matching the oracle's l > 0 filter
    return df.withColumn(
        "payload",
        F.when(length == 0, F.encode(F.lit(""), "UTF-8")).otherwise(
            F.encode(frames, "UTF-8")
        ),
    )


SAMPLED_FRAME_SCHEMA = (
    "doc_id bigint, frame_idx int, width int, height int, pixel_sum bigint"
)


def sample_frames_real(df: DataFrame, every: int = 2) -> DataFrame:
    """REAL frame sampling: the kernel walks the payload parsing
    consecutive P6 frames (header scan + pixel-plane stride — the same
    spec-compliant ``_parse_ppm``) and emits every ``every``-th frame
    with its parsed dims and pixel sum — the 1→N expansion an ffmpeg
    ``select='not(mod(n,k))'`` sampler produces. Map-only with
    batch-local expansion; no shuffle."""

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            ids, idxs, ws, hs, sums = [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # NULL payload → empty stream → zero frames emitted
                data = bytes(payload) if payload is not None else b""
                pos, f = 0, 0
                while pos < len(data):
                    try:
                        w, h, off = _parse_ppm(data[pos:])
                    except (ValueError, IndexError):
                        break
                    if pos + off + w * h * 3 > len(data):
                        break  # truncated pixel plane: reject, don't fabricate
                    if f % every == 0:
                        ids.append(doc_id)
                        idxs.append(f)
                        ws.append(w)
                        hs.append(h)
                        sums.append(
                            sum(data[pos + off : pos + off + w * h * 3])
                        )
                    pos += off + w * h * 3
                    f += 1
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "width": ws,
                    "height": hs,
                    "pixel_sum": sums,
                }
            ).astype({"frame_idx": "int32", "width": "int32", "height": "int32"})

    return df.select("doc_id", "payload").mapInPandas(
        kernel, schema=SAMPLED_FRAME_SCHEMA
    )


def media_metadata_only(df: DataFrame) -> DataFrame:
    """Metadata projection — never touches the payload bytes (column
    pruning drops the blob at the parquet scan)."""
    return df.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.byte_len").alias("byte_len"),
        F.col("media_meta.checksum").alias("checksum"),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-duplicate detection (image dedup plumbing)
# ---------------------------------------------------------------------------

PHASH_SCHEMA = "doc_id bigint, sig array<int>"

_PHASH_CELLS = 64
_PHASH_CHUNKS = 4  # 4 × 16-bit chunks -> pigeonhole pairs at hamming <= 3


def average_hash_kernel(
    batches: Iterator["pd.DataFrame"],
) -> Iterator["pd.DataFrame"]:
    """DETERMINISTIC average-hash kernel (``mapInPandas`` signature):
    split each payload into 64 equal byte cells, bit = cell mean above
    the global mean, packed into 4 × 16-bit int chunks (the
    :func:`~dirty_js_etl_spark.operators.dedup.chunked_signature_pairs`
    signature layout).

    REAL-DECODER SEAM: a production image pipeline decodes pixels and
    applies DCT (pHash) or resampling (aHash) before thresholding —
    byte cells stand in here (no image libs in this container). Small
    payload perturbations flip few cells, so hamming distance tracks
    payload similarity — the property the pairing layer needs.
    """
    import numpy as np

    for pdf in batches:
        sigs = []
        for b in pdf["payload"]:
            arr = np.frombuffer(bytes(b), dtype=np.uint8)
            if arr.size == 0:
                sigs.append([0] * _PHASH_CHUNKS)
                continue
            # pad to a multiple of 64 cells, cell means vs global mean
            cells = np.array_split(arr.astype(np.float64), _PHASH_CELLS)
            means = np.array([c.mean() if c.size else 0.0 for c in cells])
            bits = (means > arr.mean()).astype(np.int64)
            chunks = []
            per = _PHASH_CELLS // _PHASH_CHUNKS
            for c in range(_PHASH_CHUNKS):
                word = 0
                for i in range(per):
                    word |= int(bits[c * per + i]) << i
                chunks.append(word)
            sigs.append(chunks)
        yield type(pdf)({"doc_id": pdf["doc_id"], "sig": sigs})


def phash_signatures(df: DataFrame) -> DataFrame:
    """Arrow-batched perceptual signatures ``(doc_id, sig)`` for the
    payload column. Map-only — the expensive decode+hash never shuffles
    payload bytes; only the 4-int signature table moves downstream."""
    return df.select("doc_id", "payload").mapInPandas(
        average_hash_kernel, schema=PHASH_SCHEMA
    )


def phash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Image near-dup pairs: perceptual signature (map-only kernel) +
    the shared pigeonhole chunk join (``dedup.chunked_signature_pairs``).
    At 100 TB the payload bytes stay in the scan stage; what shuffles is
    the (id, chunk) table — same cost profile as SimHash text dedup.
    Returns ``(id_a, id_b, hamming)``.
    """
    from dirty_js_etl_spark.operators.dedup import chunked_signature_pairs

    base = phash_signatures(df).select(F.col("doc_id").alias("id"), "sig")
    return chunked_signature_pairs(base, max_hamming, max_bucket_size)
