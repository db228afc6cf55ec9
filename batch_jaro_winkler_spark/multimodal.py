"""Multimodal column plumbing: opaque binary payloads + typed metadata.

A 100 TB training-data pipeline carries images/audio/video as ``binary``
columns next to text.  This module implements the Spark-side plumbing —
schema, magic-byte sniffing, batched decode dispatch, partition-friendly
UDF shapes.  Media work dispatches through three tables fixed at import
(``_DECODE``, ``_RESIZE``, ``_FRAMES``): pure-python PNG/JPEG decode and
resize (functions/png.py, functions/jpeg.py) and block-structure
demuxers for the five frame-bearing containers (functions/containers.py).
Every other (mime, operation) falls back to a deterministic sha-derived
STUB with the real output contract, which the SQL oracles reproduce.

Everything metadata-level (byte length, sniffed mime, sha-based content
id) is built-in-function or vectorized work; only decode crosses into
Python, batched via ``mapInPandas``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from batch_jaro_winkler_spark.functions.containers import (
    gif_frames,
    mp3_frames,
    mp4_frames,
    wav_frames,
    webm_frames,
)
from batch_jaro_winkler_spark.functions.jpeg import (
    jpeg_features,
    jpeg_pixel_features,
    resize_jpeg,
)
from batch_jaro_winkler_spark.functions.png import png_features, resize_png

__all__ = [
    "MAGIC_BYTES",
    "STUB_DIM",
    "sniff_mime",
    "sniff_mime_sql",
    "stub_feat0_sql",
    "decode_features",
    "resize_images",
    "sample_frames",
    "frame_features",
]

# magic-byte prefixes → mime (hex-encoded prefix, JVM-side comparable)
MAGIC_BYTES = [
    ("89504E47", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("47494638", "image/gif"),
    ("52494646", "audio/wav-or-avi"),  # RIFF container
    ("494433", "audio/mpeg"),
    ("1A45DFA3", "video/webm"),
    ("3C68746D6C", "text/html"),
    ("3C21646F63", "text/html"),  # "<!doc"
]


# ISO BMFF (mp4/mov/m4a family) is not prefix-sniffable: bytes 1-4 are a
# box size, the signature is the "ftyp" fourcc at bytes 5-8 (hex-head
# positions 9-16).  Checked after the prefix table in BOTH sniffers.
ISO_BMFF_FTYP_HEX = "66747970"
ISO_BMFF_MIME = "video/mp4"


def sniff_mime(payload: F.Column) -> F.Column:
    """Magic-byte mime sniff as a pure Column expression (codegen'd)."""
    head = F.upper(F.hex(F.substring(payload, 1, 8)))
    expr = F.when(
        F.substring(head, 9, 8) == ISO_BMFF_FTYP_HEX.upper(),
        F.lit(ISO_BMFF_MIME),
    ).otherwise(F.lit("application/octet-stream"))
    for prefix, mime in reversed(MAGIC_BYTES):
        expr = F.when(head.startswith(prefix.upper()), F.lit(mime)).otherwise(expr)
    return expr


def sniff_mime_sql(text_expr: str) -> str:
    """DuckDB twin of :func:`sniff_mime` for utf-8-encoded text payloads,
    generated from the same MAGIC_BYTES table so the two cannot drift.

    Byte-equivalence argument (covers the POSITIONAL ftyp test too, not
    just prefixes — ADVICE_r5): ``encode(substr(t, 1, 8))`` is the utf-8
    encoding of the first 8 characters, and a character prefix always
    encodes to a BYTE prefix of the full encoding, with >= 8 bytes (>= 1
    byte per char).  Hex digits map 2-per-byte, so hex positions 9-16 are
    bytes 5-8 of the payload regardless of any multibyte chars in
    positions 1-8 — the same bytes Spark's ``substring(payload, 1, 8)``
    hex positions 9-16 read.  Every magic prefix is <= 5 bytes, so the
    starts_with tests also compare inside the shared region.  Pinned by a
    seeded multibyte fuzz in tests/test_operators.py
    (test_sniff_mime_sql_matches_byte_semantics)."""
    head = f"upper(hex(encode(substr({text_expr}, 1, 8))))"
    whens = " ".join(
        f"WHEN starts_with({head}, '{prefix.upper()}') THEN '{mime}'"
        for prefix, mime in MAGIC_BYTES
    )
    whens += (
        f" WHEN substr({head}, 9, 8) = '{ISO_BMFF_FTYP_HEX.upper()}'"
        f" THEN '{ISO_BMFF_MIME}'"
    )
    return f"(CASE {whens} ELSE 'application/octet-stream' END)"


def stub_feat0_sql(text_expr: str) -> str:
    """DuckDB twin of _stub_decoder's feature[0] for a utf-8 text payload:
    the first little-endian uint16 of sha256(payload), / 65535 quantized to
    float32 (::FLOAT reproduces numpy's float32 division exactly — the
    quotient has odd denominator, so no double-rounding ties exist)."""
    hh = f"lower(sha256({text_expr}))"
    digits = "'0123456789abcdef'"

    def nib(i: int) -> str:
        return f"(strpos({digits}, substr({hh}, {i}, 1)) - 1)"

    k = f"(({nib(1)}*16 + {nib(2)}) + 256*({nib(3)}*16 + {nib(4)}))"
    return f"(({k}::DOUBLE / 65535.0)::FLOAT::DOUBLE)"


# Media dispatch, fixed at import.  Lookups are table.get(key, <stub>).
# decode: mime → fn(list[bytes]) -> np.ndarray[(n, dim) float32].
# "image/jpeg" is the baseline huffman+IDCT pixel decoder; the structural
# marker-walk parser sits under "image/jpeg+meta" (it also reads the
# progressive streams the pixel path refuses) and is reached only through
# decode_features(batch_mime="image/jpeg+meta").
_DECODE = {
    "image/jpeg": jpeg_pixel_features,
    "image/jpeg+meta": jpeg_features,
    "image/png": png_features,
}
# resize: mime → fn(payload: bytes, *, width, height) -> bytes
_RESIZE = {
    "image/png": resize_png,
    "image/jpeg": resize_jpeg,
}
# frame iterators: mime → fn(payload: bytes, every_n) -> (frame_no, bytes)*
_FRAMES = {
    "image/gif": gif_frames,
    "audio/wav-or-avi": wav_frames,
    "video/mp4": mp4_frames,
    "audio/mpeg": mp3_frames,
    "video/webm": webm_frames,
}


STUB_DIM = 16  # _stub_decoder output width; shared with the SQL twin


def _stub_decoder(payloads: list) -> np.ndarray:
    """STUB decode for mimes without a real decoder: a deterministic
    content-derived pseudo-feature (sha-seeded) with the REAL output
    contract, (n, dim) float32; stub_feat0_sql is its feature[0] in SQL.
    Raises for empty payloads like a real decoder would."""
    import hashlib

    dim = STUB_DIM
    out = np.empty((len(payloads), dim), dtype=np.float32)
    for i, b in enumerate(payloads):
        if not b:
            raise ValueError("cannot decode empty payload")
        digest = hashlib.sha256(b).digest()
        out[i] = np.frombuffer(digest[: dim * 2], dtype=np.uint16).astype(
            np.float32
        ) / np.float32(65535.0)
    return out


def _decode(df: DataFrame, keys: str, batch_mime: str | None) -> DataFrame:
    """df[<keys>, payload] → (<keys>, mime, features array<float>,
    decode_error string); ``keys`` is the schema of the key columns, e.g.
    ``"doc_id long"``.

    Per Arrow batch, one decoder call per sniffed-mime group (or per
    ``batch_mime`` when given).  If that call raises, the group is
    retried payload by payload, so only the bad payloads get a
    ``decode_error`` and the job stays alive — at 10^12 rows some
    payloads are always corrupt."""
    names = [k.split()[0] for k in keys.split(",")]
    metad = df.select(
        *names, "payload", sniff_mime(F.col("payload")).alias("mime")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mime, grp in pdf.groupby("mime", sort=False):
                fn = _DECODE.get(batch_mime or mime, _stub_decoder)
                payloads = list(grp["payload"])
                try:
                    out = [(f.tolist(), None) for f in fn(payloads)]
                except Exception:
                    out = []
                    for b in payloads:
                        try:
                            out.append((fn([b])[0].tolist(), None))
                        except Exception as exc:
                            out.append((None, str(exc)[:200]))
                for key, (f, err) in zip(zip(*(grp[n] for n in names)), out):
                    rows.append((*key, mime, f, err))
            yield pd.DataFrame(
                rows, columns=[*names, "mime", "features", "decode_error"]
            )

    return metad.mapInPandas(
        run,
        schema=f"{keys}, mime string, features array<float>, decode_error string",
    )


def decode_features(df: DataFrame, batch_mime: str | None = None) -> DataFrame:
    """df[doc_id, payload] → (doc_id, mime, features array<float>,
    decode_error string).

    Batched decode over ``mapInPandas``: rows are grouped by sniffed mime
    inside each Arrow batch and dispatched through ``_DECODE`` (the stub
    for mimes it does not hold).  ``batch_mime`` overrides the dispatch
    key for every row; the ``mime`` column stays the sniffed one.  Decode
    failures land in ``decode_error`` per payload instead of failing the
    job."""
    return _decode(df, "doc_id long", batch_mime)


# ---------------------------------------------------------------------------
# image resize / video frame-sampling plumbing: one mapInPandas pass each;
# mimes missing from _RESIZE / _FRAMES fall back to the sha-derived stubs
# below.


def _stub_resize(payload: bytes, width: int, height: int) -> bytes:
    """STUB resize for mimes without a real resizer: deterministic
    content-derived pseudo-thumbnail with the REAL output contract (bytes,
    size-bounded by width*height)."""
    import hashlib

    if not payload:
        raise ValueError("cannot resize empty payload")
    out_len = min(len(payload), width * height)
    seed = hashlib.sha256(payload + f"{width}x{height}".encode()).digest()
    reps = (out_len + len(seed) - 1) // len(seed)
    return (seed * reps)[:out_len]


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """df[doc_id, payload] → (doc_id, mime, thumb binary, n_bytes_in,
    n_bytes_out, resize_error).

    Batched over ``mapInPandas`` (one Python roundtrip per Arrow batch, no
    shuffle, no per-row UDF); failures land in ``resize_error`` instead of
    failing the job.  At 100 TB the partition shape matters more than the
    pixel math: payloads never leave their input partition."""
    metad = df.select(
        "doc_id", "payload", sniff_mime(F.col("payload")).alias("mime")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, mime in zip(
                pdf["doc_id"], pdf["payload"], pdf["mime"]
            ):
                fn = _RESIZE.get(mime, _stub_resize)
                try:
                    thumb = fn(bytes(payload), width=width, height=height)
                    rows.append(
                        (doc_id, mime, thumb, len(payload), len(thumb), None)
                    )
                except Exception as exc:
                    rows.append(
                        (doc_id, mime, None, len(payload or b""), None,
                         str(exc)[:200])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "mime", "thumb", "n_bytes_in", "n_bytes_out",
                    "resize_error",
                ],
            )

    return metad.mapInPandas(
        run,
        schema=(
            "doc_id long, mime string, thumb binary, n_bytes_in long, "
            "n_bytes_out long, resize_error string"
        ),
    )


def _stub_frame_iter(payload: bytes, every_n: int):
    """STUB frame iterator for mimes without a real demuxer: treats the
    payload as fixed-size 4KiB 'frames' and yields every n-th."""
    frame_sz = 4096
    n_frames = max(1, (len(payload) + frame_sz - 1) // frame_sz)
    for i in range(0, n_frames, every_n):
        yield i, payload[i * frame_sz : (i + 1) * frame_sz]


def sample_frames(df: DataFrame, every_n: int = 10) -> DataFrame:
    """df[doc_id, payload] → (doc_id, frame_no, frame binary): every n-th
    frame of each video payload, exploded to one row per sampled frame.

    The explode happens INSIDE mapInPandas (variable fan-out per input
    row), so downstream per-frame operators (decode_features over frames,
    near-dup hashing of thumbnails) see plain rows; partitioning stays
    inherited — repartition downstream if per-frame work is heavy."""
    metad = df.select(
        "doc_id", "payload", sniff_mime(F.col("payload")).alias("mime")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nos, frames = [], [], []
            for doc_id, payload, mime in zip(
                pdf["doc_id"], pdf["payload"], pdf["mime"]
            ):
                if not payload:
                    continue
                fn = _FRAMES.get(mime, _stub_frame_iter)
                # buffer per-doc so a demuxer that raises mid-iteration
                # (valid through frame k, truncated after) contributes
                # NO frames — the documented all-or-nothing soft behavior
                doc_rows = []
                try:
                    for frame_no, frame in fn(bytes(payload), every_n):
                        doc_rows.append((frame_no, frame))
                except ValueError:
                    # malformed container: no frames, same soft behavior
                    # as an empty payload
                    continue
                for frame_no, frame in doc_rows:
                    ids.append(doc_id)
                    nos.append(frame_no)
                    frames.append(frame)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_no": nos, "frame": frames}
            )

    return metad.mapInPandas(
        run, schema="doc_id long, frame_no int, frame binary"
    )


def frame_features(df: DataFrame) -> DataFrame:
    """df[doc_id, payload] → (doc_id, frame_no, mime, features
    array<float>, decode_error string): demux every 2nd frame of each
    container payload (:func:`sample_frames`), then send each SAMPLED
    FRAME through the same decode pass as :func:`decode_features` — an
    MP4 whose samples are JPEGs demuxes container-side, then each frame
    sniffs image/jpeg and hits the real pixel decoder.  Decode failures
    land in ``decode_error`` per frame (the demux already succeeded; one
    bad frame must not drop its siblings).  Two mapInPandas passes, zero
    shuffles — frames stay in their input partition."""
    frames = sample_frames(df, every_n=2).withColumnRenamed("frame", "payload")
    return _decode(frames, "doc_id long, frame_no int", None)
