"""Multimodal column plumbing (BASELINE.json scope).

Media are opaque ``binary`` columns with typed metadata structs; transforms
run as Arrow-batched ``mapInPandas`` so each task processes columnar
batches — the right shape for decode/resize/frame-sample at scale (the
bytes never round-trip through the driver; partitioning is inherited from
the source).

Decode tiers: ``decode_media(fake=True)`` produces deterministic
pseudo-features from the bytes (the test-data tier — documents stand in for
media). ``fake=False`` runs a REAL pure-Python container-header decode for
PNG / GIF / JPEG / BMP (:func:`parse_image_header` — dimensions and type
from the byte layout, no codec library needed).
Frame sampling and embedding stay stubbed behind ``fake`` (ffmpeg / a model
runtime would slot in); the Spark-side plumbing — schema, batch iteration,
UDF signature, 1->N fan-out — is real and tested either way.

Failure policy (the 100 TB contract): data-dependent decode failures —
unsupported containers, malformed headers, absurd dimensions — are
QUARANTINED per row (``ok=false`` + an ``error`` string, metadata columns
NULL), never raised inside the task: one bad blob in a trillion must not
kill the job. ``strict=True`` restores the raise for debugging. Mode
errors that are knowable at plan time (``fake=False`` on a fully stubbed
codec path) raise eagerly on the driver at call time instead of from
inside ``mapInPandas``.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_image_header(b: bytes) -> tuple[str, int, int] | None:
    """(media_type, width, height) from container header bytes alone —
    PNG / GIF / BMP / JPEG, pure Python. None if the format is unknown.

    This is the decode tier that needs no codec: at 100 TB, header-only
    parsing is how you filter/bucket a media corpus by dimensions without
    paying for pixel decode."""
    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack(">II", b[16:24])
        return ("image/png", w, h)
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return ("image/gif", w, h)
    if len(b) >= 26 and b[:2] == b"BM":
        hdr = struct.unpack("<I", b[14:18])[0]
        if hdr >= 40:
            w, h = struct.unpack("<ii", b[18:26])
            return ("image/bmp", w, abs(h))
        w, h = struct.unpack("<HH", b[18:22])  # BITMAPCOREHEADER
        return ("image/bmp", w, h)
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        # walk JPEG segments to the first SOFn frame header
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return ("image/jpeg", w, h)
            i += 2 + seg_len
        return None
    return None

MEDIA_SCHEMA = (
    "doc_id long, n_bytes long, media_type string, width int, height int, "
    "checksum long, ok boolean, error string"
)

# dimensions outside this range are corrupt-or-hostile headers (PNG is
# big-endian u32: a wild value would silently wrap an int32 cast)
_MAX_DIM = (1 << 31) - 1


def _dim_error(w: int, h: int) -> str | None:
    if w <= 0 or h <= 0:
        return f"non-positive dimensions {w}x{h}"
    if w > _MAX_DIM or h > _MAX_DIM:
        return f"dimensions {w}x{h} exceed int32"
    return None


def attach_fake_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Make a media-shaped table from text: bytes = utf-8 encode, plus a
    typed metadata struct. Stands in for (image_bytes, exif) columns."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.encode(F.col(text_col), "UTF-8").alias("media_bytes"),
        F.struct(
            F.lit("image/fake").alias("content_type"),
            F.octet_length(F.encode(F.col(text_col), "UTF-8")).alias("n_bytes"),
        ).alias("media_meta"),
    )


def decode_media(df: DataFrame, fake: bool = True, strict: bool = False) -> DataFrame:
    """Decode/feature-extract media via mapInPandas (Arrow batches).

    With ``fake=True``: deterministic pseudo-decode — n_bytes, a checksum,
    and a fake width/height derived from the byte length (so downstream
    resize/crop plumbing has real-shaped inputs on the text-as-media test
    corpus). With ``fake=False``: REAL header decode via
    :func:`parse_image_header` (PNG/GIF/BMP/JPEG dimensions from the byte
    layout). Rows whose bytes are no supported container, or whose header
    reports invalid dimensions (<= 0 or > int32 — corrupt/hostile headers),
    are QUARANTINED: ``ok=false``, ``error`` set, metadata columns NULL.
    ``strict=True`` raises instead (debug tier only — at corpus scale one
    malformed blob must not kill the job). Route ``ok=false`` rows to a
    problem-rows sink, the same pattern the cleaning pipeline uses.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            b = pdf["media_bytes"]
            n = b.map(len)
            checksum = b.map(lambda x: sum(x[:64]) if len(x) else 0)
            if fake:
                media_type = pdf["media_meta"].map(lambda m: m["content_type"])
                width = (n % 640 + 1).astype("int32")
                height = (n % 480 + 1).astype("int32")
                ok = pd.Series([True] * len(pdf), dtype="bool")
                err = pd.Series([None] * len(pdf), dtype=object)
            else:
                mt, ww, hh, oks, errs = [], [], [], [], []
                for x in b:
                    parsed = parse_image_header(bytes(x))
                    e = (
                        "unsupported container (not PNG/GIF/BMP/JPEG); pixel "
                        "codecs (PIL/ffmpeg) are not in this environment"
                        if parsed is None
                        else _dim_error(parsed[1], parsed[2])
                    )
                    if e is not None:
                        if strict:
                            raise NotImplementedError(e)
                        mt.append(None)
                        ww.append(None)
                        hh.append(None)
                        oks.append(False)
                        errs.append(e)
                    else:
                        mt.append(parsed[0])
                        ww.append(parsed[1])
                        hh.append(parsed[2])
                        oks.append(True)
                        errs.append(None)
                media_type = pd.Series(mt, dtype=object)
                # Int32 (nullable), not int32: quarantined rows carry NULL dims
                width = pd.Series(ww, dtype="Int32")
                height = pd.Series(hh, dtype="Int32")
                ok = pd.Series(oks, dtype="bool")
                err = pd.Series(errs, dtype=object)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n,
                    "media_type": media_type,
                    "width": width,
                    "height": height,
                    "checksum": checksum,
                    "ok": ok,
                    "error": err,
                }
            )

    return df.mapInPandas(_decode, schema=MEDIA_SCHEMA)


FRAME_SCHEMA = (
    "doc_id long, frame_idx int, byte_offset long, frame_bytes binary, frame_checksum long"
)


def sample_frames(
    df: DataFrame,
    frame_size: int = 64,
    stride: int = 256,
    max_frames: int = 4,
    fake: bool = True,
) -> DataFrame:
    """Video frame sampling plumbing: ONE input row -> N frame rows.

    The 1->N row fan-out is the mapInPandas shape batch UDFs can't do
    (a scalar Arrow UDF is 1:1) — each output frame carries its byte offset and a
    binary payload, so downstream per-frame decode/embed sees ordinary
    rows. ``fake=True`` slices deterministic pseudo-frames from the media
    bytes; ``fake=False`` raises where an ffmpeg keyframe pull would go —
    EAGERLY at call time (the whole mode is unimplemented, a plan-time
    fact; failing inside the task would waste a cluster-wide launch).
    Partitioning is inherited; no shuffle.
    """
    if not fake:
        raise NotImplementedError(
            "real frame sampling requires ffmpeg (not in container); "
            "use fake=True for the deterministic stub"
        )

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, frames, sums = [], [], [], [], []
            for doc, b in zip(pdf["doc_id"], pdf["media_bytes"]):
                n_frames = min(max_frames, max(1, len(b) // stride))
                for i in range(n_frames):
                    off = i * stride
                    fb = bytes(b[off : off + frame_size])
                    ids.append(doc)
                    idxs.append(i)
                    offs.append(off)
                    frames.append(fb)
                    sums.append(sum(fb))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "byte_offset": pd.Series(offs, dtype="int64"),
                    "frame_bytes": pd.Series(frames, dtype=object),
                    "frame_checksum": pd.Series(sums, dtype="int64"),
                }
            )

    return df.mapInPandas(_sample, schema=FRAME_SCHEMA)


def embed_media(df: DataFrame, dim: int = 16, fake: bool = True) -> DataFrame:
    """Feature extraction plumbing: media bytes -> ``array<float>`` pseudo-
    embedding (deterministic: crc32 of every ``dim``-th byte stride, scaled
    to [-1, 1]). Real models would run here (ONNX/torch per Arrow batch);
    the output column plugs straight into operators/similarity — the
    multimodal -> vector-search bridge. Output: (doc_id, embedding).
    """
    from zlib import crc32

    if not fake:
        # plan-time fact, so raise on the driver, not per-task
        raise NotImplementedError(
            "real embedding requires a model runtime (not in container); "
            "use fake=True for the deterministic stub"
        )

    def _embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for b in pdf["media_bytes"]:
                out.append(
                    [crc32(bytes(b[j::dim])) / 2147483647.5 - 1.0 for j in range(dim)]
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "embedding": out})

    return df.mapInPandas(_embed, schema="doc_id long, embedding array<float>")


RESIZE_SCHEMA = (
    "doc_id long, src_width int, src_height int, dst_width int, dst_height int, "
    "scale double, resized_bytes binary, resized_checksum long, ok boolean, error string"
)


def resize_media(
    df: DataFrame,
    max_w: int = 224,
    max_h: int = 224,
    fake: bool = True,
    strict: bool = False,
) -> DataFrame:
    """Resize plumbing: aspect-preserving fit of each medium into a
    ``max_w x max_h`` box via mapInPandas.

    The geometry (scale factor, destination dims — floor semantics,
    never upscale) is real and engine-portable; the pixel resample is the
    codec boundary: ``fake=True`` emits a deterministic byte-stride
    downsample of the payload (so downstream per-size batching/bucketing
    plumbing sees honestly-shrunken binaries), ``fake=False`` raises where
    a real PIL/ffmpeg scaler would run — eagerly at call time (plan-time
    fact). Rows with NULL or out-of-range source dimensions (a quarantined
    upstream decode, or a corrupt-but-parsable header reporting 0 dims)
    become quarantine rows (``ok=false`` + ``error``, geometry NULL)
    rather than a task-killing ZeroDivisionError; ``strict=True`` raises.
    Pure map stage — partitioning inherited, no shuffle.
    """
    if not fake:
        raise NotImplementedError(
            "real pixel resampling requires PIL/ffmpeg (not in "
            "container); use fake=True for the deterministic stub"
        )

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sw, sh, dw, dh, sc, rb, ck = [], [], [], [], [], [], [], []
            oks, errs = [], []
            for doc, b, w, h in zip(
                pdf["doc_id"], pdf["media_bytes"], pdf["width"], pdf["height"]
            ):
                ids.append(doc)
                e = (
                    "NULL source dimensions (upstream decode quarantined?)"
                    if pd.isna(w) or pd.isna(h)
                    else _dim_error(int(w), int(h))
                )
                if e is not None:
                    if strict:
                        raise ValueError(f"resize_media: doc_id={doc}: {e}")
                    sw.append(None)
                    sh.append(None)
                    dw.append(None)
                    dh.append(None)
                    sc.append(None)
                    rb.append(None)
                    ck.append(None)
                    oks.append(False)
                    errs.append(e)
                    continue
                w, h = int(w), int(h)
                scale = min(max_w / w, max_h / h, 1.0)
                tw, th = max(1, int(w * scale)), max(1, int(h * scale))
                # deterministic byte-stride downsample ~ payload area ratio
                # (truncating division — floor semantics are SQL-portable,
                # Python round() is banker's and DuckDB's is half-away)
                stride = max(1, int(1.0 / (scale * scale)))
                rbytes = bytes(b[::stride])
                sw.append(w)
                sh.append(h)
                dw.append(tw)
                dh.append(th)
                sc.append(scale)
                rb.append(rbytes)
                ck.append(sum(rbytes))
                oks.append(True)
                errs.append(None)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "src_width": pd.Series(sw, dtype="Int32"),
                    "src_height": pd.Series(sh, dtype="Int32"),
                    "dst_width": pd.Series(dw, dtype="Int32"),
                    "dst_height": pd.Series(dh, dtype="Int32"),
                    "scale": pd.Series(sc, dtype="float64"),
                    "resized_bytes": pd.Series(rb, dtype=object),
                    "resized_checksum": pd.Series(ck, dtype="Int64"),
                    "ok": pd.Series(oks, dtype="bool"),
                    "error": pd.Series(errs, dtype=object),
                }
            )

    return df.mapInPandas(_resize, schema=RESIZE_SCHEMA)
