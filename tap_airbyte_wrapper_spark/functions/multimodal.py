"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real — schemas, Arrow-batched ``mapInPandas``
transforms, partition sizing — and decode goes through the pluggable
codec registry in :mod:`.codecs`: PCM WAV and 8-bit PNG decode for real
with stdlib-only codecs; PIL registers a generic ``image/*`` decoder
when importable; media types with no registered codec raise
``NotImplementedError`` executor-side unless ``fake=True``, which
substitutes deterministic byte-derived stubs so the pipeline shape
(schemas, batch flow, fan-out cardinality) stays testable for any type.

Design rules for 100 TB of media:
* binary payloads ride a dedicated ``media`` column; never groupBy/join on
  it — all bucketing happens on the md5 ``media_hash``;
* media transforms are ``mapInPandas`` (Arrow batches) so bytes cross the
  JVM<->Python boundary once per batch, not per row;
* frame sampling fans out rows; keep ``spark.sql.files.maxPartitionBytes``
  small enough that post-fanout partitions still fit executor memory.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F, types as T
from pyspark.sql.functions import pandas_udf

from . import audio_meta as _audio, codecs as _codecs, video as _video
from . import hamming, index_store as store
from .exif import exif_metadata as _exif


def _payload_and_type(b) -> tuple[bytes, str]:
    """Unpack a media-struct dict or raw binary cell."""
    if isinstance(b, dict):
        return bytes(b.get("media") or b""), b.get("media_type") or ""
    return bytes(b or b""), ""

__all__ = [
    "MEDIA_SCHEMA",
    "as_media",
    "with_media_metadata",
    "probe_media_meta",
    "exif_meta",
    "decode_image",
    "decode_audio",
    "header_dimensions",
    "image_ahash",
    "image_near_dup_pairs",
    "audio_ahash",
    "media_window_sig",
    "mp4_timing_sig",
    "video_timing_sig",
    "audio_timing_sig",
    "media_timing_sig",
    "media_container_near_dup_pairs",
    "media_timing_near_dup_pairs",
    "mp4_asset_payload",
    "media_sig_index_write",
    "media_dedup_delta",
    "media_sig_index_append",
    "resize_image",
    "extract_features",
    "sample_frames",
]

#: Canonical multimodal column bundle: payload + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media", T.BinaryType()),
        T.StructField("media_type", T.StringType()),       # image/png, audio/wav, ...
        T.StructField("media_hash", T.StringType()),       # md5 hex of payload
        T.StructField("size_bytes", T.LongType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)


def as_media(payload: Column, media_type: Column | str) -> Column:
    """Bundle a binary payload into the canonical media struct."""
    mt = F.lit(media_type) if isinstance(media_type, str) else media_type
    return F.struct(
        payload.alias("media"),
        mt.alias("media_type"),
        F.md5(payload).alias("media_hash"),
        F.length(payload).cast("long").alias("size_bytes"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )


def with_media_metadata(df: DataFrame, binary_col: str, media_type: str,
                        out_col: str = "media_bundle") -> DataFrame:
    """Bundle a binary column into the canonical media struct and fill
    ``meta`` with whatever HEADER-ONLY probes recognize: image
    width/height (PNG/JPEG/GIF header walk) and — for video containers
    — duration/resolution/codec/track counts (MP4 ``moov`` box walk,
    Matroska EBML; see :mod:`.video`).  No pixel or frame decode: the
    probes read container metadata only, which is what makes this the
    asset-inventory pass that can run over 100 TB of media (frame
    decode stays behind the codec registry / out of engine scope)."""
    bundled = df.withColumn(out_col, as_media(F.col(binary_col), media_type))
    probed = probe_media_meta(F.col(out_col).getField("media"))
    merged = F.map_concat(
        F.col(out_col).getField("meta"),
        F.map_filter(probed, lambda _, v: v.isNotNull()))
    return bundled.withColumn(
        out_col,
        F.struct(
            F.col(out_col).getField("media").alias("media"),
            F.col(out_col).getField("media_type").alias("media_type"),
            F.col(out_col).getField("media_hash").alias("media_hash"),
            F.col(out_col).getField("size_bytes").alias("size_bytes"),
            merged.alias("meta"),
        ))


def mp4_stub_payload(width: Column, height: Column,
                     duration_ms: Column) -> Column:
    """Assemble a minimal real MP4 container per row (see
    :func:`.video.mp4_stub`) — deterministic fake payloads for
    exercising the probe/filter plumbing end-to-end with actual
    container bytes.  Arrow pandas UDF, one builder call per row."""
    from .video import mp4_stub

    @pandas_udf("binary")
    def build(w: pd.Series, h: pd.Series, d: pd.Series) -> pd.Series:
        return pd.Series([
            mp4_stub(int(a), int(b), int(c))
            for a, b, c in zip(w, h, d)])

    return build(width, height, duration_ms)


def wav_stub_payload(sample_rate: Column, channels: Column,
                     n_frames: Column) -> Column:
    """Per-row RIFF/WAVE headers (see :func:`.audio_meta.wav_stub`) —
    deterministic fake audio assets for probe/gate plumbing tests."""
    from .audio_meta import wav_stub

    @pandas_udf("binary")
    def build(sr: pd.Series, ch: pd.Series, n: pd.Series) -> pd.Series:
        return pd.Series([
            wav_stub(int(a), int(b), int(c))
            for a, b, c in zip(sr, ch, n)])

    return build(sample_rate, channels, n_frames)


def exif_stub_payload(orientation: Column, make: Column, model: Column,
                      datetime_original: Column,
                      byte_order: Column) -> Column:
    """Per-row minimal JPEG (SOI + APP1/Exif + EOI) with planted
    metadata (see :func:`.exif.exif_app1`) — the deterministic fixture
    builder for the EXIF probe's fleet entry and plumbing tests.
    Arrow pandas UDF, one builder call per row."""
    from .exif import exif_app1

    @pandas_udf("binary")
    def build(o: pd.Series, mk: pd.Series, md: pd.Series,
              dt: pd.Series, bo: pd.Series) -> pd.Series:
        return pd.Series([
            b"\xff\xd8" + exif_app1(int(a), str(b), str(c), str(d),
                                    str(e)) + b"\xff\xd9"
            for a, b, c, d, e in zip(o, mk, md, dt, bo)])

    return build(orientation, make, model, datetime_original, byte_order)


def probe_media_meta(col: Column) -> Column:
    """``map<string,string>`` of header-probe results for a binary
    payload: video container metadata (``container``/``duration_s``/
    ``width``/``height``/``video_codec``/``n_video_tracks``/
    ``n_audio_tracks``), audio container metadata (``container``/
    ``codec``/``sample_rate``/``channels``/``duration_s``/
    ``duration_exact``), or image dims (``width``/``height``).  Values
    are stringified for the open-ended meta map; absent keys mean no
    probe recognized the container.  Arrow pandas UDF, one pass, zero
    shuffle."""

    @pandas_udf("map<string,string>")
    def probe(payloads: pd.Series) -> pd.Series:
        return pd.Series([_probe_entries(bytes(p) if p is not None else None)
                          for p in payloads])

    return probe(col)


def _probe_entries(b: bytes | None) -> dict[str, str]:
    """:func:`probe_media_meta` of one payload."""
    if not b:
        return {}
    # magic-exact probes first; the MP3 sync scan inside audio_metadata
    # is heuristic, so images must not reach it
    got = _video.video_metadata(b)
    dims = _codecs.image_dimensions(b) if got is None else None
    if got is None and dims is None:
        got = _audio.audio_metadata(b)
    if got is not None:
        return {k: str(v) for k, v in got.items() if v is not None}
    if dims is None:
        return {}
    entries = {"width": str(dims[0]), "height": str(dims[1])}
    entries.update({k: str(v) for k, v in (_exif(b) or {}).items()})
    return entries


def exif_meta(col: Column) -> Column:
    """``map<string,string>`` of inventory EXIF fields for a JPEG
    binary column (``orientation``/``make``/``model``/``datetime``/
    ``datetime_original``/``pixel_x``/``pixel_y`` — whatever the APP1
    TIFF walk finds; see :mod:`.exif`).  Empty map when there is no
    parseable EXIF; never raises.  Arrow pandas UDF, header bytes
    only, zero shuffle."""

    @pandas_udf("map<string,string>")
    def probe(payloads: pd.Series) -> pd.Series:
        out = []
        for p in payloads:
            got = _exif(bytes(p)) if p is not None else None
            out.append({k: str(v) for k, v in got.items()}
                       if got else {})
        return pd.Series(out)

    return probe(col)


_IMAGE_SCHEMA = (
    "width int, height int, channels int, pixel_checksum bigint"
)


def decode_image(
    df: DataFrame, media_col: str, fake: bool = False, batch_hint: int = 64
) -> DataFrame:
    """Decode images to (width, height, channels, pixel_checksum).

    Decode is real for any media_type with a registered codec (PNG via
    the stdlib codec; every image family once PIL is importable) —
    ``pixel_checksum`` is the md5-derived checksum of the DECODED pixel
    buffer.  Types with no codec raise NotImplementedError executor-side
    on first batch; ``fake=True`` instead derives deterministic
    dimensions from the payload hash, keeping the Arrow batch path,
    schema, and row cardinality production-shaped.
    """
    passthrough = [f for f in df.schema.fields if f.name != media_col]
    out_schema = T.StructType(passthrough + list(T.StructType.fromDDL(_IMAGE_SCHEMA)))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[[f.name for f in passthrough]].copy()
            ws, hs, chs, cks = [], [], [], []
            for b in pdf[media_col]:
                payload, mtype = _payload_and_type(b)
                codec = _codecs.image_codec_for(mtype)
                if codec is not None and not fake:
                    w, h, pixels = codec(payload)
                    ws.append(w)
                    hs.append(h)
                    chs.append(pixels.shape[2])
                    d = hashlib.md5(pixels.tobytes()).digest()
                elif fake:
                    d = hashlib.md5(payload).digest()
                    ws.append(16 + d[0] % 64)
                    hs.append(16 + d[1] % 64)
                    chs.append(3)
                else:
                    raise NotImplementedError(
                        f"no image codec registered for {mtype!r} (stdlib "
                        "codec covers image/png; install PIL for other "
                        "formats, or pass fake=True for the deterministic "
                        "stub)"
                    )
                cks.append(int.from_bytes(d[:8], "big", signed=True))
            out["width"] = ws
            out["height"] = hs
            out["channels"] = chs
            out["pixel_checksum"] = cks
            yield out

    return df.mapInPandas(decode, out_schema)


def resize_image(
    df: DataFrame,
    media_col: str,
    width: int,
    height: int,
    fake: bool = False,
) -> DataFrame:
    """Resize images to (width, height): media bundle in, media bundle out
    (payload replaced, metadata updated with target dims).

    With a registered codec the pipeline is real: decode ->
    nearest-neighbor resample (numpy fancy indexing) -> re-encode as
    PNG.  Codec-less types raise executor-side unless ``fake=True``,
    which emits a deterministic byte-stub of plausible size (w*h*3
    capped) so downstream batch shape, hashing, and size accounting are
    still exercised."""
    passthrough = [f for f in df.schema.fields if f.name != media_col]
    out_schema = T.StructType(
        passthrough + [T.StructField(media_col, MEDIA_SCHEMA)])

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bundles = []
            for b in pdf[media_col]:
                payload, mtype = _payload_and_type(b)
                codec = _codecs.image_codec_for(mtype)
                if codec is not None and not fake:
                    _, _, pixels = codec(payload)
                    resized = _codecs.encode_png(
                        _codecs.nearest_resize(pixels, width, height))
                    out_type = "image/png"
                elif fake:
                    seed = hashlib.md5(payload).digest()
                    size = min(width * height * 3, 4096)
                    resized = (seed * (size // len(seed) + 1))[:size]
                    out_type = mtype or "image/raw"
                else:
                    raise NotImplementedError(
                        f"no image codec registered for {mtype!r} — install "
                        "PIL or pass fake=True for the deterministic stub"
                    )
                bundles.append({
                    "media": resized,
                    "media_type": out_type,
                    "media_hash": hashlib.md5(resized).hexdigest(),
                    "size_bytes": len(resized),
                    "meta": {"width": str(width), "height": str(height)},
                })
            out = pdf[[f.name for f in passthrough]].copy()
            out[media_col] = bundles
            yield out

    return df.mapInPandas(resize, out_schema)


_AUDIO_SCHEMA = "sample_rate int, n_samples bigint, duration_s double, rms double"


def decode_audio(
    df: DataFrame, media_col: str, fake: bool = False
) -> DataFrame:
    """Decode audio to (sample_rate, n_samples, duration_s, rms).

    Same contract as :func:`decode_image`: PCM WAV decodes for real via
    the stdlib codec (rms over actual normalized samples); codec-less
    types raise executor-side unless ``fake=True``, which derives
    deterministic byte-based stand-ins while the Arrow batch path,
    schema, and cardinality stay production-shaped."""
    passthrough = [f for f in df.schema.fields if f.name != media_col]
    out_schema = T.StructType(
        passthrough + list(T.StructType.fromDDL(_AUDIO_SCHEMA)))

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rates = (8000, 16000, 22050, 44100, 48000)
            out = pdf[[f.name for f in passthrough]].copy()
            sr, ns, dur, rms = [], [], [], []
            for b in pdf[media_col]:
                payload, mtype = _payload_and_type(b)
                codec = _codecs.audio_codec_for(mtype)
                if codec is not None and not fake:
                    rate, n, samples = codec(payload)
                    sr.append(rate)
                    ns.append(n)
                    dur.append(n / rate if rate else 0.0)
                    rms.append(float(np.sqrt(np.mean(samples ** 2)))
                               if len(samples) else 0.0)
                elif fake:
                    d = hashlib.md5(payload).digest()
                    rate = rates[d[0] % len(rates)]
                    n = max(1, len(payload)) * 4
                    sr.append(rate)
                    ns.append(n)
                    dur.append(n / rate)
                    # deterministic pseudo-RMS from payload bytes
                    arr = np.frombuffer(payload[:4096].ljust(4, b"\0"),
                                        dtype=np.uint8).astype(np.float64)
                    rms.append(
                        float(np.sqrt(np.mean((arr - 127.5) ** 2)) / 127.5))
                else:
                    raise NotImplementedError(
                        f"no audio codec registered for {mtype!r} (stdlib "
                        "codec covers audio/wav; register soundfile/ffmpeg "
                        "codecs for other formats, or pass fake=True)"
                    )
            out["sample_rate"] = sr
            out["n_samples"] = ns
            out["duration_s"] = dur
            out["rms"] = rms
            yield out

    return df.mapInPandas(decode, out_schema)


def extract_features(
    df: DataFrame, media_col: str, dim: int = 64, fake: bool = False
) -> DataFrame:
    """Media -> embedding (array<float>).  Deterministic md5-seeded fake
    vectors when ``fake=True``; the Arrow/batch shape is production."""
    passthrough = [f for f in df.schema.fields if f.name != media_col]
    out_schema = T.StructType(
        passthrough + [T.StructField("feature", T.ArrayType(T.FloatType()))]
    )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "feature extraction needs a model runtime — pass "
                    "fake=True for the deterministic stub"
                )
            vecs = []
            for b in pdf[media_col]:
                payload = b["media"] if isinstance(b, dict) else bytes(b or b"")
                seed = int.from_bytes(hashlib.md5(payload).digest()[:4], "big")
                vecs.append(
                    np.random.RandomState(seed).standard_normal(dim).astype("float32")
                )
            out = pdf[[f.name for f in passthrough]].copy()
            out["feature"] = vecs
            yield out

    return df.mapInPandas(feats, out_schema)


def sample_frames(
    df: DataFrame,
    media_col: str,
    every_n: int = 10,
    max_frames: int = 16,
    fake: bool = False,
) -> DataFrame:
    """Video -> one row per sampled frame (frame_idx, frame binary).

    Row fan-out is real (xN rows per video); frame bytes are a
    deterministic slice of the payload in fake mode."""
    passthrough = [f for f in df.schema.fields if f.name != media_col]
    out_schema = T.StructType(
        passthrough
        + [T.StructField("frame_idx", T.IntegerType()),
           T.StructField("frame", T.BinaryType())]
    )

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "video demux needs a codec — pass fake=True for the stub"
                )
            rows = []
            for _, row in pdf.iterrows():
                b = row[media_col]
                payload = b["media"] if isinstance(b, dict) else bytes(b or b"")
                n_frames = min(max_frames, max(1, len(payload) // max(every_n, 1)))
                for i in range(n_frames):
                    rec = {f.name: row[f.name] for f in passthrough}
                    rec["frame_idx"] = i
                    lo = i * every_n
                    rec["frame"] = payload[lo:lo + every_n]
                    rows.append(rec)
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.mapInPandas(frames, out_schema)


def header_dimensions(col: Column) -> Column:
    """(width, height) struct from HEADER BYTES of a binary image column
    (PNG/JPEG/GIF; null when unrecognized) — no pixel decode.

    The pre-decode gate for multimodal curation at scale: filter
    ``header_dimensions(media).width >= 64`` reads a few dozen bytes
    per asset, and only survivors pay :func:`decode_image`.  Arrow
    pandas UDF (per-element byte parsing has no Catalyst expression),
    one pass, zero shuffle.
    """

    @pandas_udf("struct<width:int, height:int>")
    def dims(payloads: pd.Series) -> pd.DataFrame:
        ws, hs = [], []
        for p in payloads:
            got = _codecs.image_dimensions(bytes(p) if p is not None else None)
            ws.append(got[0] if got else None)
            hs.append(got[1] if got else None)
        return pd.DataFrame({"width": ws, "height": hs})

    return dims(col)


#: EXIF orientation (1-8) -> stored-pixels -> display-pixels transform
#: (the PIL ``exif_transpose`` mapping, expressed in numpy)
_ORIENT_FIX = {
    2: lambda a: a[:, ::-1],
    3: lambda a: a[::-1, ::-1],
    4: lambda a: a[::-1],
    5: lambda a: a.transpose(1, 0, 2),
    6: lambda a: a.transpose(1, 0, 2)[:, ::-1],     # 90 deg CW
    7: lambda a: a.transpose(1, 0, 2)[::-1, ::-1],
    8: lambda a: a.transpose(1, 0, 2)[::-1],        # 90 deg CCW
}


def _pack64(bits) -> int:
    """``bits`` packed LSB-first into one signed 64-bit value."""
    v = sum(1 << i for i, bit in enumerate(bits) if bit)
    return v if v < (1 << 63) else v - (1 << 64)


def image_ahash(col: Column, media_type: str = "image/png",
                normalize_orientation: bool = False) -> Column:
    """Perceptual average-hash of a binary image column as a 64-bit
    long: decode -> grayscale -> 8x8 nearest resample -> bit i = pixel
    above the 64-pixel mean.  Visually similar images (recompression,
    mild noise, small edits) land within a few hamming bits, so
    near-dup detection reuses the TEXT sketch machinery unchanged:
    the pigeonhole bucketing of :mod:`.hamming` works on any 64-bit
    hamming space, this column included.

    ``normalize_orientation``: apply the EXIF orientation transform
    (tags 2-8, the PIL ``exif_transpose`` mapping) to the decoded
    pixels before hashing, so a camera-rotated re-upload — same scene,
    stored pixels rotated, orientation tag corrected — hashes next to
    its original instead of 30+ bits away.  Costs one header-only
    EXIF walk per asset; non-JPEG or tag-less payloads are unchanged.

    Arrow pandas UDF over payload bytes (decode is per-element work);
    unsupported/corrupt payloads hash to null and drop out of pairing.
    """

    @pandas_udf("long")
    def ahash(payloads: pd.Series) -> pd.Series:
        codec = _codecs.image_codec_for(media_type)
        out = []
        for p in payloads:
            try:
                _, _, pixels = codec(bytes(p))
                if normalize_orientation:
                    meta = _exif(bytes(p))
                    fix = _ORIENT_FIX.get(
                        (meta or {}).get("orientation"))
                    if fix is not None:
                        pixels = np.ascontiguousarray(fix(pixels))
            except Exception:
                out.append(None)
                continue
            gray = pixels[..., :3].astype("float64").mean(axis=2) \
                if pixels.ndim == 3 else pixels.astype("float64")
            small = _codecs.nearest_resize(
                gray[..., None].astype("uint8"), 8, 8)[..., 0]
            out.append(_pack64(
                (small.astype("float64") > small.mean()).flatten()))
        return pd.Series(out, dtype="object").astype("Int64")

    return ahash(col)


def image_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    media_col: str,
    max_hamming: int = 6,
    media_type: str = "image/png",
) -> DataFrame:
    """Visual near-duplicate pairs ``(id_a, id_b, hamming)``: average-
    hash each image (one parallel decode pass — the expensive part),
    then :func:`.hamming.hamming_near_dup_pairs` on the 64-bit hashes."""
    hashed = df.select(
        F.col(id_col), image_ahash(F.col(media_col), media_type).alias("sh"))
    return hamming.hamming_near_dup_pairs(hashed, id_col, "sh", max_hamming)


def audio_ahash(col: Column, media_type: str = "audio/wav",
                n_windows: int = 64) -> Column:
    """Perceptual hash of a binary audio column as a 64-bit long:
    decode to mono -> ``n_windows`` equal windows -> bit i = window RMS
    energy above the median window energy.  Gain changes barely move
    the bits (median threshold scales with the signal); silence
    padding, mild noise and re-encoding flip only a few — so
    :func:`.hamming.hamming_near_dup_pairs` finds re-uploads and trims the same
    way it finds near-identical images.  Undecodable payloads -> null.
    """

    @pandas_udf("long")
    def ahash(payloads: pd.Series) -> pd.Series:
        codec = _codecs.audio_codec_for(media_type)
        out = []
        for p in payloads:
            try:
                _, _, samples = codec(bytes(p))
                if len(samples) < n_windows:
                    samples = np.pad(samples, (0, n_windows - len(samples)))
            except Exception:
                out.append(None)
                continue
            cut = (len(samples) // n_windows) * n_windows
            win = samples[:cut].reshape(n_windows, -1)
            energy = np.sqrt((win.astype("float64") ** 2).mean(axis=1))
            out.append(_pack64(energy > np.median(energy)))
        return pd.Series(out, dtype="object").astype("Int64")

    return ahash(col)


# ----------------------------------------- container-level near-dup

#: byte patterns that begin a container's media-essence region; the
#: window signature anchors AFTER the first match so metadata edits
#: (tag rewrites, inserted free/udta boxes, remuxed headers) in front
#: of the essence do not shift the sampled windows.
_ESSENCE_MARKERS = (b"mdat", b"\x1fC\xb6u", b"data")


def media_window_sig(col: Column, n_windows: int = 64,
                     window: int = 64, stride: int = 4096) -> Column:
    """Byte-window signature of a binary media payload as a 64-bit
    long — the DECODE-FREE near-dup sketch for the 100 TB triage
    layer: bit ``i`` is the parity of ``md5`` over the ``window``-byte
    slice at ``anchor + i*stride``, where ``anchor`` is the start of
    the first media-essence region (MP4 ``mdat`` payload, Matroska
    Cluster, RIFF ``data``; offset 0 when none is found).

    What it catches (and what it honestly cannot): re-uploads with
    edited container metadata hash IDENTICALLY (the anchor skips the
    metadata region), tail-trimmed/truncated copies agree on every
    window before the cut (windows past EOF contribute fixed 0 bits),
    and a localized byte edit flips at most the few bits whose windows
    cover it.  A RE-ENCODE rewrites the essence bytes entirely — that
    is the decoded-payload hashes' job (:func:`image_ahash` /
    :func:`audio_ahash`), not this one.

    Unrelated payloads agree per bit with p=0.5, so the expected
    hamming distance is 32 and a <=6 cutoff passes by chance with
    probability ~1e-10.  Arrow pandas UDF, one pass over the first
    ``n_windows*stride`` bytes of essence per asset, zero shuffle;
    null/empty payloads -> null signatures (dropped by the pairing
    machinery)."""

    @pandas_udf("long")
    def sig(payloads: pd.Series) -> pd.Series:
        out = [_window_sig(bytes(p), n_windows, window, stride)
               if p is not None and len(p) > 0 else None for p in payloads]
        return pd.Series(out, dtype="object").astype("Int64")

    return sig(col)


def _window_sig(b: bytes, n_windows: int, window: int, stride: int) -> int:
    """:func:`media_window_sig` of one non-empty payload."""
    anchor = 0
    for marker in _ESSENCE_MARKERS:
        at = b.find(marker)
        if at >= 0:
            anchor = at + len(marker)
            break
    v = 0
    for i in range(n_windows):
        off = anchor + i * stride
        win = b[off:off + window]
        if win and (hashlib.md5(win).digest()[-1] & 1):
            v |= 1 << i
    return v if v < (1 << 63) else v - (1 << 64)


def mp4_timing_sig(col: Column, window_samples: int = 4) -> Column:
    """64-bit hamming signature of an MP4 video track's SAMPLE TIMING
    (the ``stts`` chunk-duration sequence) — the header-only sketch
    that survives the dup case :func:`media_window_sig` honestly
    cannot: a SAME-FPS RE-ENCODE rewrites every essence byte but
    carries the frame timestamps over, so its timing signature is
    IDENTICAL while its byte-window signature is uncorrelated.

    Construction: deltas normalize to microseconds (``delta * 1e6 /
    media_timescale`` — re-encoders routinely change the timescale
    while preserving times); bit ``i`` = parity of ``md5`` over the
    FIXED-length window ``deltas[i*W:(i+1)*W]`` with ``W =
    window_samples`` (windows past the end contribute fixed 0 bits).
    The window length is independent of the clip length — a round-11
    draft derived it from the sample count (``n // 64``), which made
    every window shift under a small tail trim on any clip longer
    than 128 samples, silently voiding the ±1-duration-bucket trim
    tolerance the blocking advertises; with a fixed ``W`` a tail trim
    agrees on every window before the cut for ANY length, the same
    convention as the byte-window sig, so the result rides the
    existing hamming machinery unchanged.  Coverage is the first
    ``64 * window_samples`` samples (256 at the default — ~8.5 s at
    30 fps), which is the right prefix for the re-encode gate: a
    same-fps re-encode preserves EVERY timestamp, so prefix equality
    is implied, while unrelated VFR clips decorrelate within
    seconds.

    Honest contract — what still escapes: for CONSTANT-frame-rate
    content stts is one run and the signature collapses to a
    (frame count, frame duration) fingerprint — two different same-
    length CFR clips at the same fps collide (the metadata block keys
    must disambiguate; discrimination comes from variable-frame-rate
    timing).  A re-encode that RESAMPLES timing (fps change), a
    resized re-upload (dims leave the block), Matroska input (no stts)
    and headerless fragments all return null / escape — the decoded-
    frame path remains the only complete answer and remains out of
    scope (no codec libs).  Null when not MP4, no video track, or no
    sample table."""
    return video_timing_sig(col, window_samples=window_samples,
                            containers=("mp4",))


def _timing_deltas_us(b: bytes, cap: int, containers) -> list | None:
    """Microsecond-normalized frame-duration prefix (first ``cap``
    deltas) from whichever container recognizes the payload — the
    shared decode step of :func:`video_timing_sig`.  MP4: ``stts``
    run-length deltas, ``round(delta * 1e6 / media_timescale)``.
    Matroska/WebM: consecutive differences of the SORTED block
    timestamps, ``round(diff_ticks * timestamp_scale_ns / 1000)`` —
    sorted because presentation order is the re-encode invariant
    while storage order (B-frame interleave) is a muxer choice."""
    if "mp4" in containers:
        from .video import mp4_sample_deltas

        got = mp4_sample_deltas(b)
        if got and got[0] and got[1]:
            timescale, entries = got
            deltas = []
            for cnt, delta in entries:
                take = min(cnt, cap - len(deltas))
                if take <= 0:
                    break
                deltas.extend(
                    [round(delta * 1_000_000 / timescale)] * take)
            return deltas or None
    if "mkv" in containers:
        from .video import mkv_block_timestamps

        got = mkv_block_timestamps(b)
        if got and got[0] and len(got[1]) >= 2:
            scale_ns, stamps = got
            stamps = sorted(stamps)[:cap + 1]
            return [round((b2 - b1) * scale_ns / 1000)
                    for b1, b2 in zip(stamps, stamps[1:])] or None
    if "audio" in containers:
        from .audio_meta import audio_timing_profile

        got = audio_timing_profile(b, max_units=cap)
        if got and got[1]:
            return got[1][:cap]
    return None


def video_timing_sig(col: Column, window_samples: int = 4,
                     containers: tuple = ("mp4", "mkv")) -> Column:
    """Container-dispatching sample-timing signature — MP4 via the
    ``stts`` walk (:func:`mp4_timing_sig`'s path, bit-identical
    output for MP4 payloads) AND Matroska/WebM via the Cluster /
    SimpleBlock timestamp walk (round 12 — previously a WebM
    same-fps re-encode escaped the gate that caught its MP4 twin).
    Identical windowed-md5-parity construction over the µs-normalized
    duration prefix for both, so one hamming space serves both
    container families; the blocking key's container kind keeps MP4
    and WebM assets from cross-matching.  Honest contract as in
    :func:`mp4_timing_sig`: CFR content collapses to a (count,
    duration) fingerprint, fps-resampled re-encodes and resized
    re-uploads still escape."""
    return _windowed_timing_sig(col, window_samples, containers)


# Timing-signature ALGORITHM version, stamped into the persisted
# sig_kind='timing' index meta so probes/appends refuse a stale index
# instead of silently comparing incompatible hamming spaces.  v1 was
# the round-11 draft (variable n//64 windows over up to 65536 samples,
# MP4-only); v2 is the round-12+ shape (FIXED window_samples over a
# 64*window_samples-sample prefix, container dispatch via
# media_timing_sig).  Bump on any change to _windowed_timing_sig's
# bit construction or _timing_deltas_us's container coverage.
TIMING_SIG_VERSION = 2
# window_samples used by the persisted index path (_media_blocked_sigs
# calls media_timing_sig at its default); recorded in meta alongside
# the version so a future parameterization also refuses on mismatch.
TIMING_SIG_WINDOW_SAMPLES = 4


def _check_timing_sig_meta(meta: dict) -> None:
    """Refuse to probe/append a ``sig_kind='timing'`` index whose
    recorded signature algorithm differs from the running code —
    comparing new-algorithm sigs to old-algorithm sigs would silently
    miss every duplicate instead of failing (round-12 ADVICE)."""
    if meta.get("sig_kind", "window") != "timing":
        return
    ver = meta.get("timing_sig_version")
    ws = meta.get("window_samples")
    if ver != TIMING_SIG_VERSION or ws != TIMING_SIG_WINDOW_SAMPLES:
        raise ValueError(
            f"timing index was written with sig algorithm version "
            f"{ver!r} (window_samples={ws!r}) but this build computes "
            f"version {TIMING_SIG_VERSION} "
            f"(window_samples={TIMING_SIG_WINDOW_SAMPLES}); signatures "
            f"are not comparable across algorithm versions — rebuild "
            f"the index with media_sig_index_write")


def _windowed_timing_sig(col: Column, window_samples: int,
                         containers: tuple) -> Column:
    """Shared kernel: fixed-window md5-parity bits over the
    µs-normalized duration prefix from whichever container in
    ``containers`` recognizes the payload."""
    if window_samples < 1:
        raise ValueError(
            f"window_samples must be >= 1, got {window_samples}")

    @pandas_udf("long")
    def sig(payloads: pd.Series) -> pd.Series:
        out = [_timing_sig(bytes(p), window_samples, containers)
               if p is not None and len(p) > 0 else None for p in payloads]
        return pd.Series(out, dtype="object").astype("Int64")

    return sig(col)


def _timing_sig(b: bytes, window_samples: int, containers) -> int | None:
    """:func:`_windowed_timing_sig` of one non-empty payload (None when
    no container in ``containers`` yields durations)."""
    deltas = _timing_deltas_us(b, 64 * window_samples, containers)
    if not deltas:
        return None
    v = 0
    for i in range(64):
        win = deltas[i * window_samples:(i + 1) * window_samples]
        if not win:
            break
        blob = b"".join(d.to_bytes(8, "big", signed=False) for d in win)
        if hashlib.md5(blob).digest()[-1] & 1:
            v |= 1 << i
    return v if v < (1 << 63) else v - (1 << 64)


def audio_timing_sig(col: Column, window_samples: int = 4) -> Column:
    """Audio twin of :func:`video_timing_sig` (round 12): 64-bit
    hamming signature over the header-only FRAME/GRANULE duration
    sequence (:func:`.audio_meta.audio_timing_profile` — MP3 frame
    walk, OGG page granule deltas), same windowed-md5-parity
    construction, same hamming machinery.  Catches what the decode-
    path energy hash (codec-gated) and the byte-window signature
    miss: a planted same-grid MP3 're-encode' (every essence byte
    rewritten) keeps this signature identical, and an OGG metadata
    retag leaves the granule sequence untouched while every byte
    window shifts.  Honest contract: MP3 collapses to a (frame
    count, duration) fingerprint (fixed-duration frames — the CFR
    case), repaginating transcodes escape the OGG path, WAV/FLAC
    return null (no frame sequence in the header)."""
    return _windowed_timing_sig(col, window_samples, ("audio",))


def media_timing_sig(col: Column, window_samples: int = 4) -> Column:
    """Container-dispatching timing signature across ALL probed
    media families — MP4 ``stts``, Matroska/WebM block timestamps,
    MP3 frames, OGG granules — one hamming space; the blocking key's
    container kind keeps families from cross-matching.  This is the
    signature the timing gate and the ``sig_kind='timing'`` persisted
    index use."""
    return _windowed_timing_sig(col, window_samples,
                                ("mp4", "mkv", "audio"))


def media_timing_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    media_col: str,
    max_hamming: int = 6,
    duration_bucket_s: float = 2.0,
) -> DataFrame:
    """Same-fps RE-ENCODE candidates: the companion gate to
    :func:`media_container_near_dup_pairs` for the dup case the
    byte-window signature cannot see (re-encoded re-uploads — the most
    common video dup in crawled data).  Identical plan shape: one
    probe + one header-only timing-signature pass per asset
    (`mp4_timing_sig`), blocking on container kind | dims | ±1
    duration bucket, pigeonhole-verified 64-bit hamming; only 8-byte
    signatures and short block keys shuffle, and the 3-column
    projection checkpoints before the self-join so payloads never
    materialize twice.  Output ``(id_a, id_b, hamming)``.

    Candidates, not verdicts: CFR clips collide on (frame count, frame
    duration) alone within a block (see the signature's honest
    contract) — treat a hit as "same timing profile", route to
    decoded-frame verification where stakes demand it."""
    m = F.col("__m")
    blocked = (
        df.select(
            F.col(id_col),
            _probe_and_sig(F.col(media_col), "timing", 64, 64, 4096)
            .alias("__ps"))
        .select(
            F.col(id_col),
            F.col("__ps.m").alias("__m"),
            F.col("__ps.sh").alias("sh"))
        .withColumn("__kind", m.getItem("container"))
        .filter(F.col("__kind").isNotNull() & F.col("sh").isNotNull())
        .withColumn(
            "__dims",
            F.concat_ws("x",
                        F.coalesce(m.getItem("width"), F.lit("?")),
                        F.coalesce(m.getItem("height"), F.lit("?"))))
        .withColumn(
            "__db",
            F.floor(F.coalesce(m.getItem("duration_s").cast("double"),
                               F.lit(-1.0))
                    / F.lit(float(duration_bucket_s))).cast("long"))
        .select(
            id_col, "sh", "__kind", "__dims",
            F.explode(F.array(F.col("__db"),
                              F.col("__db") + 1)).alias("__dbk"))
        .withColumn("__blk", F.concat_ws(
            "|", "__kind", "__dims", F.col("__dbk").cast("string")))
        .select(id_col, "sh", "__blk")
        .localCheckpoint(eager=True))
    return hamming.hamming_near_dup_pairs(
        blocked, id_col, "sh", max_hamming, block_cols=("__blk",))


def _probe_and_sig(col: Column, sig_kind: str, n_windows: int,
                   window: int, stride: int,
                   window_samples: int = TIMING_SIG_WINDOW_SAMPLES
                   ) -> Column:
    """Header probe AND hamming signature in ONE Arrow pass (round 14):
    :func:`probe_media_meta` + :func:`media_window_sig` (or
    :func:`media_timing_sig`) were separate pandas UDFs over the same
    payload column, so every asset's bytes crossed the JVM↔Python
    boundary into two UDF evaluations and the container dispatch ran
    twice.  This struct-returning UDF runs the IDENTICAL helper
    functions once per payload (same probe dict, same bit
    construction — the per-field values are the same by construction)
    and returns ``struct<m: map<string,string>, sh: long>``.  Guide
    §4: pass the payload across the boundary once, amortize the
    dispatch."""
    timing_containers = ("mp4", "mkv", "audio")

    @pandas_udf("struct<m: map<string,string>, sh: bigint>")
    def ps(payloads: pd.Series) -> pd.DataFrame:
        metas, sigs = [], []
        for p in payloads:
            b = bytes(p) if p is not None else None
            metas.append(_probe_entries(b))
            if not b:
                sigs.append(None)
            elif sig_kind == "window":
                sigs.append(_window_sig(b, n_windows, window, stride))
            else:
                sigs.append(_timing_sig(b, window_samples,
                                        timing_containers))
        return pd.DataFrame({
            "m": metas,
            "sh": pd.Series(sigs, dtype="object").astype("Int64")})

    return ps(col)


def _media_blocked_sigs(
    df: DataFrame,
    id_col: str,
    media_col: str,
    duration_bucket_s: float,
    n_windows: int,
    window: int,
    stride: int,
    sig_kind: str = "window",
) -> DataFrame:
    """(id, sh, __blk) per recognized asset — the shared front half of
    the batch pair op, the persisted index, and the streaming gate:
    one probe + one signature pass, block key = container kind |
    principal dims | duration bucket, with the ±1-bucket trim
    tolerance expressed as TWO rows per asset (buckets b and b+1 — two
    assets within one bucket then share a key).

    ``sig_kind``: ``'window'`` = byte-window essence signature (catches
    remux/trim re-uploads); ``'timing'`` = the MP4 stts timing
    signature (catches same-fps RE-ENCODES, MP4-only — see
    :func:`mp4_timing_sig`'s honest contract).  The blocking and every
    downstream segment/index mechanism are identical — only the 64-bit
    hamming space differs."""
    if sig_kind not in ("window", "timing"):
        raise ValueError(
            f"sig_kind must be 'window' or 'timing', got {sig_kind!r}")
    m = F.col("__m")
    probed = (
        df.select(
            F.col(id_col),
            _probe_and_sig(F.col(media_col), sig_kind, n_windows,
                           window, stride).alias("__ps"))
        .select(
            F.col(id_col),
            F.col("__ps.m").alias("__m"),
            F.col("__ps.sh").alias("sh"))
        .withColumn(
            "__kind",
            F.coalesce(m.getItem("container"),
                       F.when(m.getItem("width").isNotNull(),
                              F.lit("image"))))
        .filter(F.col("__kind").isNotNull() & F.col("sh").isNotNull())
        .withColumn(
            "__dims",
            F.concat_ws(
                "x",
                F.coalesce(m.getItem("width"), m.getItem("sample_rate"),
                           F.lit("?")),
                F.coalesce(m.getItem("height"), m.getItem("channels"),
                           F.lit("?"))))
        .withColumn(
            "__db",
            F.floor(F.coalesce(m.getItem("duration_s").cast("double"),
                               F.lit(-1.0))
                    / F.lit(float(duration_bucket_s))).cast("long")))
    return (
        probed.select(
            id_col, "sh", "__kind", "__dims",
            F.explode(F.array(F.col("__db"),
                              F.col("__db") + 1)).alias("__dbk"))
        .withColumn("__blk", F.concat_ws(
            "|", "__kind", "__dims", F.col("__dbk").cast("string")))
        .select(id_col, "sh", "__blk"))


def media_container_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    media_col: str,
    max_hamming: int = 6,
    duration_bucket_s: float = 2.0,
    n_windows: int = 64,
    window: int = 64,
    stride: int = 4096,
) -> DataFrame:
    """Video/audio near-duplicate pairs WITHOUT any decode — the
    container-level triage gate: one header probe + one byte-window
    signature pass per asset, candidates blocked on probe metadata
    (container kind, principal dimensions, duration bucket with +-1
    bucket tolerance for trims), verified in the shared 64-bit hamming
    machinery.  Output ``(id_a, id_b, hamming)``.

    Plan shape at scale: the probe and signature are one Arrow pass
    over payload bytes (map-only); everything after shuffles 8-byte
    signatures + ids + a short block key — never payloads.  The
    duration tolerance is the standard neighbor-key trick (each asset
    posts buckets ``b`` and ``b+1``, so assets within one bucket share
    a key) — no range join, no all-pairs; assets whose container no
    probe recognizes are skipped (this gate only speaks container
    formats).

    The (id, sh, __blk) projection is eagerly checkpointed before the
    pairing self-join: both join sides would otherwise re-run the
    probe+signature Arrow pass over the PAYLOAD BYTES (measured 11.8 s
    -> ~2 s at sf0.1); the checkpoint holds three narrow columns, the
    payloads never materialize twice."""
    blocked = _media_blocked_sigs(df, id_col, media_col,
                                  duration_bucket_s, n_windows, window,
                                  stride).localCheckpoint(eager=True)
    return hamming.hamming_near_dup_pairs(
        blocked, id_col, "sh", max_hamming, block_cols=("__blk",))


def mp4_asset_payload(width: Column, height: Column,
                      duration_ms: Column, essence_seed: Column,
                      remux_tag: Column, trim_bytes: Column,
                      essence_len: int = 2300) -> Column:
    """Per-row deterministic MP4 asset WITH essence bytes — the
    fixture builder for the container-level near-dup gate: a real
    :func:`.video.mp4_stub` header whose trailing ``mdat`` carries an
    md5-chain essence derived from ``essence_seed`` (two rows with the
    same seed are the same recording).  A non-empty ``remux_tag``
    inserts a ``free`` box between ``ftyp`` and ``moov`` (a metadata
    edit in front of the essence — the remuxed re-upload case);
    ``trim_bytes > 0`` cuts that many tail bytes (the truncated-upload
    case).  Arrow pandas UDF, one builder call per row."""
    import struct as _struct

    from .video import mp4_stub

    @pandas_udf("binary")
    def build(w: pd.Series, h: pd.Series, d: pd.Series, s: pd.Series,
              tag: pd.Series, trim: pd.Series) -> pd.Series:
        out = []
        for wi, hi, di, si, ti, tr in zip(w, h, d, s, tag, trim):
            stub = mp4_stub(int(wi), int(hi), int(di))
            body = stub[:-16]  # drop the stock empty mdat box
            if ti:
                junk = str(ti).encode()
                ftyp_len = _struct.unpack(">I", stub[:4])[0]
                free = _struct.pack(">I", 8 + len(junk)) + b"free" + junk
                body = stub[:ftyp_len] + free + stub[ftyp_len:-16]
            ess = bytearray()
            i = 0
            while len(ess) < essence_len:
                ess += hashlib.md5(f"{int(si)}:{i}".encode()).digest()
                i += 1
            payload = body + _struct.pack(
                ">I", 8 + essence_len) + b"mdat" + bytes(ess[:essence_len])
            tr = int(tr)
            out.append(payload[:len(payload) - tr] if tr > 0 else payload)
        return pd.Series(out)

    return build(width, height, duration_ms, essence_seed, remux_tag,
                 trim_bytes)


# ------------------------------------------- persisted media-sig index
# Pigeonhole segments of each asset's signature with the probe block
# folded into the key: the segment encoding, the recall contract and
# the probe are ``hamming``'s, lifecycle and liveness ``index_store``'s.

def _media_index_sigs(df: DataFrame, id_col: str, media_col: str,
                      meta: dict) -> DataFrame:
    """(id, sh, __blk) computed with an index's recorded parameters."""
    _check_timing_sig_meta(meta)
    return _media_blocked_sigs(
        df, id_col, media_col, meta["duration_bucket_s"],
        meta["n_windows"], meta["window"], meta["stride"],
        sig_kind=meta.get("sig_kind", "window"))


def media_sig_index_write(
    df: DataFrame,
    table_name: str,
    path: str,
    id_col: str,
    media_col: str,
    chunks: int = 7,
    max_hamming: int = 6,
    n_buckets: int = 16,
    duration_bucket_s: float = 2.0,
    n_windows: int = 64,
    window: int = 64,
    stride: int = 4096,
    sig_kind: str = "window",
) -> None:
    """Persist the media-asset near-dup index — the container-signature
    member of the persisted index family: ``{table}_segs``
    (seg_key, mid, sh, __ver) bucketed+sorted by ``seg_key``.  A daily
    asset delta then near-dups against the standing corpus at
    O(delta): the delta's segments shuffle into this bucketing and the
    corpus side scans co-located — the payload bytes are read exactly
    once ever (at their own build/append), never again at probe time.
    Signature and blocking parameters are RECORDED in the index meta
    so probes and appends reproduce them exactly (lifecycle and
    liveness: ``index_store``)."""
    meta = {"id_col": id_col, "chunks": chunks,
            "max_hamming": max_hamming, "n_buckets": n_buckets,
            "duration_bucket_s": duration_bucket_s,
            "n_windows": n_windows, "window": window,
            "stride": stride, "sig_kind": sig_kind}
    if sig_kind == "timing":
        meta["timing_sig_version"] = TIMING_SIG_VERSION
        meta["window_samples"] = TIMING_SIG_WINDOW_SAMPLES
    hamming.index_build(
        "media_sig", _media_blocked_sigs(
            df, id_col, media_col, duration_bucket_s, n_windows, window,
            stride, sig_kind=sig_kind), table_name, path, meta)


def media_dedup_delta(
    delta: DataFrame,
    table_name: str,
    path: str,
    id_col: str,
    media_col: str,
    max_hamming: int | None = None,
) -> DataFrame:
    """Near-dup a DELTA batch of media assets against the persisted
    index (and within itself) — the incremental form of
    :func:`media_container_near_dup_pairs`.  Returns ``(id_a, id_b,
    hamming, kind)`` with ``kind`` ``'corpus'`` (delta asset id_a
    duplicates live corpus asset id_b) or ``'delta'``.  One
    probe+signature Arrow pass over the delta payloads; the corpus side
    is read with zero shuffle."""
    meta = store.read_meta(delta.sparkSession, path)
    return hamming.delta_probe(
        _media_index_sigs(delta, id_col, media_col, meta), table_name,
        path, meta, max_hamming)


def media_sig_index_append(
    delta: DataFrame,
    table_name: str,
    path: str,
    id_col: str,
    media_col: str,
) -> None:
    """Fold a delta's segments into the index at O(delta) with the
    index's recorded parameters, under the store's append contract
    (dedup the delta first; a re-upload of an EXISTING id is an
    ``index_delete`` of the id, then this append)."""
    meta = store.read_meta(delta.sparkSession, path)
    hamming.index_append(_media_index_sigs(delta, id_col, media_col, meta),
                         table_name, path, meta, id_col)
