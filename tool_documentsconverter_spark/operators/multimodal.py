"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed via vectorized Arrow batches.

The image/audio PIXEL-decode libraries are not in this container, so
that step is gated behind an import-try; without Pillow the fallback
still reports TRUE dimensions/mode for PNG, JPEG, and GIF via a pure
stdlib header parse (`parse_image_header` — IHDR / SOFn / logical
screen descriptor), and only unknown formats fall through to a
deterministic fake extractor (clearly marked).  Everything Spark-side
— schema, batch shape, partitioning, failure isolation — is real and
tested; swapping in PIL/librosa at deploy time changes only
`_decode_image_real`.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


MAGIC = {
    b"\xff\xd8\xff": "jpeg",
    b"\x89PNG": "png",
    b"GIF8": "gif",  # GIF87a / GIF89a
    b"RIFF": "riff",  # wav/avi container
    b"ID3": "mp3",
}


def _media_payload(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Project (media_id, payload) as the input of a media Arrow stage.

    Deliberately NOT fan_out'd (round-8 A/B at sf1.0): the per-row
    header decode is ~10us, so repartitioning the payload column costs
    more than the extra cores recover on every media query (0.53s ->
    0.70s measured for media_resize); a real corpus scan has enough
    splits anyway."""
    return df.select(F.col(id_col).alias("media_id"),
                     F.col(payload_col).alias("payload"))


def sniff_media(payload: bytes) -> str:
    if payload is None:
        return "unknown"
    for magic, kind in MAGIC.items():
        if payload[: len(magic)] == magic:
            return kind
    return "unknown"


def _decode_image_real(payload: bytes):  # pragma: no cover - needs PIL
    from PIL import Image  # type: ignore
    import io

    img = Image.open(io.BytesIO(payload))
    return img.width, img.height, img.mode


def _decode_stub(payload: bytes):
    """Deterministic fake decode: dimensions derived from the content
    hash.  NOT a real decoder — stands in for PIL/librosa so the batch
    plumbing is exercisable in this sandbox."""
    h = hashlib.md5(payload).digest()
    return 16 + h[0] % 640, 16 + h[1] % 480, "STUB"


_PNG_MODES = {0: "L", 2: "RGB", 3: "P", 4: "LA", 6: "RGBA"}
# every SOF marker variant (baseline, progressive, arithmetic, ...)
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def parse_image_header(payload: bytes):
    """TRUE (width, height, mode) from container header bytes — pure
    stdlib, no pixel decode, no Pillow: PNG IHDR (the spec mandates it
    as the first chunk), JPEG SOFn frame header (marker walk over the
    segment lengths), GIF logical screen descriptor.  Raises
    ValueError for anything unparseable so callers can fall back.
    These three formats dominate real corpora; with this parse the
    media metadata path reports real dimensions even where Pillow is
    not installed (the hash stub remains only for unknown formats)."""
    if payload.startswith(b"\x89PNG\r\n\x1a\n"):
        if len(payload) >= 26 and payload[12:16] == b"IHDR":
            w = int.from_bytes(payload[16:20], "big")
            h = int.from_bytes(payload[20:24], "big")
            if w and h:
                return w, h, _PNG_MODES.get(payload[25], f"PNG:{payload[25]}")
        raise ValueError("png: bad or missing IHDR")
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        if len(payload) >= 10:
            w = int.from_bytes(payload[6:8], "little")
            h = int.from_bytes(payload[8:10], "little")
            if w and h:
                return w, h, "P"  # GIF is always palette-indexed
        raise ValueError("gif: bad logical screen descriptor")
    if payload.startswith(b"\xff\xd8\xff"):
        i, n = 2, len(payload)
        while i + 1 < n:
            if payload[i] != 0xFF:
                raise ValueError("jpeg: lost marker sync")
            while i < n and payload[i] == 0xFF:  # fill bytes
                i += 1
            if i >= n:
                break
            marker = payload[i]
            i += 1
            if marker == 0x01 or 0xD0 <= marker <= 0xD9:
                continue  # standalone markers carry no length
            if i + 2 > n:
                break
            seglen = int.from_bytes(payload[i:i + 2], "big")
            if marker in _JPEG_SOF:
                # segment: len(2) precision(1) height(2) width(2) ncomp(1)
                if i + 8 > n:
                    break
                h = int.from_bytes(payload[i + 3:i + 5], "big")
                w = int.from_bytes(payload[i + 5:i + 7], "big")
                ncomp = payload[i + 7]
                if w and h:
                    return w, h, {1: "L", 3: "RGB", 4: "CMYK"}.get(
                        ncomp, f"C{ncomp}")
                raise ValueError("jpeg: zero dimensions in SOF")
            if seglen < 2:
                raise ValueError("jpeg: bad segment length")
            i += seglen
        raise ValueError("jpeg: no SOF marker found")
    raise ValueError("not a recognized image header")


def _decode_stdlib(payload: bytes):
    """The no-Pillow production decoder: real header parse for
    PNG/JPEG/GIF, deterministic hash stub only for everything else."""
    try:
        return parse_image_header(payload)
    except ValueError:
        return _decode_stub(payload)


def _pick_decoder(use_stub):
    """Executor-side decoder choice.  use_stub=True pins the
    deterministic stub regardless of environment — the parity queries
    and stub unit tests need that, because their oracles replay the
    stub math and would diverge on a machine where Pillow happens to
    be installed (where PIL would *fail* on the fake text payloads).
    use_stub="stdlib" pins the header-parse+hash-stub decoder the same
    way (the media_headers oracle replays BOTH the id->dims formula
    and the junk-row hash math, so that query must never probe PIL —
    PIL raises on the junk payloads where the stub hashes them).
    use_stub=None probes for the real library (production default);
    without Pillow the fallback still reports TRUE dimensions for
    PNG/JPEG/GIF via the stdlib header parse."""
    if use_stub == "stdlib":
        return _decode_stdlib, False
    if use_stub:
        return _decode_stub, False
    try:
        from PIL import Image  # noqa: F401  # type: ignore

        return _decode_image_real, True
    except ImportError:
        return _decode_stdlib, False


def _feature_batches(use_stub=None):
    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        decode, _real = _pick_decoder(use_stub)

        for batch in batches:
            if batch.num_rows == 0:  # empty batch would infer null types
                continue
            names = batch.schema.names
            ids = batch.column(names.index("media_id")).to_pylist()
            payloads = batch.column(names.index("payload")).to_pylist()
            kind, width, height, mode, nbytes, digest, status = \
                [], [], [], [], [], [], []
            for payload in payloads:
                k = sniff_media(payload)
                kind.append(k)
                nbytes.append(len(payload) if payload is not None else 0)
                digest.append(
                    hashlib.md5(payload).hexdigest()
                    if payload is not None else None
                )
                if payload is None:
                    width.append(None); height.append(None); mode.append(None)
                    status.append("failed")
                    continue
                try:
                    w, h, m = decode(payload)
                    width.append(w); height.append(h); mode.append(m)
                    status.append("ok")
                except Exception:  # failure isolation
                    width.append(None); height.append(None); mode.append(None)
                    status.append("failed")
            yield pa.RecordBatch.from_pydict({
                "media_id": pa.array(ids, type=pa.int64()),
                "kind": pa.array(kind, type=pa.string()),
                "width": pa.array(width, type=pa.int32()),
                "height": pa.array(height, type=pa.int32()),
                "mode": pa.array(mode, type=pa.string()),
                "payload_bytes": pa.array(nbytes, type=pa.int64()),
                "payload_md5": pa.array(digest, type=pa.string()),
                "status": pa.array(status, type=pa.string()),
            })

    return gen


def extract_media_features(df: DataFrame, id_col: str = "media_id",
                           payload_col: str = "payload",
                           use_stub: bool | str | None = None) -> DataFrame:
    """(media_id, payload:binary) -> typed metadata row per asset.
    ``use_stub=True`` pins the deterministic fake decoder,
    ``use_stub="stdlib"`` pins the header-parse+hash-fallback decoder
    (both environment-independent — what the parity oracles replay;
    see _pick_decoder); default None probes for PIL executor-side."""
    return _media_payload(df, id_col, payload_col).mapInArrow(
        _feature_batches(use_stub),
        "media_id long, kind string, width int, height int, mode string, "
        "payload_bytes long, payload_md5 string, status string",
    )


def fit_within(w: int, h: int, max_side: int):
    """Aspect-preserving downscale target, INTEGER math only (so the
    SQL oracle replays it with `//` — no float rounding divergence):
    the longer side shrinks to max_side, the shorter scales
    proportionally (floor), never below 1; images already small pass
    through unchanged (thumbnail semantics — never upscale)."""
    m = max(w, h)
    if m <= max_side:
        return w, h
    return max(1, w * max_side // m), max(1, h * max_side // m)


def _resize_batches(max_side: int, use_stub=None):
    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # probe INSIDE the generator: it runs on the executor, whose
        # environment decides the decoder — a driver-side probe would
        # bake the driver's environment into the closure and fail (or
        # silently stub) on mismatched clusters
        decode, real = _pick_decoder(use_stub)

        for batch in batches:
            if batch.num_rows == 0:  # empty batch would infer null types
                continue
            names = batch.schema.names
            ids = batch.column(names.index("media_id")).to_pylist()
            payloads = batch.column(names.index("payload")).to_pylist()
            kind, w_in, h_in, w_out, h_out, resized, status = \
                [], [], [], [], [], [], []
            for payload in payloads:
                kind.append(sniff_media(payload))
                if payload is None:
                    w_in.append(None); h_in.append(None)
                    w_out.append(None); h_out.append(None)
                    resized.append(None); status.append("failed")
                    continue
                try:
                    if real:  # pragma: no cover - needs PIL
                        import io

                        from PIL import Image

                        # ONE decode: dims and pixels come from the
                        # same handle (a decode(payload) pre-pass
                        # would open every image twice)
                        img = Image.open(io.BytesIO(payload))
                        w, h = img.width, img.height
                        tw, th = fit_within(w, h, max_side)
                        img = img.resize((tw, th))
                        buf = io.BytesIO()
                        img.save(buf, format="PNG")
                        out_bytes = buf.getvalue()
                    else:
                        # header-aware when use_stub is unset: real
                        # dims for PNG/JPEG/GIF, hash stub otherwise
                        w, h, _mode = decode(payload)
                        tw, th = fit_within(w, h, max_side)
                        # deterministic fake pixels: content-addressed,
                        # dimension-tagged — NOT an image, stands in for
                        # the PIL re-encode so the binary return path
                        # (Python -> Arrow -> JVM) is exercised for real
                        out_bytes = hashlib.md5(
                            payload + f"|resize:{tw}x{th}".encode()
                        ).digest()
                    w_in.append(w); h_in.append(h)
                    w_out.append(tw); h_out.append(th)
                    resized.append(out_bytes); status.append("ok")
                except Exception:  # failure isolation
                    w_in.append(None); h_in.append(None)
                    w_out.append(None); h_out.append(None)
                    resized.append(None); status.append("failed")
            yield pa.RecordBatch.from_pydict({
                "media_id": pa.array(ids, type=pa.int64()),
                "kind": pa.array(kind, type=pa.string()),
                "width": pa.array(w_in, type=pa.int32()),
                "height": pa.array(h_in, type=pa.int32()),
                "out_width": pa.array(w_out, type=pa.int32()),
                "out_height": pa.array(h_out, type=pa.int32()),
                "resized": pa.array(resized, type=pa.binary()),
                "status": pa.array(status, type=pa.string()),
            })

    return gen


def resize_media(df: DataFrame, max_side: int = 256,
                 id_col: str = "media_id",
                 payload_col: str = "payload",
                 use_stub: bool | str | None = None) -> DataFrame:
    """(media_id, payload:binary) -> aspect-preserving downscale.
    Decode/re-encode is PIL when installed, the stdlib header parse +
    hash stub otherwise (``use_stub=True`` pins the pure stub,
    ``use_stub="stdlib"`` the header-aware variant — the
    oracle-replayed paths); the target-dimension math (`fit_within`)
    is shared by all paths and integer-only, so the `media_resize`
    oracle replays it exactly."""
    return _media_payload(df, id_col, payload_col).mapInArrow(
        _resize_batches(max_side, use_stub),
        "media_id long, kind string, width int, height int, "
        "out_width int, out_height int, resized binary, status string",
    )


def _frame_batches(n_frames: int):
    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:  # empty batch would infer null types
                continue
            names = batch.schema.names
            ids = batch.column(names.index("media_id")).to_pylist()
            payloads = batch.column(names.index("payload")).to_pylist()
            mid, idx, off, fmd5, frame, status = [], [], [], [], [], []
            for i, payload in zip(ids, payloads):
                if payload is None:  # failure isolation: one failed row
                    mid.append(i); idx.append(None); off.append(None)
                    fmd5.append(None); frame.append(None)
                    status.append("failed")
                    continue
                # deterministic fake container probe: duration derived
                # from the content hash (a real build uses PyAV/ffprobe
                # here); the fan-out shape (1 video row -> n_frames
                # rows out of the Arrow stage) is the real semantics
                hx = hashlib.md5(payload).hexdigest()
                duration_ms = 1000 + int(hx[4:6], 16) * 250
                for k in range(n_frames):
                    mid.append(i)
                    idx.append(k)
                    off.append(k * duration_ms // n_frames)
                    tag = f"{hx}:{k}"
                    fmd5.append(hashlib.md5(tag.encode()).hexdigest())
                    frame.append(hashlib.md5(tag.encode()).digest())
                    status.append("ok")
            yield pa.RecordBatch.from_pydict({
                "media_id": pa.array(mid, type=pa.int64()),
                "frame_idx": pa.array(idx, type=pa.int32()),
                "offset_ms": pa.array(off, type=pa.int64()),
                "frame_md5": pa.array(fmd5, type=pa.string()),
                "frame": pa.array(frame, type=pa.binary()),
                "status": pa.array(status, type=pa.string()),
            })

    return gen


def sample_frames(df: DataFrame, n_frames: int = 4,
                  id_col: str = "media_id",
                  payload_col: str = "payload") -> DataFrame:
    """(media_id, payload:binary video) -> n_frames evenly-spaced
    frame rows (media_id, frame_idx, offset_ms, frame) — the
    frame-sampling fan-out a video training pipeline runs before
    per-frame feature extraction.  The decode is honestly stubbed
    (deterministic hash-derived duration + frame bytes; a real build
    swaps in PyAV/ffmpeg inside `_frame_batches` only); the Spark
    surface — binary in, multiplied rows out of one Arrow stage,
    failure isolation per asset — is real and tested."""
    return _media_payload(df, id_col, payload_col).mapInArrow(
        _frame_batches(n_frames),
        "media_id long, frame_idx int, offset_ms long, "
        "frame_md5 string, frame binary, status string",
    )


# ---------------------------------------------------------------------------
# Audio headers — WAV / FLAC / MP3, pure stdlib (the audio twin of
# parse_image_header; VERDICT r4 item 5).  No decode library exists in
# this container, but none is needed for the metadata a curation
# pipeline filters on (sample rate, channels, bit depth, duration):
# all of it lives in container headers.
# ---------------------------------------------------------------------------

# MPEG1 Layer III bitrate table (kbps) and sample-rate table (Hz),
# indexed by the frame-header nibble/bits (ISO 11172-3)
_MP3_BITRATES = (0, 32, 40, 48, 56, 64, 80, 96, 112,
                 128, 160, 192, 224, 256, 320)
_MP3_RATES = (44100, 48000, 32000)


def parse_audio_header(payload: bytes):
    """TRUE (kind, sample_rate, channels, bits_per_sample, duration_ms)
    from audio container header bytes — pure stdlib, no decode:

    - WAV: RIFF/WAVE chunk walk; `fmt ` carries channels/rate/bits,
      `data` size over byte_rate gives duration (integer ms floor).
    - FLAC: mandatory first STREAMINFO metadata block — sample rate
      (20 bits), channels-1 (3), bits-1 (5), total samples (36).
    - MP3: optional ID3v2 tag skip (syncsafe size), then the first
      frame header (MPEG1 Layer III); duration estimated from the
      audio byte length at the header's bitrate (CBR assumption —
      the honest limit of header-only parsing; VBR needs a Xing
      frame walk).  bits_per_sample is None (lossy codec).

    Raises ValueError for anything unparseable so callers can isolate
    the row as failed."""
    if payload is None or len(payload) < 4:
        raise ValueError("not an audio header")
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        i, n = 12, len(payload)
        rate = channels = bits = byte_rate = None
        data_size = None
        while i + 8 <= n:
            cid = payload[i:i + 4]
            size = int.from_bytes(payload[i + 4:i + 8], "little")
            if cid == b"fmt " and i + 24 <= n:
                channels = int.from_bytes(payload[i + 10:i + 12], "little")
                rate = int.from_bytes(payload[i + 12:i + 16], "little")
                byte_rate = int.from_bytes(payload[i + 16:i + 20], "little")
                bits = int.from_bytes(payload[i + 22:i + 24], "little")
            elif cid == b"data":
                data_size = size
            i += 8 + size + (size & 1)  # chunks are word-aligned
        if not (rate and channels and byte_rate):
            raise ValueError("wav: no fmt chunk")
        dur = (data_size * 1000 // byte_rate) if data_size is not None else None
        return "wav", rate, channels, bits, dur
    if payload[:4] == b"fLaC":
        if len(payload) < 8 + 18:
            raise ValueError("flac: truncated")
        btype = payload[4] & 0x7F
        if btype != 0:
            raise ValueError("flac: first block is not STREAMINFO")
        b = payload[8:]  # STREAMINFO body
        # bytes 10..17: 20-bit rate | 3-bit channels-1 | 5-bit bits-1 |
        # 36-bit total samples, packed big-endian
        packed = int.from_bytes(b[10:18], "big")
        rate = packed >> 44
        channels = ((packed >> 41) & 0x7) + 1
        bits = ((packed >> 36) & 0x1F) + 1
        total = packed & ((1 << 36) - 1)
        if not rate:
            raise ValueError("flac: zero sample rate")
        dur = total * 1000 // rate if total else None
        return "flac", rate, channels, bits, dur
    # MP3: optional ID3v2 prefix, then a frame sync
    off = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        sz = payload[6:10]
        if max(sz) < 0x80:  # syncsafe: 7 bits per byte
            off = 10 + ((sz[0] << 21) | (sz[1] << 14) | (sz[2] << 7) | sz[3])
    if off + 4 <= len(payload) and payload[off] == 0xFF \
            and (payload[off + 1] & 0xE0) == 0xE0:
        h1 = payload[off + 1]
        if (h1 & 0x18) != 0x18 or (h1 & 0x06) != 0x02:
            raise ValueError("mp3: not MPEG1 Layer III")
        h2 = payload[off + 2]
        bitrate = _MP3_BITRATES[h2 >> 4] * 1000
        rate_idx = (h2 >> 2) & 0x3
        if not bitrate or rate_idx > 2:
            raise ValueError("mp3: free/bad bitrate or sample rate")
        rate = _MP3_RATES[rate_idx]
        channels = 1 if (payload[off + 3] >> 6) == 3 else 2
        dur = (len(payload) - off) * 8000 // bitrate
        return "mp3", rate, channels, None, dur
    raise ValueError("not a recognized audio header")


def _audio_batches():
    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:  # empty batch would infer null types
                continue
            names = batch.schema.names
            ids = batch.column(names.index("media_id")).to_pylist()
            payloads = batch.column(names.index("payload")).to_pylist()
            kind, rate, chans, bits, dur, nbytes, status = \
                [], [], [], [], [], [], []
            for payload in payloads:
                nbytes.append(len(payload) if payload is not None else 0)
                try:
                    k, r, c, b, d = parse_audio_header(payload)
                    kind.append(k); rate.append(r); chans.append(c)
                    bits.append(b); dur.append(d); status.append("ok")
                except Exception:  # failure isolation per asset
                    kind.append("unknown"); rate.append(None)
                    chans.append(None); bits.append(None); dur.append(None)
                    status.append("failed")
            yield pa.RecordBatch.from_pydict({
                "media_id": pa.array(ids, type=pa.int64()),
                "kind": pa.array(kind, type=pa.string()),
                "sample_rate": pa.array(rate, type=pa.int32()),
                "channels": pa.array(chans, type=pa.int32()),
                "bits_per_sample": pa.array(bits, type=pa.int32()),
                "duration_ms": pa.array(dur, type=pa.int64()),
                "payload_bytes": pa.array(nbytes, type=pa.int64()),
                "status": pa.array(status, type=pa.string()),
            })

    return gen


def extract_audio_features(df: DataFrame, id_col: str = "media_id",
                           payload_col: str = "payload") -> DataFrame:
    """(media_id, payload:binary) -> typed audio metadata per asset
    (kind, sample_rate, channels, bits_per_sample, duration_ms) via
    one Arrow stage.  Entirely real — header fields, not a stub: the
    metadata a curation pipeline filters on never needs a decoder.
    Unparseable payloads isolate as status='failed' rows."""
    return _media_payload(df, id_col, payload_col).mapInArrow(
        _audio_batches(),
        "media_id long, kind string, sample_rate int, channels int, "
        "bits_per_sample int, duration_ms long, payload_bytes long, "
        "status string",
    )
