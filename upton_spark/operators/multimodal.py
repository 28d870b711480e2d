"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are carried as ``binary`` columns with a typed
metadata struct, exactly like ``pages.html``. The Spark-side plumbing —
schemas, Arrow batch shapes, ``mapInPandas`` signatures, partitioning — is
real and tested. Codec depth: PNG, GIF, baseline JPEG, and WAV decode for
REAL (vendored pure-stdlib codecs / the stdlib wave module); mp4 FRAME
decode stays honestly stubbed behind ``decoder_available()`` (no video
codec ships in this container) — with one installed, the deterministic
fake in ``_fake_decode`` is replaced and nothing else changes.

Batch-shape contract: one input row per asset; decode/feature stages stream
``pd.DataFrame`` batches (never materialize a partition), so a 100 TB media
table flows at constant memory per task.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("format", T.StringType(), True),  # png|jpeg|wav|...
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

MEDIA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("url", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META, True),
    ]
)


def decoder_available(fmt: str = "png") -> bool:
    """True when a real decoder exists for ``fmt``: PNG, GIF, and baseline
    JPEG always (the vendored pure-stdlib codecs in operators.png_codec /
    gif_codec / jpeg_codec), WAV always (the stdlib ``wave`` module),
    anything else only when an image library is importable (this container
    ships none)."""
    if (fmt or "").lower() in ("png", "gif", "jpeg", "wav"):
        return True
    try:  # pragma: no cover - environment-dependent
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _decode_wav_grid(payload: bytes, out_hw: tuple[int, int]) -> np.ndarray:
    """Real WAV decode via the stdlib ``wave`` module: PCM samples →
    channel-mean mono → amplitude mapped to [0, 1] → evenly-resampled to
    h*w points reshaped as the (h, w) grid the feature stage consumes (the
    audio sibling of the image resize — same output contract, so every
    downstream stage is shared)."""
    import io
    import wave

    with wave.open(io.BytesIO(payload)) as wv:
        sw, ch, n = wv.getsampwidth(), wv.getnchannels(), wv.getnframes()
        raw = wv.readframes(n)
    if sw == 2:
        arr = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sw == 1:
        arr = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise NotImplementedError(f"unsupported WAV sample width {sw}")
    if ch > 1:
        arr = arr.reshape(-1, ch).mean(axis=1)
    if arr.size == 0:
        raise NotImplementedError("empty WAV payload")
    amp = (arr + 1.0) / 2.0
    h, w = out_hw
    idx = (np.arange(h * w) * arr.size) // (h * w)
    return amp[idx].reshape(h, w)


def _real_decode(payload: bytes, fmt: str, out_hw: tuple[int, int]) -> np.ndarray:
    """Real decode+resize for formats with an available decoder (the
    vendored PNG and GIF codecs; the stdlib wave module): bytes → (h, w)
    float grid in [0, 1], resized by block/repeat sampling (no
    interpolation library in the container)."""
    fmt = (fmt or "").lower()
    if fmt == "wav":
        return _decode_wav_grid(payload, out_hw)
    if fmt == "png":
        from upton_spark.operators.png_codec import decode_png_grey

        grid = decode_png_grey(payload)
    elif fmt == "gif":
        from upton_spark.operators.gif_codec import decode_gif_grey

        grid = decode_gif_grey(payload)
    elif fmt == "jpeg":
        from upton_spark.operators.jpeg_codec import decode_jpeg_grey

        grid = decode_jpeg_grey(payload)
    else:
        raise NotImplementedError(f"no decoder for format {fmt!r} in this container")
    h, w = out_hw
    ys = (np.arange(h) * grid.shape[0]) // h
    xs = (np.arange(w) * grid.shape[1]) // w
    return grid[np.ix_(ys, xs)]


def _fake_decode_batch(payloads: list[bytes], out_hw: tuple[int, int]) -> np.ndarray:
    """Deterministic stand-in for decode+resize: expands an xorshift64*
    stream seeded from each payload into an (n_assets, h, w) float grid in
    [0, 1]. Same payload → same pixels, any size — keeps every downstream
    stage (resize, features, embedding) real and testable without a codec.

    Seed = little-endian uint64 of md5(lowercase-hex(payload)) digest bytes
    [8:16] — i.e. DuckDB's ``md5_number_lower(hex-string)`` — so the whole
    fake pipeline is replayable by a SQL oracle (a recursive CTE steps the
    same xorshift chain).

    The chain is sequential in its steps but vectorized ACROSS the batch:
    one uint64 state vector advances h*w times, so Python-level work is
    O(pixels), not O(assets × pixels) — the template a real decoder
    inherits (per-batch numpy, never per-pixel Python)."""
    h, w = out_hw
    n = h * w
    seeds = []
    for payload in payloads:
        digest = hashlib.md5((payload or b"").hex().encode()).digest()
        seed = struct.unpack("<Q", digest[8:16])[0]
        seeds.append(seed or 1)
    x = np.asarray(seeds, dtype=np.uint64)
    out = np.empty((len(seeds), n), dtype=np.uint64)
    for i in range(n):
        x = x ^ (x >> np.uint64(12))
        x = x ^ ((x << np.uint64(25)) & np.uint64(0xFFFFFFFFFFFFFFFF))
        x = x ^ (x >> np.uint64(27))
        out[:, i] = x
    return (out / np.float64(2**64)).reshape(len(seeds), h, w)


def _fake_decode(payload: bytes, out_hw: tuple[int, int]) -> np.ndarray:
    """Single-asset convenience wrapper over the batch kernel."""
    return _fake_decode_batch([payload], out_hw)[0]


def decode_and_featurize(
    media: DataFrame,
    resize_to: tuple[int, int] = (8, 8),
    payload_col: str = "payload",
    decoder: str = "fake",
) -> DataFrame:
    """decode → resize → feature-extract as one mapInPandas stage.

    Output: asset_id, n_bytes, mean_intensity, std_intensity,
    feature ARRAY<FLOAT> (the flattened resized grid — the embedding input).

    ``decoder``: ``"fake"`` (default — the deterministic SQL-replayable
    stub) or ``"real"`` — decode actual bytes via the per-format decoder
    (vendored PNG codec; PIL for other formats when installed; requires a
    ``meta.format`` column). Raises NotImplementedError from the decode step
    when a real decoder is required — decoder="real", or env var
    UPTON_SPARK_REQUIRE_DECODER=1 — but unavailable for the formats present.
    """
    import os

    if os.environ.get("UPTON_SPARK_REQUIRE_DECODER") == "1":
        decoder = "real"
    if decoder == "real":
        # eager per-format availability check (clear driver-side error
        # instead of a wrapped executor failure mid-job)
        fmts = {r[0] for r in media.select("meta.format").distinct().collect()}
        missing = sorted(f for f in fmts if not decoder_available(f))
        if missing:
            raise NotImplementedError(
                f"no real decoder for formats {missing} in this container "
                "(vendored codec covers png, stdlib wave covers wav; "
                "install an image library for the rest)"
            )
    h, w = resize_to
    schema = (
        "asset_id long, n_bytes long, mean_intensity double, std_intensity double, "
        "feature array<float>"
    )

    cols = ["asset_id", payload_col]
    if decoder == "real":
        media = media.withColumn("_fmt", F.col("meta.format"))
        cols.append("_fmt")

    def run(batches):
        for pdf in batches:
            datas = [
                bytes(p) if p is not None else b"" for p in pdf[payload_col]
            ]
            if decoder == "real":
                grids = np.stack(
                    [
                        _real_decode(d, fmt, (h, w))
                        for d, fmt in zip(datas, pdf["_fmt"])
                    ]
                ) if datas else np.zeros((0, h, w))
            else:
                grids = _fake_decode_batch(datas, (h, w))
            flat = grids.reshape(len(datas), h * w)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"].astype("int64"),
                    "n_bytes": [len(d) for d in datas],
                    "mean_intensity": flat.mean(axis=1) if len(datas) else [],
                    "std_intensity": flat.std(axis=1) if len(datas) else [],
                    "feature": [row.tolist() for row in flat.astype(np.float32)],
                }
            )

    return media.select(*cols).mapInPandas(run, schema=schema)


def _mp4_walk(data: bytes, start: int, end: int):
    """Generic ISO-BMFF box iterator over one container scope."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack(">I", data[pos : pos + 4])[0]
        btype = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:  # 64-bit largesize
            size = struct.unpack(">Q", data[pos + 8 : pos + 16])[0]
            hdr = 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("truncated MP4 box")
        yield btype, pos + hdr, pos + size
        pos += size


def _mp4_find(data: bytes, start: int, end: int, path: list[bytes]):
    """First box at a nested path (e.g. [b'trak', b'mdia', b'stbl']),
    backtracking across siblings: a moov whose FIRST trak is a hint/audio
    track without the nested boxes must not mask a later trak that has
    them — the search continues through every matching sibling until one
    completes the whole path."""
    if not path:
        return start, end
    for btype, bstart, bend in _mp4_walk(data, start, end):
        if btype == path[0]:
            found = _mp4_find(data, bstart, bend, path[1:])
            if found is not None:
                return found
    return None


def mp4_duration_ms(payload: bytes) -> int:
    """Real MP4/ISO-BMFF container parsing (public spec, ISO/IEC 14496-12):
    walk the top-level box tree to ``moov``, find ``mvhd``, and return the
    movie duration in milliseconds (duration/timescale from the version
    0 or 1 header layout). FRAME DECODE stays honestly stubbed (no video
    codec in this container) — but the frame-sampling schedule no longer
    needs trusted metadata: it derives from the real container bytes."""
    walk = _mp4_walk

    for btype, body_start, body_end in walk(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for inner, istart, iend in walk(payload, body_start, body_end):
            if inner != b"mvhd":
                continue
            version = payload[istart]
            if version == 1:
                timescale, duration = struct.unpack(
                    ">IQ", payload[istart + 20 : istart + 32]
                )
            else:
                timescale, duration = struct.unpack(
                    ">II", payload[istart + 12 : istart + 20]
                )
            if timescale == 0:
                raise ValueError("mvhd timescale 0")
            return int(duration * 1000 // timescale)
    raise ValueError("no moov/mvhd box found")


def encode_mp4_stub(duration_ms: int) -> bytes:
    """Minimal valid ISO-BMFF container (ftyp + moov/mvhd, version 0,
    timescale 1000) for tests — a real shell with the declared duration,
    no media tracks (the decode stub's domain)."""
    mvhd_body = (
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # creation, modification
        + struct.pack(">II", 1000, max(0, int(duration_ms)))  # timescale, duration
        + b"\x00" * 80  # rate/volume/reserved/matrix/predefined/next_track
    )
    mvhd = struct.pack(">I", 8 + len(mvhd_body)) + b"mvhd" + mvhd_body
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 512)
    return ftyp + moov


def mp4_sample_table(payload: bytes) -> list[tuple[int, int, int]]:
    """Per-sample (start_ms, byte_size, duration_ms) from the first track's
    REAL sample tables (ISO/IEC 14496-12 §8.6.1.2 stts, §8.7.3.2 stsz):
    run-length time-to-sample deltas cumulated in the mdhd media timescale,
    converted to ms. The per-sample duration is carried (not just the
    start): stts's final delta is the only honest source for where the
    track ENDS — approximating track end from the previous inter-sample
    gap mis-schedules whenever the last sample is a long still. This is
    the truth a frame scheduler should use — per-sample timing is NOT
    uniform in real video (variable frame rate, edit lists, long still
    frames), so dividing mvhd duration evenly mis-schedules."""
    moov = _mp4_find(payload, 0, len(payload), [b"moov"])
    if moov is None:
        raise ValueError("no moov box found")
    # first trak that carries a COMPLETE media-sample chain (mdhd + stbl +
    # stts) — real files lead with hint or metadata tracks whose mdia
    # lacks sample tables, and those must not mask the media track
    mdhd = stbl = stts = None
    for btype, tstart, tend in _mp4_walk(payload, moov[0], moov[1]):
        if btype != b"trak":
            continue
        mdia = _mp4_find(payload, tstart, tend, [b"mdia"])
        if mdia is None:
            continue
        mdhd = _mp4_find(payload, mdia[0], mdia[1], [b"mdhd"])
        stbl = _mp4_find(payload, mdia[0], mdia[1], [b"minf", b"stbl"])
        stts = (
            _mp4_find(payload, stbl[0], stbl[1], [b"stts"]) if stbl is not None else None
        )
        if mdhd is not None and stbl is not None and stts is not None:
            break
        mdhd = stbl = stts = None
    if mdhd is None or stbl is None:
        raise ValueError("no trak with mdhd/stbl/stts found")
    version = payload[mdhd[0]]
    if version == 1:
        (timescale,) = struct.unpack(">I", payload[mdhd[0] + 20 : mdhd[0] + 24])
    else:
        (timescale,) = struct.unpack(">I", payload[mdhd[0] + 12 : mdhd[0] + 16])
    if timescale == 0:
        raise ValueError("mdhd timescale 0")
    (n_entries,) = struct.unpack(">I", payload[stts[0] + 4 : stts[0] + 8])
    starts: list[int] = []
    durs: list[int] = []
    t = 0
    pos = stts[0] + 8
    for _ in range(n_entries):
        count, delta = struct.unpack(">II", payload[pos : pos + 8])
        pos += 8
        if pos > stts[1]:
            raise ValueError("truncated stts entries")
        for _ in range(count):
            start_ms = t * 1000 // timescale
            starts.append(start_ms)
            # end-quantized so consecutive (start + dur) chain exactly
            durs.append((t + delta) * 1000 // timescale - start_ms)
            t += delta
    sizes = [0] * len(starts)
    stsz = _mp4_find(payload, stbl[0], stbl[1], [b"stsz"])
    if stsz is not None:
        uniform, n_samples = struct.unpack(">II", payload[stsz[0] + 4 : stsz[0] + 12])
        if uniform:
            sizes = [uniform] * len(starts)
        else:
            pos = stsz[0] + 12
            for i in range(min(n_samples, len(starts))):
                (sizes[i],) = struct.unpack(">I", payload[pos : pos + 4])
                pos += 4
                if pos > stsz[1]:
                    raise ValueError("truncated stsz entries")
    return list(zip(starts, sizes, durs))


def _full_box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def encode_mp4_with_samples(
    sample_deltas_ms: list[int], timescale: int = 1000, sample_sizes: list[int] | None = None
) -> bytes:
    """Valid ISO-BMFF container with a real track sample table — consecutive
    equal deltas compress into one stts run entry, so a non-uniform delta
    list produces a genuinely multi-entry stts (the case the scheduler must
    handle). Durations are in ms; the media timescale defaults to 1000."""
    deltas = [max(0, int(d) * timescale // 1000) for d in sample_deltas_ms]
    runs: list[tuple[int, int]] = []
    for d in deltas:
        if runs and runs[-1][1] == d:
            runs[-1] = (runs[-1][0] + 1, d)
        else:
            runs.append((1, d))
    stts = _full_box(
        b"stts",
        b"\x00\x00\x00\x00"
        + struct.pack(">I", len(runs))
        + b"".join(struct.pack(">II", c, d) for c, d in runs),
    )
    sizes = sample_sizes or [100 + 10 * i for i in range(len(deltas))]
    stsz = _full_box(
        b"stsz",
        b"\x00\x00\x00\x00"
        + struct.pack(">II", 0, len(sizes))
        + b"".join(struct.pack(">I", s) for s in sizes),
    )
    stbl = _full_box(b"stbl", stts + stsz)
    minf = _full_box(b"minf", stbl)
    total = sum(deltas)
    mdhd = _full_box(
        b"mdhd",
        b"\x00\x00\x00\x00"
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, total)
        + b"\x00\x00\x00\x00",
    )
    mdia = _full_box(b"mdia", mdhd + minf)
    trak = _full_box(b"trak", mdia)
    mvhd_body = (
        b"\x00\x00\x00\x00"
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, total)
        + b"\x00" * 80
    )
    moov = _full_box(b"moov", _full_box(b"mvhd", mvhd_body) + trak)
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 512)
    return ftyp + moov


def jpeg_dimensions(payload: bytes) -> tuple[int, int]:
    """(width, height) from real JPEG bytes — JFIF/ISO 10918 marker walk to
    the first SOF0-SOF15 frame header (skipping the non-SOF markers in that
    numeric range: DHT/JPG/DAC). The cheap header-only probe; full entropy
    decode lives in operators.jpeg_codec (media_meta_check uses that)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI marker)")
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xFF:  # fill byte padding before a marker
            pos -= 1
            continue
        if marker == 0xD9:  # EOI before any SOF: stream ends, no frame
            break
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers, no length field
        if pos + 2 > n:
            break
        seg_len = struct.unpack(">H", payload[pos : pos + 2])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 7 > n:
                break
            h, w = struct.unpack(">HH", payload[pos + 3 : pos + 7])
            return int(w), int(h)
        if marker == 0xDA:  # start of scan: entropy data follows, no SOF seen
            break
        pos += seg_len
    raise ValueError("no SOF frame header found")


def encode_jpeg_stub(width: int, height: int) -> bytes:
    """Minimal structurally-valid JPEG shell (SOI + APP0/JFIF + SOF0 + EOI)
    declaring the given dimensions — a real header for tests; carries no
    entropy-coded scan (the decode stub's domain)."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(
        ">HHBB", 72, 72, 0, 0
    )[:6]
    sof0_body = struct.pack(">BHHB", 8, height, width, 1) + b"\x01\x11\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 2 + len(sof0_body)) + sof0_body
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def container_dimensions(payload: bytes, fmt: str) -> tuple[int, int]:
    """(width, height) parsed from the REAL container bytes for the image
    formats with a header parser here: png (IHDR), gif (logical screen
    descriptor), jpeg (SOF marker)."""
    fmt = (fmt or "").lower()
    if fmt == "png":
        from upton_spark.operators.png_codec import decode_png

        arr = decode_png(payload)  # full decode: dims from the pixel grid
        return int(arr.shape[1]), int(arr.shape[0])
    if fmt == "gif":
        from upton_spark.operators.gif_codec import decode_gif

        # full decode (like png), not just the 10-byte logical screen
        # descriptor: a truncated/corrupt pixel stream must surface as
        # parse_error, and the first frame's actual shape is the truth
        # (it can differ from the screen descriptor)
        arr = decode_gif(payload)
        return int(arr.shape[1]), int(arr.shape[0])
    if fmt == "jpeg":
        from upton_spark.operators.jpeg_codec import (
            UnsupportedJpegProcess,
            jpeg_decoded_dimensions,
        )

        # full baseline decode (like png/gif): a truncated or corrupt scan
        # must surface as parse_error, not pass on an intact SOF header.
        # VALID non-baseline processes (progressive SOF2, arithmetic — a
        # large share of real web JPEGs) are NOT corruption: fall back to
        # the SOF header walk so their dimensions still validate
        try:
            return jpeg_decoded_dimensions(payload)
        except UnsupportedJpegProcess:
            return jpeg_dimensions(payload)
    raise NotImplementedError(f"no dimension parser for format {fmt!r}")


def media_meta_check(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Corpus-hygiene validation: parse each image asset's dimensions from
    its REAL container bytes (png/gif/jpeg header parsers above) and
    compare against the sidecar ``meta`` struct — crawled media metadata
    lies constantly (mislabeled formats, stripped or stale dimensions).
    Returns (asset_id, fmt, meta_width, meta_height, real_width,
    real_height, status) with status in parse_error | mismatch | ok;
    non-image formats pass through as 'skipped'. Validation depth: png,
    gif, AND baseline jpeg are FULL decodes (a truncated or corrupt scan
    is parse_error — the vendored jpeg_codec entropy-decodes the stream,
    so dimensions are pixel-grid truth, not an SOF header claim).
    Arrow-batched mapInPandas — constant memory per task, the MEDIA
    batch-shape contract."""
    cols = media.select(
        "asset_id",
        F.col("meta.format").alias("fmt"),
        F.col("meta.width").alias("meta_width"),
        F.col("meta.height").alias("meta_height"),
        F.col(payload_col).alias("_payload"),
    )
    schema = (
        "asset_id long, fmt string, meta_width int, meta_height int, "
        "real_width int, real_height int, status string"
    )

    def run(batches):
        for pdf in batches:
            out = {
                "asset_id": pdf["asset_id"].astype("int64"),
                "fmt": pdf["fmt"],
                "meta_width": pdf["meta_width"],
                "meta_height": pdf["meta_height"],
            }
            rw, rh, status = [], [], []
            for payload, fmt, mw, mh in zip(
                pdf["_payload"], pdf["fmt"], pdf["meta_width"], pdf["meta_height"]
            ):
                if (fmt or "").lower() not in ("png", "gif", "jpeg"):
                    rw.append(None), rh.append(None), status.append("skipped")
                    continue
                try:
                    w, h = container_dimensions(
                        bytes(payload) if payload is not None else b"", fmt
                    )
                except Exception:
                    rw.append(None), rh.append(None), status.append("parse_error")
                    continue
                rw.append(w)
                rh.append(h)
                # NULL meta ints arrive as NaN in the Arrow->pandas batch
                ok = (pd.isna(mw) or int(mw) == w) and (pd.isna(mh) or int(mh) == h)
                status.append("ok" if ok else "mismatch")
            out["real_width"] = pd.array(rw, dtype="Int32")
            out["real_height"] = pd.array(rh, dtype="Int32")
            out["status"] = status
            yield pd.DataFrame(out)

    return cols.mapInPandas(run, schema=schema)


def frame_sample(
    media: DataFrame,
    every_ms: int = 1000,
    payload_col: str = "payload",
    use_container_duration: bool = False,
) -> DataFrame:
    """Video frame sampling plumbing: one output row per sampled frame
    offset. Duration comes from ``meta.duration_ms`` by default; with
    ``use_container_duration=True`` it is parsed from the REAL mp4 bytes
    (mvhd box — mp4_duration_ms) in an Arrow-batched UDF, so the schedule
    never trusts sidecar metadata. Frame DECODE stays stubbed (no video
    codec ships in this container)."""
    if use_container_duration:

        # long, not int: mvhd v1 carries 64-bit durations (a 90kHz-timescale
        # stream past ~24.8 days would overflow int32 and wrap/raise)
        @F.pandas_udf(T.LongType())
        def dur(payload: pd.Series) -> pd.Series:
            # per-row parse guard: one corrupt/mislabeled payload must not
            # abort the whole batch (crawled metadata lies constantly —
            # same convention as media_meta_check's parse_error rows);
            # unparseable → duration 0 → the single frame-0 fallback below
            out = []
            for p in payload:
                try:
                    out.append(mp4_duration_ms(bytes(p)) if p is not None else 0)
                except Exception:
                    out.append(0)
            return pd.Series(out, dtype="int64")

        with_duration = media.select(
            "asset_id", payload_col, dur(F.col(payload_col)).alias("duration_ms")
        )
    else:
        # long in BOTH branches: xxhash64 hashes int and long differently,
        # so a type drift between the sidecar and container modes would
        # silently change every frame_key
        with_duration = media.select(
            "asset_id",
            payload_col,
            F.coalesce(F.col("meta.duration_ms"), F.lit(0)).cast("long").alias("duration_ms"),
        )
    frames = with_duration.withColumn(
        "frame_ms",
        F.explode(
            F.when(
                F.col("duration_ms") > 0,
                F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms)),
            ).otherwise(F.array(F.lit(0)))
        ),
    )
    return frames.select(
        "asset_id",
        F.col("frame_ms").cast("long").alias("frame_ms"),
        F.xxhash64(
            F.col(payload_col), F.col("frame_ms").cast("long")
        ).alias("frame_key"),
    )


def schedule_from_samples(
    table: list[tuple[int, int, int]], every_ms: int
) -> list[tuple[int, int, int]]:
    """(start_ms, size, duration_ms) sample table → [(target_ms,
    sample_index, sample_start_ms)] rows, one per ``every_ms`` instant,
    each carrying the sample current at that instant. Pure function shared
    by the Spark UDF and oracle generation. Empty/unparseable table → the
    single sentinel row (0, -1, 0) so bad assets stay visible instead of
    vanishing. Track end is the last sample's REAL end (start + stts
    duration) — a long final still sample is sampled through its whole
    span, and a short one doesn't drag targets past track end."""
    import bisect

    if not table:
        return [(0, -1, 0)]
    starts = [row[0] for row in table]
    last = table[-1]
    last_dur = last[2] if len(last) > 2 and last[2] > 0 else every_ms
    duration = last[0] + last_dur
    rows = []
    for t in range(0, max(duration, 1), every_ms):
        i = bisect.bisect_right(starts, t) - 1
        rows.append((t, i, starts[i]))
    return rows


_FRAME_SCHED = T.ArrayType(
    T.StructType(
        [
            T.StructField("frame_ms", T.LongType(), False),
            T.StructField("sample_index", T.IntegerType(), False),
            T.StructField("sample_ms", T.LongType(), False),
        ]
    )
)


def frame_sample_from_table(
    media: DataFrame, every_ms: int = 1000, payload_col: str = "payload"
) -> DataFrame:
    """Frame sampling scheduled from the REAL mp4 sample table (stts/stsz
    box walk — mp4_sample_table), not a uniform split of mvhd duration:
    one row per ``every_ms`` target instant carrying the sample that is
    actually current at that instant (variable frame rate and long still
    samples make uniform schedules wrong). Output: (asset_id, frame_ms
    [target instant], sample_index, sample_ms [covering sample's true
    start], frame_key). Per-row parse guard (crawled media lies): an
    unparseable payload yields the single sentinel row (0, -1, 0) instead
    of aborting the batch. Arrow-batched; frame DECODE stays stubbed."""
    @F.pandas_udf(_FRAME_SCHED)
    def sched(payload: pd.Series) -> pd.Series:
        out = []
        for p in payload:
            try:
                table = mp4_sample_table(bytes(p)) if p is not None else []
            except Exception:
                table = []
            out.append(schedule_from_samples(table, every_ms))
        return pd.Series(out)

    frames = media.select(
        "asset_id", payload_col, F.explode(sched(F.col(payload_col))).alias("f")
    )
    return frames.select(
        "asset_id",
        F.col("f.frame_ms").alias("frame_ms"),
        F.col("f.sample_index").alias("sample_index"),
        F.col("f.sample_ms").alias("sample_ms"),
        F.xxhash64(F.col(payload_col), F.col("f.frame_ms")).alias("frame_key"),
    )


def synth_media(spark, n_assets: int = 64) -> DataFrame:
    """Deterministic fake media table for tests/benches. Payload bytes are
    md5-derived (16-byte digest repeated) so a SQL oracle can reconstruct
    them as repeat(md5('asset-' || i), k)."""
    rows = []
    for i in range(n_assets):
        payload = hashlib.md5(f"asset-{i}".encode()).digest() * (8 + 2 * (i % 5))
        kind = ["image", "audio", "video"][i % 3]
        rows.append(
            (
                i,
                f"http://media.example.org/{kind}/{i}",
                payload,
                (kind, {"image": "png", "audio": "wav", "video": "mp4"}[kind],
                 64 + i % 32, 48 + i % 16, 3000 + 100 * (i % 7)),
            )
        )
    return spark.createDataFrame(rows, schema=MEDIA)


# --------------------------------------------------------------------------
# content-type sniffing (magic bytes)
# --------------------------------------------------------------------------

# (hex-prefix, label) in check order — binary magics first; the html/text
# heuristics only run when no magic matched. Hex offsets are byte*2.
_MAGIC_PREFIXES = [
    ("89504E47", "image/png"),
    ("47494638", "image/gif"),
    ("FFD8FF", "image/jpeg"),
    ("25504446", "application/pdf"),
    ("1F8B", "application/gzip"),
    ("504B0304", "application/zip"),
]


def sniff_content_type(
    df: DataFrame,
    payload_col: str = "html",
    out_col: str = "content_type",
    probe_bytes: int = 256,
) -> DataFrame:
    """Magic-byte content-type sniffing over a raw fetched payload — the
    router step between fetch and parse: a crawler cannot trust a server's
    Content-Type header (or has none in a body-only corpus), and feeding a
    JPEG to the html parser or an html error page to the image decoder
    wastes the batch. Mirrors the WHATWG MIME-sniffing check order:
    fixed magic prefixes (png/gif/jpeg/pdf/gzip/zip, RIFF+WAVE, the
    ftyp box at offset 4 for mp4) first, then an html tag heuristic on
    the decoded head, then NUL-byte detection splitting text/plain from
    application/octet-stream. NULL/empty payloads stay NULL.

    100-TB shape: ENTIRELY whole-stage codegen — one ``hex(substring())``
    probe of the first ``probe_bytes`` bytes plus string predicates; no
    Python, no shuffle, runs inside the scan. The byte-aligned NUL test is
    an anchored pair-regex over the hex (``^(..)*00``), not a raw
    substring search that could straddle byte boundaries.
    """
    col = F.col(payload_col)
    hx = F.hex(F.substring(col, 1, probe_bytes))
    head = F.lower(F.substring(col.cast("string"), 1, probe_bytes))
    expr = None
    checks: list[tuple] = [(hx.startswith(p), F.lit(lab)) for p, lab in _MAGIC_PREFIXES]
    # RIFF container: bytes 1-4 'RIFF', 9-12 'WAVE' (hex offsets 1 and 17)
    checks.append(
        (
            hx.startswith("52494646") & (F.substring(hx, 17, 8) == "57415645"),
            F.lit("audio/wav"),
        )
    )
    # ISO-BMFF: 4-byte box size then 'ftyp' at byte 5 (hex offset 9)
    checks.append((F.substring(hx, 9, 8) == "66747970", F.lit("video/mp4")))
    checks.append(
        (
            # ﻿: a decoded UTF-8 BOM survives the cast as one char
            head.rlike(r"^\s*﻿?\s*<(!doctype html|html|head|body|!--|\?xml)"),
            F.lit("text/html"),
        )
    )
    checks.append((hx.rlike("^(..)*00"), F.lit("application/octet-stream")))
    for cond, lab in reversed(checks):
        expr = F.when(cond, lab).otherwise(
            expr if expr is not None else F.lit("text/plain")
        )
    out = F.when(col.isNull() | (F.length(col) == 0), F.lit(None).cast("string")).otherwise(expr)
    return df.withColumn(out_col, out)


def detect_charset(
    df: DataFrame,
    payload_col: str = "html",
    probe_bytes: int = 4096,
) -> DataFrame:
    """Charset sniffing over raw page bytes, the WHATWG precedence the
    Python-side ``decode_html_bytes`` applies at parse time — surfaced as
    COLUMNS so a corpus can be audited/routed before any decode: a
    byte-order mark wins outright (meta tags lie; the BOM cannot), else
    the first ``<meta charset>`` declaration in the head probe, else the
    utf-8 default. Output columns: ``charset`` (effective, lowercased),
    ``bom`` ('utf-8'/'utf-16le'/'utf-16be' or NULL), ``declared`` (the
    raw meta declaration, NULL when absent). NULL/empty payloads → NULL
    charset.

    100-TB shape: ENTIRELY whole-stage codegen — one hex(substring())
    probe for the BOM plus one regexp_extract over the first
    ``probe_bytes`` bytes, sliced before the cast so a page's decode cost
    stays bounded (ASCII meta tags survive a lenient utf-8 cast even in
    mislabeled single-byte pages); no Python, no shuffle, runs inside the
    scan.
    """
    col = F.col(payload_col)
    hx = F.hex(F.substring(col, 1, 3))
    head = F.lower(F.substring(col, 1, probe_bytes).cast("string"))
    declared = F.regexp_extract(
        head, r"""<meta[^>]+charset\s*=\s*["']?\s*([a-z0-9_\-]+)""", 1
    )
    declared = F.when(declared == "", F.lit(None).cast("string")).otherwise(declared)
    bom = (
        F.when(hx.startswith("EFBBBF"), F.lit("utf-8"))
        .when(hx.startswith("FFFE"), F.lit("utf-16le"))
        .when(hx.startswith("FEFF"), F.lit("utf-16be"))
        .otherwise(F.lit(None).cast("string"))
    )
    effective = F.coalesce(bom, declared, F.lit("utf-8"))
    null_in = col.isNull() | (F.length(col) == 0)
    return (
        df.withColumn("bom", F.when(null_in, F.lit(None).cast("string")).otherwise(bom))
        .withColumn(
            "declared",
            F.when(null_in, F.lit(None).cast("string")).otherwise(declared),
        )
        .withColumn(
            "charset",
            F.when(null_in, F.lit(None).cast("string")).otherwise(effective),
        )
    )
