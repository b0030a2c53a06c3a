"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The media bytes are REAL: images are genuine PNGs (signature, IHDR,
stored-mode zlib IDAT, CRC-checked chunks), audio is genuine RIFF/WAVE
PCM16, and video is a length-prefixed sequence of PNG frames (a trivial
container, documented below — the sandbox has no ffmpeg, and the
per-frame payloads are standard PNGs). The featurizer PARSES those
bytes — signature/CRC validation, IHDR decode, zlib inflate, scanline
defilter, RIFF chunk walk — so the decode path is exercised end to end,
and because the generator is a closed-form function of the media id,
every decoded property is reproducible by the DuckDB oracle
(m01/m03 hash-check the decode round-trip).

Deterministic content spec (seed = media id; shared by the generator,
the decoder tests, and the oracle SQL — keep all three in sync):

- kind        = [image, audio, video][id % 3]
- image       = 8-bit grayscale PNG, w = 8 + id%16, h = 8 + id%8,
                pixel[i] = (i*7 + id) % 256 in raster order
- audio       = PCM16 mono WAV, rate = 8000 + (id%4)*4000,
                n = 64 + id%128 samples, s[i] = ((i*13 + id) % 201) - 100
- video       = frames = id%24 + 1 PNGs (same dims as image, frame f
                seeded id+f), each prefixed by a 4-byte big-endian length
- byte sizes  (stored-mode zlib keeps these closed-form):
                png = 68 + h*(w+1); wav = 44 + 2n;
                video = frames * (72 + h*(w+1))

Design for 100 TB:
- media rides as a ``binary`` column next to a metadata struct; large
  blobs can instead carry a storage path (``media_ref``) for lazy
  executor-side fetch — never driver-side,
- generate/decode/featurize are ``mapInPandas`` stages: one Python
  worker per partition, Arrow-batched, bounded memory via
  maxRecordsPerBatch,
- partition by size class before decode so a few giant videos don't
  straggle a wave of small thumbnails.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id bigint, kind string, content binary, media_ref string, "
    "meta struct<width: int, height: int, frames: int, sample_rate: int, "
    "mime: string>"
)

FEATURE_SCHEMA = (
    "media_id bigint, kind string, width int, height int, n_frames int, "
    "sample_rate int, n_units bigint, value_sum bigint, decode_error string"
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# -- deterministic stdlib encoders -------------------------------------------


def media_spec(media_id: int) -> tuple[str, int, int, int, int, int]:
    """(kind, width, height, frames, sample_rate, n_samples) for an id —
    the single source of the closed-form content spec (module docstring);
    oracle SQL inlines the same formulas."""
    kind = ("image", "audio", "video")[media_id % 3]
    return (
        kind,
        8 + media_id % 16,
        8 + media_id % 8,
        media_id % 24 + 1,
        8000 + (media_id % 4) * 4000,
        64 + media_id % 128,
    )


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def png_bytes(width: int, height: int, seed: int) -> bytes:
    """Real 8-bit grayscale PNG, pixel[i] = (i*7 + seed) % 256.

    IDAT uses stored-mode zlib (level 0) so the byte size stays the
    closed form 68 + h*(w+1) the oracle predicts; any PNG reader
    accepts it (stored blocks are valid DEFLATE). Pixel generation is
    vectorized — per-pixel Python loops dominate the mapInPandas stage
    otherwise."""
    import numpy as np

    idx = np.arange(width * height, dtype=np.int64)
    raw = np.zeros((height, width + 1), dtype=np.uint8)
    raw[:, 0] = 0  # filter type None per scanline
    raw[:, 1:] = ((idx * 7 + seed) % 256).astype(np.uint8).reshape(height, width)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw.tobytes(), 0))
        + _png_chunk(b"IEND", b"")
    )


def wav_bytes(n_samples: int, sample_rate: int, seed: int) -> bytes:
    """Real RIFF/WAVE, PCM16 mono, s[i] = ((i*13 + seed) % 201) - 100.
    44-byte canonical header + 2 bytes per sample."""
    import numpy as np

    idx = np.arange(n_samples, dtype=np.int64)
    samples = (((idx * 13 + seed) % 201) - 100).astype("<i2").tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(samples))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(samples))
        + samples
    )


def video_bytes(frames: int, width: int, height: int, seed: int) -> bytes:
    """Trivial frame container: per frame, a 4-byte big-endian length
    prefix followed by a standard PNG (frame f seeded seed+f)."""
    out = bytearray()
    for f in range(frames):
        p = png_bytes(width, height, seed + f)
        out += struct.pack(">I", len(p)) + p
    return bytes(out)


def generate_media(
    ids: DataFrame, id_col: str = "media_id", include_content: bool = True
) -> DataFrame:
    """(id) frame -> MEDIA_SCHEMA frame with real generated bytes.

    mapInPandas: generation runs on executors, Arrow-batched — the
    driver never sees a blob. In a real deployment this stage is the
    ingest decode boundary (fetch by media_ref); here the generator
    stands where the fetch would be, and everything downstream of the
    binary column is production-shaped.

    PERF: Catalyst cannot prune columns THROUGH a mapInPandas stage —
    a consumer that only reads metadata (m02's frame sampling reads
    meta.frames and never touches a pixel) still pays the full codec
    encode per row if the generator always builds the blob. Such
    consumers pass ``include_content=False``: the content column is
    NULL, every other column (including meta) is byte-identical, and
    the per-row cost drops from video-container encode (frames × PNG
    deflate) to pure metadata arithmetic. In production this is the
    difference between planning frame sampling from the media CATALOG
    and fetching every blob from object storage to plan what to fetch."""
    def gen(batches):
        return _gen_batches(batches, id_col, include_content)

    return ids.mapInPandas(gen, MEDIA_SCHEMA)


def _gen_batches(
    batches: "Iterator", id_col: str, include_content: bool
) -> "Iterator":
    """The generator's batch loop as a plain pandas-iterator transform,
    so generate-only (generate_media) and generate+decode-in-one-worker
    (generate_and_extract) stages share one implementation."""
    import pandas as pd

    for pdf in batches:
        rows: dict[str, list] = {
            "media_id": [],
            "kind": [],
            "content": [],
            "media_ref": [],
            "meta": [],
        }
        for mid in pdf[id_col]:
            mid = int(mid)
            kind, w, h, frames, sr, ns = media_spec(mid)
            if kind == "image":
                content = (
                    png_bytes(w, h, mid) if include_content else None
                )
                meta = dict(width=w, height=h, frames=None,
                            sample_rate=None, mime="image/png")
            elif kind == "audio":
                content = (
                    wav_bytes(ns, sr, mid) if include_content else None
                )
                meta = dict(width=None, height=None, frames=None,
                            sample_rate=sr, mime="audio/wav")
            else:
                content = (
                    video_bytes(frames, w, h, mid)
                    if include_content
                    else None
                )
                meta = dict(width=w, height=h, frames=frames,
                            sample_rate=None,
                            mime="video/x-kpipe-frames")
            rows["media_id"].append(mid)
            rows["kind"].append(kind)
            rows["content"].append(content)
            rows["media_ref"].append(f"mem://documents/{mid}")
            rows["meta"].append(meta)
        yield pd.DataFrame(rows)


# -- real decoders ------------------------------------------------------------


def decode_png(b: bytes) -> tuple[int, int, int, int]:
    """Parse a PNG -> (width, height, n_pixels, pixel_sum).

    Real parsing: signature check, chunk walk with CRC verification,
    IHDR decode, zlib inflate of the IDAT stream, per-scanline filter
    check. Supports what the pipeline produces (8-bit grayscale,
    filter 0) and rejects everything else loudly — a decode error is
    DATA downstream, never a task failure."""
    w, h, px = png_raster(b)
    import numpy as np

    return w, h, w * h, int(px.sum(dtype=np.int64))


def png_raster(b: bytes):
    """Full PNG parse -> (width, height, pixel ndarray (h, w) uint8).

    The validating primitive every PNG consumer shares (decode_png,
    image_patch_stats): one chunk walk with CRC verification, one
    inflate, one defilter pass. Raises ValueError for EVERY malformed
    input — truncation included — so the mapInPandas error contract
    has a single exception class to catch."""
    import numpy as np

    if b[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, width, height, idat = 8, None, None, bytearray()
    while pos + 12 <= len(b):
        (ln,) = struct.unpack(">I", b[pos : pos + 4])
        if pos + 12 + ln > len(b):
            raise ValueError("truncated chunk (declared length overruns)")
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", b[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {typ!r} chunk")
        if typ == b"IHDR":
            if len(data) < 10:
                raise ValueError("short IHDR chunk")
            width, height, depth, ctype = struct.unpack(">IIBB", data[:10])
            if depth != 8 or ctype != 0:
                raise ValueError("unsupported PNG (want 8-bit grayscale)")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if width is None:
        raise ValueError("no IHDR chunk")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt IDAT stream: {exc}") from exc
    stride = width + 1
    if len(raw) != height * stride:
        raise ValueError("scanline data size mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride)
    if (arr[:, 0] != 0).any():
        raise ValueError(
            f"unsupported scanline filter {int(arr[arr[:, 0] != 0][0, 0])}"
        )
    return width, height, arr[:, 1:]


def _parse_wav(b: bytes) -> tuple[int, bytes]:
    """RIFF chunk walk -> (sample_rate, pcm16_data). PCM16 mono only."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV (bad RIFF header)")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (ln,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        if pos + 8 + ln > len(b):
            # same contract as png_raster: a truncated blob must raise,
            # not silently decode fewer samples with decode_error=null
            raise ValueError("truncated chunk (declared length overruns)")
        body = b[pos + 8 : pos + 8 + ln]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("short fmt chunk")
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            (bits,) = struct.unpack("<H", body[14:16])
            if fmt != 1 or channels != 1 or bits != 16:
                raise ValueError("unsupported WAV (want PCM16 mono)")
        elif cid == b"data":
            data = body
        pos += 8 + ln + (ln & 1)
    if rate is None or data is None:
        raise ValueError("missing fmt /data chunk")
    return rate, data


def wav_samples(b: bytes):
    """Parse a RIFF/WAVE -> (sample_rate, int16 sample ndarray)."""
    import numpy as np

    rate, data = _parse_wav(b)
    n = len(data) // 2
    return rate, np.frombuffer(data[: 2 * n], dtype="<i2")


def decode_wav(b: bytes) -> tuple[int, int, int]:
    """Parse a RIFF/WAVE -> (sample_rate, n_samples, abs_amplitude_sum).
    PCM16 mono only — the chunk walk is real (fmt /data discovery)."""
    import numpy as np

    rate, samples = wav_samples(b)
    return rate, len(samples), int(np.abs(samples.astype(np.int64)).sum())


def decode_video(b: bytes) -> tuple[int, int, int, int, int]:
    """Walk the length-prefixed frame container, decode every PNG frame
    -> (width, height, n_frames, n_pixels_total, pixel_sum)."""
    pos, frames, width, height, n_px, total = 0, 0, None, None, 0, 0
    while pos + 4 <= len(b):
        (ln,) = struct.unpack(">I", b[pos : pos + 4])
        frame = b[pos + 4 : pos + 4 + ln]
        if len(frame) != ln:
            raise ValueError("truncated frame")
        w, h, np_, s = decode_png(frame)
        if width is None:
            width, height = w, h
        elif (w, h) != (width, height):
            raise ValueError("frame dimension change mid-stream")
        frames += 1
        n_px += np_
        total += s
        pos += 4 + ln
    if frames == 0:
        raise ValueError("empty video container")
    return width, height, frames, n_px, total


def extract_features(media: DataFrame) -> DataFrame:
    """binary media -> decoded per-media summary via mapInPandas.

    Dispatches on ``kind`` to the real decoder; emits the decoded
    geometry plus an exact integer value_sum (pixel sum / abs-amplitude
    sum) so the caller derives float means with cross-engine-exact
    arithmetic. Per-row decode failures become nulls +
    ``decode_error`` — the pipeline outcome discipline, never a task
    failure.

    Input is projected to the three columns the decoder reads
    (media_id, kind, content) before the Python boundary: Catalyst
    cannot see which columns an opaque function touches, so without
    the select every media column (media_ref, the meta struct) is
    Arrow-serialized into the worker per row (guide §4.1).
    """
    media = media.select("media_id", "kind", "content")
    return media.mapInPandas(_decode_batches, FEATURE_SCHEMA)


def _decode_batches(batches: "Iterator") -> "Iterator":
    """extract_features' batch loop as a plain pandas-iterator
    transform (shared with generate_and_extract)."""
    import pandas as pd

    for pdf in batches:
        out: dict[str, list] = {k: [] for k in (
            "media_id", "kind", "width", "height", "n_frames",
            "sample_rate", "n_units", "value_sum", "decode_error",
        )}
        for mid, kind, content in zip(
            pdf["media_id"], pdf["kind"], pdf["content"]
        ):
            row = dict.fromkeys(out)
            row["media_id"], row["kind"] = int(mid), kind
            try:
                if content is None or len(content) == 0:
                    raise ValueError("empty media content")
                if kind == "image":
                    w, h, n, s = decode_png(bytes(content))
                    row.update(width=w, height=h, n_frames=1,
                               n_units=n, value_sum=s)
                elif kind == "audio":
                    rate, n, s = decode_wav(bytes(content))
                    row.update(sample_rate=rate, n_units=n, value_sum=s)
                elif kind == "video":
                    w, h, fr, n, s = decode_video(bytes(content))
                    row.update(width=w, height=h, n_frames=fr,
                               n_units=n, value_sum=s)
                else:
                    raise ValueError(f"unknown media kind {kind!r}")
            except Exception as exc:  # noqa: BLE001 — error becomes data
                row["decode_error"] = f"{type(exc).__name__}: {exc}"
            for k, v in row.items():
                out[k].append(v)
        yield pd.DataFrame(
            {
                "media_id": pd.array(out["media_id"], dtype="Int64"),
                "kind": out["kind"],
                "width": pd.array(out["width"], dtype="Int32"),
                "height": pd.array(out["height"], dtype="Int32"),
                "n_frames": pd.array(out["n_frames"], dtype="Int32"),
                "sample_rate": pd.array(out["sample_rate"], dtype="Int32"),
                "n_units": pd.array(out["n_units"], dtype="Int64"),
                "value_sum": pd.array(out["value_sum"], dtype="Int64"),
                "decode_error": out["decode_error"],
            }
        )


def generate_and_extract(
    ids: DataFrame, id_col: str = "media_id"
) -> DataFrame:
    """(id) frame -> decoded FEATURE_SCHEMA frame in ONE mapInPandas.

    Composes the generator's and extract_features' batch loops inside
    a single Python worker: each blob is produced and decoded in the
    same process, so content bytes never cross the Python↔JVM Arrow
    boundary at all (in production: fetch-by-ref + decode in one
    worker — the §4 shape that ships only the columns the consumer
    reads). Chaining generate_media THEN extract_features instead
    pipelines TWO MapInPandas evals inside one JVM stage, which holds
    two live Python workers per task — 64 on local[32]; a session that
    has not built that worker pool pays a multi-second spawn+import
    burst (measured 8.3 s first run, and end-of-sweep sessions re-pay
    it), and every blob crosses Arrow twice. Decode semantics are
    byte-identical — the same _decode_batches loop runs either way."""
    def fused(batches):
        return _decode_batches(_gen_batches(batches, id_col, True))

    return ids.mapInPandas(fused, FEATURE_SCHEMA)


AUDIO_FRAME_SCHEMA = (
    "media_id bigint, frame_idx int, n_samples int, energy bigint, "
    "decode_error string"
)


def audio_frame_energy(media: DataFrame, frame_size: int = 64) -> DataFrame:
    """Audio rows -> one row PER FRAME with the exact integer
    abs-amplitude energy, via mapInPandas fan-out (1 row in, ceil(n /
    frame_size) rows out — the Arrow-batched N-out shape m02 only
    indexes). The frames come from a REAL decode (RIFF chunk walk) of
    the binary column; non-audio rows are filtered before the Python
    stage so the decoder never sees them. Integer energy keeps the
    Python boundary float-free — derive dB/normalized loudness in
    Spark expressions downstream. An undecodable row emits ONE row of
    nulls + decode_error — outcome discipline, never a task failure."""
    import numpy as np
    import pandas as pd

    audio = media.filter(F.col("kind") == "audio").select("media_id", "content")

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "media_id", "frame_idx", "n_samples", "energy", "decode_error",
            )}

            def emit(mid, idx=None, n=None, energy=None, err=None):
                out["media_id"].append(int(mid))
                out["frame_idx"].append(idx)
                out["n_samples"].append(n)
                out["energy"].append(energy)
                out["decode_error"].append(err)

            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    if content is None or len(content) == 0:
                        raise ValueError("empty media content")
                    _rate, samples = wav_samples(bytes(content))
                except Exception as exc:  # noqa: BLE001 — error becomes data
                    emit(mid, err=f"{type(exc).__name__}: {exc}")
                    continue
                absd = np.abs(samples.astype(np.int64))
                n = len(samples)
                for f in range((n + frame_size - 1) // frame_size):
                    chunk = absd[f * frame_size : (f + 1) * frame_size]
                    emit(mid, f, len(chunk), int(chunk.sum()))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(out["media_id"], dtype="Int64"),
                    "frame_idx": pd.array(out["frame_idx"], dtype="Int32"),
                    "n_samples": pd.array(out["n_samples"], dtype="Int32"),
                    "energy": pd.array(out["energy"], dtype="Int64"),
                    "decode_error": out["decode_error"],
                }
            )

    return audio.mapInPandas(frames, AUDIO_FRAME_SCHEMA)


PATCH_STATS_SCHEMA = (
    "media_id bigint, patch_row int, patch_col int, patch_h int, "
    "patch_w int, pixel_sum bigint, decode_error string"
)


def image_patch_stats(media: DataFrame, patch: int = 14) -> DataFrame:
    """Image rows -> one row PER ViT PATCH with the exact integer pixel
    sum from the DECODED bytes — the 2D complement of m04's patch-count
    planning (m04 budgets patches from metadata; this computes real
    per-patch content). Edge patches are clipped, not padded, so
    (patch_h, patch_w) report the actual covered extent. mapInPandas
    1-in/N-out; ONE png_raster parse per image (chunk walk + inflate +
    defilter once), numpy block slicing per patch — no per-pixel
    Python. An undecodable row emits ONE row of nulls + decode_error —
    outcome discipline, never a task failure."""
    import numpy as np
    import pandas as pd

    images = media.filter(F.col("kind") == "image").select("media_id", "content")

    def patches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in (
                "media_id", "patch_row", "patch_col", "patch_h", "patch_w",
                "pixel_sum", "decode_error",
            )}

            def emit(mid, pr=None, pc=None, ph=None, pw=None, s=None, err=None):
                out["media_id"].append(int(mid))
                out["patch_row"].append(pr)
                out["patch_col"].append(pc)
                out["patch_h"].append(ph)
                out["patch_w"].append(pw)
                out["pixel_sum"].append(s)
                out["decode_error"].append(err)

            for mid, content in zip(pdf["media_id"], pdf["content"]):
                try:
                    if content is None or len(content) == 0:
                        raise ValueError("empty media content")
                    w, h, raw = png_raster(bytes(content))
                except Exception as exc:  # noqa: BLE001 — error becomes data
                    emit(mid, err=f"{type(exc).__name__}: {exc}")
                    continue
                for pr in range(-(-h // patch)):
                    for pc in range(-(-w // patch)):
                        block = raw[
                            pr * patch : (pr + 1) * patch,
                            pc * patch : (pc + 1) * patch,
                        ]
                        emit(
                            mid, pr, pc, block.shape[0], block.shape[1],
                            int(block.sum(dtype=np.int64)),
                        )
            yield pd.DataFrame(
                {
                    "media_id": pd.array(out["media_id"], dtype="Int64"),
                    "patch_row": pd.array(out["patch_row"], dtype="Int32"),
                    "patch_col": pd.array(out["patch_col"], dtype="Int32"),
                    "patch_h": pd.array(out["patch_h"], dtype="Int32"),
                    "patch_w": pd.array(out["patch_w"], dtype="Int32"),
                    "pixel_sum": pd.array(out["pixel_sum"], dtype="Int64"),
                    "decode_error": out["decode_error"],
                }
            )

    return images.mapInPandas(patches, PATCH_STATS_SCHEMA)


def size_class_partitioned(
    media: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Repartition by (kind, size-class) so homogeneous work shares a
    task wave — giant blobs can't straggle a partition of thumbnails.
    ``num_partitions`` defaults to the session's ``defaultParallelism``:
    exactly one wave of Python tasks (ARCHITECTURE.md §4).

    NOTE: this shuffles the GENERATED media frame, i.e. every blob
    crosses the exchange. When the blob size is predictable from the
    id (this pipeline's content spec — m01's closed forms), prefer
    ``spec_partitioned_ids`` BEFORE generation: the same placement for
    8 bytes/row, and blobs never shuffle (optimization guide §8:
    decide with small rows, move big rows once — here, zero times)."""
    size_class = F.floor(F.log2(F.length("content") + 1)).alias("_size_class")
    return (
        media.withColumn("_size_class", size_class)
        .repartition(
            num_partitions or media.sparkSession.sparkContext.defaultParallelism,
            F.col("kind"),
            F.col("_size_class"),
        )
        .drop("_size_class")
    )


def spec_partitioned_ids(
    ids: DataFrame,
    id_col: str = "media_id",
    num_partitions: int | None = None,
    salt: int = 64,
) -> DataFrame:
    """Size-class placement computed BEFORE generation, on the id frame.

    byte_size is a pure closed form of the id (media_spec + the
    stored-mode encoders; m01's oracle certifies generated bytes match
    it), so the (kind, size-class) partition key that
    ``size_class_partitioned`` derives from the generated blob is
    available for 8 bytes per row. Repartitioning the ID frame and
    generating afterwards means content bytes never cross an exchange
    — at 100 TB that is the §8 payload rule (the blob moves from birth
    task to consumer in-task, not via shuffle), and locally it removes
    the Arrow-serialize/shuffle/deserialize of every blob between the
    generate and decode mapInPandas stages.

    ``salt`` (deterministic, ``id % salt`` — never rand(): retried map
    tasks must reproduce the same placement, SPARK-38388) spreads each
    (kind, class) group over many partitions: ~3 kinds × ~6 classes is
    far fewer distinct keys than task slots (guide §2.5's too-few-keys
    trap — the old 8-partition shape capped the decode stage at 8
    tasks), while kind+class stay in the key so co-resident rows still
    share a work profile.

    ``num_partitions`` defaults to the session's ``defaultParallelism``:
    one wave of Python tasks. Each task pays a fixed worker cost, so
    more partitions than slots only adds waves (ARCHITECTURE.md §4;
    a literal 32 ran 8 waves on a 4-core host)."""
    mid = F.col(id_col)
    w = F.lit(8) + mid % 16
    h = F.lit(8) + mid % 8
    frames = mid % 24 + 1
    ns = F.lit(64) + mid % 128
    kind_r = mid % 3
    psize = (
        F.when(kind_r == 0, F.lit(68) + h * (w + 1))
        .when(kind_r == 1, F.lit(44) + 2 * ns)
        .otherwise(frames * (F.lit(72) + h * (w + 1)))
    )
    return (
        ids.withColumn("_kind_r", kind_r)
        .withColumn("_size_class", F.floor(F.log2(psize + 1)))
        .withColumn("_salt", mid % salt)
        .repartition(
            num_partitions or ids.sparkSession.sparkContext.defaultParallelism,
            F.col("_kind_r"),
            F.col("_size_class"),
            F.col("_salt"),
        )
        .drop("_kind_r", "_size_class", "_salt")
    )


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plumbing for video rows: emits (media_id,
    frame_index) pairs for frames 0, n, 2n, ... based on meta.frames.
    The fan-out shape (explode, no driver loop) is the part that must
    scale; pair it with ``decode_video``/``decode_png`` per sampled
    frame when frame pixels are needed."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.coalesce(F.col("meta.frames"), F.lit(1)) - 1, F.lit(0)),
                    F.lit(every_n),
                )
            ).alias("frame_index"),
        )
    )
