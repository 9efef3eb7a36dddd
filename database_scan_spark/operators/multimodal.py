"""Multimodal column plumbing (north-star LLM-pipeline operator,
BASELINE.json): image/audio/video as opaque ``binary`` columns with
typed metadata, processed by Arrow-batched ``mapInPandas``.

Decode is REAL for the two formats whose codecs are vendored
pure-Python (no external library needed): BMP (BITMAPINFOHEADER) and
WAV (RIFF/PCM) — ``decode_media`` parses their binary headers, and
``mm_decode_real`` exercises the full construct→parse roundtrip on
the fixture path with a SQL oracle predicting every decoded field
(including exact blob sizes). Formats needing a heavyweight codec
(JPEG/PNG/MP4) fall back to opaque byte metadata rather than
raising; ``mm_decode_meta`` keeps the byte-deterministic fake
decoder as the schema/batch-shape twin for those.

Scale posture: media blobs are large; ``mapInPandas`` streams Arrow
record batches (bounded memory per batch) instead of collecting
rows, and metadata-only projections never touch the blob column
(parquet column pruning).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..spec import QuerySpec
from ._helpers import spread, workdir

DECODE_SCHEMA = (
    "doc_id long, n_bytes long, fake_width int, fake_height int, "
    "n_frames int, modality string"
)


def _media_codec_fns():
    """Vendored pure-Python codecs: BMP (24bpp BITMAPINFOHEADER) and
    WAV (RIFF/PCM) encode + header-parse. Defined inside a factory so
    worker-bound closures capture the inner functions BY VALUE
    (cloudpickle) — workers never need this package importable."""

    def encode_media(doc_id: int, payload: bytes) -> bytes:
        import struct  # noqa: PLC0415 - worker-side import

        data = payload or b"\x00"
        n = len(payload)
        if doc_id % 2 == 0:  # BMP image
            w, h = n % 64 + 1, n % 48 + 1
            stride = ((w * 3 + 3) // 4) * 4
            pix_sz = stride * h
            pixels = (data * (pix_sz // len(data) + 1))[:pix_sz]
            header = struct.pack(
                "<2sIHHI", b"BM", 54 + pix_sz, 0, 0, 54
            ) + struct.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, pix_sz, 2835, 2835, 0, 0
            )
            return header + pixels
        # WAV audio (PCM16)
        channels = n % 2 + 1
        rate = (8000, 16000, 44100)[n % 3]
        n_samples = n % 1000 + 1
        block = channels * 2
        data_sz = n_samples * block
        samples = (data * (data_sz // len(data) + 1))[:data_sz]
        header = struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF", 36 + data_sz, b"WAVE", b"fmt ", 16, 1,
            channels, rate, rate * block, block, 16, b"data", data_sz,
        )
        return header + samples

    def decode_media(blob: bytes) -> dict:
        import struct  # noqa: PLC0415 - worker-side import

        out = {
            "modality": "opaque", "n_bytes": len(blob), "width": None,
            "height": None, "channels": None, "sample_rate": None,
            "n_samples": None,
        }
        if len(blob) >= 54 and blob[:2] == b"BM":
            w, h = struct.unpack_from("<ii", blob, 18)
            out.update(modality="image", width=w, height=h)
        elif len(blob) >= 44 and blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
            pos = 12
            fmt = data_sz = None
            while pos + 8 <= len(blob):
                cid, csz = struct.unpack_from("<4sI", blob, pos)
                if cid == b"fmt ":
                    fmt = struct.unpack_from("<HHIIHH", blob, pos + 8)
                elif cid == b"data":
                    data_sz = csz
                pos += 8 + csz + (csz % 2)
            if fmt is not None and data_sz is not None:
                _, channels, rate, _, block, _ = fmt
                out.update(
                    modality="audio", channels=channels, sample_rate=rate,
                    n_samples=data_sz // block if block else None,
                )
        return out

    return encode_media, decode_media


encode_media, decode_media = _media_codec_fns()


def _fake_decode_batches_fn():
    """Deterministic fake decoder: metadata as pure byte-functions.
    Stands in for the real decoder with the same batch shape.

    Returned as a closure so cloudpickle ships it BY VALUE — workers
    must not need this package importable (the driver's SparkSession
    knows nothing about our sys.path)."""

    def fake_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd  # noqa: PLC0415 - worker-side import

        for pdf in batches:
            n_bytes = pdf["payload"].map(len)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes.astype("int64"),
                    "fake_width": (n_bytes % 640 + 1).astype("int32"),
                    "fake_height": (n_bytes * 7 % 480 + 1).astype("int32"),
                    "n_frames": (n_bytes % 30 + 1).astype("int32"),
                    "modality": (pdf["doc_id"] % 2).map({0: "image", 1: "video"}),
                }
            )

    return fake_decode


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture media table: the documents' text bytes as an opaque
    binary payload column (the fixtures ship no real blobs)."""
    return spread(load(spark, sf_dir, "documents")).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )


def mm_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract metadata from binary payloads via
    mapInPandas (Arrow batches). The fake decoder's outputs are
    byte-deterministic, so even this Python-side path hash-matches a
    SQL oracle — proving batch shape and schema, not just row count."""
    return _media_table(spark, sf_dir).mapInPandas(
        _fake_decode_batches_fn(), schema=DECODE_SCHEMA
    )


MM_DECODE_META_ORACLE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS fake_width,
       CAST(octet_length(encode(text)) * 7 % 480 + 1 AS INTEGER) AS fake_height,
       CAST(octet_length(encode(text)) % 30 + 1 AS INTEGER) AS n_frames,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'video' END AS modality
FROM documents
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: every 5th frame index per video row —
    sequence + explode (one narrow stage, rows fan out inside the
    task, nothing shuffles)."""
    meta = mm_decode_meta(spark, sf_dir)
    return (
        meta.filter(F.col("modality") == "video")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(5))
            ).alias("frame_idx"),
        )
        .withColumn("frame_idx", F.col("frame_idx").cast("int"))
    )


MM_FRAME_SAMPLE_ORACLE = """
SELECT doc_id, CAST(unnest(generate_series(0, n_frames - 1, 5)) AS INTEGER) AS frame_idx
FROM (
    SELECT doc_id, octet_length(encode(text)) % 30 + 1 AS n_frames
    FROM documents WHERE doc_id % 2 = 1
)
"""


def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning over REAL decoded dimensions (VERDICT r2 item
    5 — replaces the retired ``mm_resize_stub``): the vendored BMP
    codec parses each image blob's true width/height headers
    (``mm_decode_real``'s Arrow-batched path), then the aspect-
    preserving fit into 224×224 is computed JVM-side — the pixel
    resample itself would run in the same mapInPandas pass at
    ingest, but the PLAN (scale factor + target dims per blob) is
    pure column arithmetic and never re-reads the blob. Image rows
    only: audio has no spatial dims. The oracle re-derives the
    decoded dimensions from the codec arithmetic (w = n%64+1,
    h = n%48+1 — the same header fields MM_DECODE_REAL_ORACLE
    hash-proves) and the identical integer fit, so a header-parse or
    arithmetic divergence breaks the hash."""
    meta = mm_decode_real(spark, sf_dir).filter(F.col("modality") == "image")
    # integer-exact fit: scale = 224/max(w,h), so target = dim*224 DIV
    # max(w,h). Float floor(dim * (224.0/dim)) lands on 223 for some
    # widths (e.g. 55*(224.0/55) = 223.999...) — integer division
    # guarantees the binding dimension hits exactly 224.
    bind = F.greatest(F.col("width"), F.col("height")).cast("long")
    return meta.select(
        "doc_id",
        "width",
        "height",
        ((F.col("width").cast("long") * 224) / bind)
        .cast("long")
        .cast("int")
        .alias("target_width"),
        ((F.col("height").cast("long") * 224) / bind)
        .cast("long")
        .cast("int")
        .alias("target_height"),
    )


MM_RESIZE_ORACLE = """
SELECT doc_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w * 224 // greatest(w, h) AS INTEGER) AS target_width,
       CAST(h * 224 // greatest(w, h) AS INTEGER) AS target_height
FROM (
    SELECT doc_id,
           octet_length(encode(text)) % 64 + 1 AS w,
           octet_length(encode(text)) % 48 + 1 AS h
    FROM documents WHERE doc_id % 2 = 0
)
"""


_FEAT_DIM = 8


def _feature_extract_batches_fn(dim: int = _FEAT_DIM):
    """Deterministic fake feature extractor: an ``dim``-dimensional
    embedding whose coordinates are md5-seeded hash projections of the
    payload bytes — a pure byte-function standing in for a real model
    forward pass, with the same Arrow-batched plumbing and schema.

    Coordinates are h32 / 2^32: division by a power of two is exact in
    binary floating point, so Python, Spark, and DuckDB agree
    bit-for-bit with NO rounding step (round() would diverge —
    Python rounds half-to-even, DuckDB half-away).

    Closure-wrapped so cloudpickle ships it by value (workers don't
    have this package on sys.path under the harness driver)."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib  # noqa: PLC0415 - worker-side import

        import pandas as _pd  # noqa: PLC0415

        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                base = hashlib.md5(bytes(payload)).hexdigest()
                feats.append(
                    [
                        int(
                            hashlib.md5(f"{base}_{i}".encode()).hexdigest()[:8], 16
                        )
                        / 4294967296.0
                        for i in range(dim)
                    ]
                )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return extract


def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction from binary payloads: mapInPandas emits one
    array<double> embedding per blob (the shape a real vision/audio
    encoder produces), then posexplode flattens to (doc_id, dim,
    value) rows so the oracle compares scalars, not array encodings.
    The blob column is read exactly once, inside the Arrow batch."""
    embedded = _media_table(spark, sf_dir).mapInPandas(
        _feature_extract_batches_fn(), schema="doc_id long, features array<double>"
    )
    return embedded.select(
        "doc_id", F.posexplode("features").alias("dim", "value")
    ).withColumn("dim", F.col("dim").cast("int"))


MM_FEATURE_EXTRACT_ORACLE = f"""
-- md5(VARCHAR) hashes the string's UTF-8 bytes = exactly the payload
-- blob the Spark side hashes (DuckDB 1.0 has no md5(BLOB) overload)
SELECT doc_id, CAST(t.i AS INTEGER) AS dim,
       (('0x' || substring(md5(md5(text) || '_' || t.i), 1, 8))::BIGINT)
         / 4294967296.0 AS value
FROM documents, range({_FEAT_DIM}) t(i)
"""


def _real_decode_batches_fn():
    """construct→parse roundtrip batch fn. The codec fns are created
    HERE (driver side) and captured in the closure so cloudpickle
    ships their code by value."""
    enc, dec = _media_codec_fns()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd  # noqa: PLC0415 - worker-side import

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                meta = dec(enc(int(doc_id), bytes(payload)))
                meta["doc_id"] = int(doc_id)
                rows.append(meta)
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "modality", "n_bytes", "width", "height",
                    "channels", "sample_rate", "n_samples",
                ],
            )

    return run


MM_DECODE_REAL_SCHEMA = (
    "doc_id long, modality string, n_bytes long, width int, height int, "
    "channels int, sample_rate int, n_samples int"
)


def mm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode on the fixture path: each document's bytes
    are packed into an actual BMP (even doc_id) or PCM WAV (odd
    doc_id) blob, and the vendored pure-Python codec parses the
    binary headers back out — struct unpacking of real container
    formats, not a byte-function fake. The oracle predicts every
    decoded field INCLUDING the exact container size (54 + stride·h
    for BMP, 44 + samples·block for WAV), so a one-byte header bug
    breaks the hash match. Arrow-batched mapInPandas; blob never
    leaves the task."""
    return _media_table(spark, sf_dir).mapInPandas(
        _real_decode_batches_fn(), schema=MM_DECODE_REAL_SCHEMA
    )


MM_DECODE_REAL_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS modality,
       CAST(CASE WHEN doc_id % 2 = 0
                 THEN 54 + (((n % 64 + 1) * 3 + 3) // 4) * 4 * (n % 48 + 1)
                 ELSE 44 + (n % 1000 + 1) * (n % 2 + 1) * 2
            END AS BIGINT) AS n_bytes,
       CAST(CASE WHEN doc_id % 2 = 0 THEN n % 64 + 1 END AS INTEGER) AS width,
       CAST(CASE WHEN doc_id % 2 = 0 THEN n % 48 + 1 END AS INTEGER) AS height,
       CAST(CASE WHEN doc_id % 2 = 1 THEN n % 2 + 1 END AS INTEGER) AS channels,
       CAST(CASE WHEN doc_id % 2 = 1
                 THEN CASE n % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END
            END AS INTEGER) AS sample_rate,
       CAST(CASE WHEN doc_id % 2 = 1 THEN n % 1000 + 1 END AS INTEGER) AS n_samples
FROM (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
"""


def _blob_writer_batches_fn(blob_dir: str):
    """Executor-side media-file writer: one real .bmp/.wav file per
    document, written atomically (tmp + rename). At 100 TB this is the
    object-store PUT path; locally it stages the binaryFile fixture.
    Closure-captured codec fns — no package import on workers."""
    enc, _ = _media_codec_fns()

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os as _os  # noqa: PLC0415 - worker-side import

        import pandas as _pd  # noqa: PLC0415

        for pdf in batches:
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                did = int(doc_id)
                ext = ".bmp" if did % 2 == 0 else ".wav"
                path = _os.path.join(blob_dir, f"{did:08d}{ext}")
                if not _os.path.exists(path):
                    tmp = f"{path}.tmp.{_os.getpid()}"
                    with open(tmp, "wb") as fh:
                        fh.write(enc(did, bytes(payload)))
                    _os.replace(tmp, path)
            yield _pd.DataFrame({"n": [len(pdf)]})

    return write


def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal ingest over Spark's ``binaryFile``
    source — the path a 100 TB media corpus actually arrives by
    (one blob per object in storage, not rows in a table):

    1. stage (once): executors write one real BMP/WAV file per
       document via ``mapInPandas`` (atomic rename, idempotent);
    2. ``spark.read.format("binaryFile")`` lists and reads the blob
       files — Spark's real media-lake entry point, with the blob in
       the ``content`` column and per-file metadata alongside;
    3. the vendored codec parses each container's binary header back
       into typed metadata, keyed by the doc id recovered from the
       file NAME (as an object-store layout would).

    The oracle predicts every decoded field from the source documents
    table, so it also proves the staged files round-tripped exactly.
    Excluded: modificationTime (wall-clock, nondeterministic)."""
    blob_dir = workdir(sf_dir, "media_files")
    if not os.path.exists(os.path.join(blob_dir, "_STAGED")):
        (
            _media_table(spark, sf_dir)
            .mapInPandas(_blob_writer_batches_fn(blob_dir), schema="n long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        with open(os.path.join(blob_dir, "_STAGED"), "w") as fh:
            fh.write("ok")

    _, dec = _media_codec_fns()

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os as _os  # noqa: PLC0415 - worker-side import

        import pandas as _pd  # noqa: PLC0415

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                meta = dec(bytes(content))
                meta["doc_id"] = int(
                    _os.path.splitext(_os.path.basename(path))[0]
                )
                rows.append(meta)
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "modality", "n_bytes", "width", "height",
                    "channels", "sample_rate", "n_samples",
                ],
            )

    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.[bw]*")
        .load(blob_dir)
        .select("path", "content")
    )
    return blobs.mapInPandas(parse, schema=MM_DECODE_REAL_SCHEMA)


SPECS = [
    QuerySpec(
        "src_binary_files",
        src_binary_files,
        MM_DECODE_REAL_ORACLE,
    ),
    QuerySpec(
        "mm_decode_real",
        mm_decode_real,
        MM_DECODE_REAL_ORACLE,
    ),
    QuerySpec("mm_decode_meta", mm_decode_meta, MM_DECODE_META_ORACLE),
    QuerySpec("mm_feature_extract", mm_feature_extract, MM_FEATURE_EXTRACT_ORACLE),
    QuerySpec("mm_frame_sample", mm_frame_sample, MM_FRAME_SAMPLE_ORACLE),
    QuerySpec(
        "mm_resize",
        mm_resize,
        MM_RESIZE_ORACLE,
    ),
]


# ---------------------------------------------------------------------------
# mm_audio_energy — REAL windowed PCM energy over the WAV blobs
# ---------------------------------------------------------------------------

_AE_WIN = 256  # samples per analysis window


def _pcm_window_energy_fn(win: int):
    """Shared per-doc kernel for the three audio Arrow batch fns
    (ADVICE r10: the RIFF data-chunk walk + PCM16 window-energy decode
    was copy-pasted verbatim in all three — a codec or chunk-walk fix
    needed three synchronized edits). Returns a CLOSURE
    ``energies(did, payload) -> (e, nsamp)`` — exact-integer window
    energies and per-window sample counts — so it is pickled BY VALUE
    with its captured codec fn, like every other worker-side fn here
    (a module-level helper would pickle by reference and
    ModuleNotFoundError on workers when the driver cwd isn't the
    repo). Each batch fn keeps its own REDUCTION over (e, nsamp)."""
    enc, _ = _media_codec_fns()

    def energies(did: int, payload) -> tuple[list[int], list[int]]:
        import struct  # noqa: PLC0415 - worker-side imports
        import numpy as _np  # noqa: PLC0415

        blob = enc(did, bytes(payload))
        # RIFF walk to the data chunk (same loop as decode_media)
        pos, data = 12, None
        while pos + 8 <= len(blob):
            cid, csz = struct.unpack_from("<4sI", blob, pos)
            if cid == b"data":
                data = blob[pos + 8 : pos + 8 + csz]
                break
            pos += 8 + csz + (csz % 2)
        samples = _np.frombuffer(data, dtype="<i2").astype(_np.int64)
        e, nsamp = [], []
        for w in range(0, len(samples), win):
            wseg = samples[w : w + win]
            e.append(int((wseg * wseg).sum()))
            nsamp.append(len(wseg))
        return e, nsamp

    return energies


def _audio_energy_batches_fn(win: int = _AE_WIN):
    """Arrow batch fn: construct the REAL WAV container for each odd
    doc (same codec path as mm_decode_real), parse the PCM16 data
    chunk back out of the binary, and emit per-window ENERGY (sum of
    squared samples — exact integers, the DSP primitive under VAD /
    silence trimming / loudness normalization). Codec fns captured by
    value; numpy only worker-side. ``win`` is the analysis window in
    samples (fingerprinting uses a finer grid than the default)."""
    energies = _pcm_window_energy_fn(win)

    def run(batches):
        import pandas as _pd  # noqa: PLC0415 - worker-side imports

        for pdf in batches:
            out = {"doc_id": [], "window_idx": [], "n_samples": [], "energy": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                did = int(doc_id)
                if did % 2 == 0:
                    continue  # images have no audio track
                e, nsamp = energies(did, payload)
                for idx, (en, ns) in enumerate(zip(e, nsamp)):
                    out["doc_id"].append(did)
                    out["window_idx"].append(idx)
                    out["n_samples"].append(ns)
                    out["energy"].append(en)
            yield _pd.DataFrame(out)

    return run


def _audio_landmark_batches_fn(win: int, max_delta: int):
    """Arrow batch fn: per-doc energy windows (the
    ``_audio_energy_batches_fn`` kernel verbatim) REDUCED in-task to
    consecutive-peak landmark pairs (optimization r10, guide §4.2 /
    §2.4): the task already holds the doc's whole window array, so
    peak detection (strictly louder than both existing neighbors) and
    consecutive-peak pairing (gap ≤ max_delta) are two numpy
    comparisons here — the former shape shipped EVERY window row out
    just to re-group them by doc_id through two lag/lead window
    exchanges and throw the non-peaks away. Energies are the same
    exact integers; the landmark hash stays in the JVM."""
    energies = _pcm_window_energy_fn(win)

    def run(batches):
        import numpy as _np  # noqa: PLC0415 - worker-side imports
        import pandas as _pd  # noqa: PLC0415

        for pdf in batches:
            out = {"doc_id": [], "energy": [], "e2": [], "gap": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                did = int(doc_id)
                if did % 2 == 0:
                    continue  # images have no audio track
                e, _ns = energies(did, payload)
                e = _np.array(e, dtype=_np.int64)
                if len(e) < 3:
                    continue
                # interior peaks: both neighbors exist and are strictly quieter
                mask = (e[1:-1] > e[:-2]) & (e[1:-1] > e[2:])
                pk = _np.nonzero(mask)[0] + 1  # window_idx of each peak
                if len(pk) < 2:
                    continue
                gaps = pk[1:] - pk[:-1]
                keep = gaps <= max_delta
                for i in _np.nonzero(keep)[0]:
                    out["doc_id"].append(did)
                    out["energy"].append(int(e[pk[i]]))
                    out["e2"].append(int(e[pk[i + 1]]))
                    out["gap"].append(int(gaps[i]))
            yield _pd.DataFrame(out)

    return run


def _audio_stats_batches_fn(win: int = _AE_WIN):
    """Arrow batch fn: per-doc voiced-window statistics computed
    in-task (optimization r10, guide §4.2, same move as
    ``_audio_landmark_batches_fn``): the task holds the doc's whole
    window-energy array, so total energy, window count, and the
    voiced count (windows with energy·n_win > total, i.e. above the
    doc's mean) are three exact-integer reductions here — the former
    shape persisted the full window relation, aggregated it, joined
    the windows BACK against the aggregate, and aggregated again.
    Python ints keep the energy·n_win comparison overflow-proof."""
    energies = _pcm_window_energy_fn(win)

    def run(batches):
        import pandas as _pd  # noqa: PLC0415 - worker-side imports

        for pdf in batches:
            out = {"doc_id": [], "n_win": [], "tot": [], "n_voiced": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                did = int(doc_id)
                if did % 2 == 0:
                    continue  # images have no audio track
                e, _ns = energies(did, payload)
                n_win, tot = len(e), sum(e)
                out["doc_id"].append(did)
                out["n_win"].append(n_win)
                out["tot"].append(tot)
                out["n_voiced"].append(sum(1 for x in e if x * n_win > tot))
            yield _pd.DataFrame(out)

    return run


def mm_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio ENERGY over the real PCM16 WAV blobs — actual
    signal processing on actual container bytes, not a metadata fake:
    the Arrow batch fn builds each odd-doc WAV (vendored codec),
    re-parses its data chunk, and reduces 256-sample windows to exact
    integer sums of squares. The oracle predicts every energy value
    from the documents table ALONE: PCM bytes are the doc's UTF-8
    text tiled over the data chunk, interleaved little-endian — so
    sample k = ord(c[2k mod L]) + 256·ord(c[(2k+1) mod L]) (ASCII
    high byte < 128 ⇒ always positive, no sign branch), and DuckDB
    recomputes the identical integers. A one-byte codec or framing
    bug breaks the hash.

    Scale: blobs never leave the task (mapInPandas, Arrow-batched);
    output is one row per window — the decode/feature pattern of a
    real audio pipeline with the model forward pass swapped for an
    exact reduction."""
    return _media_table(spark, sf_dir).mapInPandas(
        _audio_energy_batches_fn(),
        schema="doc_id long, window_idx int, n_samples int, energy long",
    )


MM_AUDIO_ENERGY_ORACLE = f"""
WITH meta AS (
    SELECT doc_id, text,
           octet_length(encode(text)) AS L,
           (octet_length(encode(text)) % 1000 + 1)
             * (octet_length(encode(text)) % 2 + 1) AS n_samp
    FROM documents WHERE doc_id % 2 = 1
),
samp AS (
    SELECT doc_id, k,
           ord(text[(2 * k) % L + 1]) + 256 * ord(text[(2 * k + 1) % L + 1])
             AS s
    FROM (SELECT doc_id, text, L, unnest(range(n_samp)) AS k FROM meta)
)
SELECT doc_id,
       CAST(k // {_AE_WIN} AS INTEGER) AS window_idx,
       CAST(COUNT(*) AS INTEGER) AS n_samples,
       CAST(SUM(s * s) AS BIGINT) AS energy
FROM samp
GROUP BY doc_id, k // {_AE_WIN}
"""

SPECS.append(
    QuerySpec(
        "mm_audio_energy",
        mm_audio_energy,
        MM_AUDIO_ENERGY_ORACLE,
    )
)


def _image_rowsum_batches_fn():
    """Arrow batch fn: build each even doc's REAL BMP, slice the pixel
    array out of the container (54-byte header, 4-byte-aligned rows),
    and reduce each pixel ROW to its exact integer byte sum — the
    luminance-profile primitive under blockhash/aHash perceptual
    fingerprints. Codec captured by value; numpy worker-side."""
    enc, _ = _media_codec_fns()

    def run(batches):
        import numpy as _np  # noqa: PLC0415 - worker-side imports
        import pandas as _pd  # noqa: PLC0415

        for pdf in batches:
            out = {"doc_id": [], "row_idx": [], "row_bytes": [], "row_sum": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                did = int(doc_id)
                if did % 2 == 1:
                    continue  # audio docs have no pixel array
                blob = enc(did, bytes(payload))
                n = len(bytes(payload))
                w, h = n % 64 + 1, n % 48 + 1
                stride = ((w * 3 + 3) // 4) * 4
                pix = _np.frombuffer(blob[54 : 54 + stride * h], dtype=_np.uint8)
                sums = pix.reshape(h, stride).astype(_np.int64).sum(axis=1)
                for r in range(h):
                    out["doc_id"].append(did)
                    out["row_idx"].append(r)
                    out["row_bytes"].append(stride)
                    out["row_sum"].append(int(sums[r]))
            yield _pd.DataFrame(out)

    return run


def mm_image_rowsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row pixel luminance sums over the real BMP blobs — the
    image counterpart of `mm_audio_energy`: the batch fn constructs
    each even doc's BMP (vendored codec), slices the pixel array past
    the 54-byte header, and reduces every 4-byte-aligned pixel row to
    an exact integer byte sum. The oracle re-derives each sum from
    the documents table alone (pixels are the doc's bytes tiled over
    stride·h positions), so the hash check pins header size, stride
    alignment, and tiling — the exact places image decoders break."""
    return _media_table(spark, sf_dir).mapInPandas(
        _image_rowsum_batches_fn(),
        schema="doc_id long, row_idx int, row_bytes int, row_sum long",
    )


MM_IMAGE_ROWSUM_ORACLE = """
WITH meta AS (
    SELECT doc_id, text,
           octet_length(encode(text)) AS L,
           ((octet_length(encode(text)) % 64 + 1) * 3 + 3) // 4 * 4 AS stride,
           octet_length(encode(text)) % 48 + 1 AS h
    FROM documents WHERE doc_id % 2 = 0
),
px AS (
    SELECT doc_id, r, stride,
           ord(text[(r * stride + j) % L + 1]) AS b
    FROM (
        SELECT doc_id, text, L, stride, j,
               unnest(range(h)) AS r
        FROM (SELECT doc_id, text, L, stride, h,
                     unnest(range(stride)) AS j
              FROM meta)
    )
)
SELECT doc_id,
       CAST(r AS INTEGER) AS row_idx,
       CAST(stride AS INTEGER) AS row_bytes,
       CAST(SUM(b) AS BIGINT) AS row_sum
FROM px
GROUP BY doc_id, r, stride
"""

SPECS.append(
    QuerySpec(
        "mm_image_rowsum",
        mm_image_rowsum,
        MM_IMAGE_ROWSUM_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# mm_phash_pairs — perceptual-hash image near-dup (aHash + banded blocking)
# ---------------------------------------------------------------------------

_PH_HAM_T = 7  # ≤7 differing bits over 8 bands ⇒ pigeonhole-exact recall


def _phash_batches_fn():
    """Arrow batch fn: build each even doc's REAL BMP, decode the
    pixel array, and compute the 64-bit AVERAGE HASH (aHash): sample
    an 8×8 grid of blue-channel bytes at nearest-pixel positions
    (⌊r·h/8⌋, ⌊c·w/8⌋), threshold each against the integer mean
    (64·v > Σv — exact, no float), and pack each grid ROW into one
    band byte. Output is the banded signature relation
    (doc_id, band_idx, band_byte, hash64) — integers only, where
    hash64 is the full 64-bit aHash (band r at bits 8r..8r+7,
    wrapped to signed int64) repeated on every band row so the
    candidate join can compute exact Hamming in-stage without
    re-joining the signature. Codec captured by value; numpy
    worker-side."""
    enc, _ = _media_codec_fns()

    def run(batches):
        import numpy as _np  # noqa: PLC0415 - worker-side imports
        import pandas as _pd  # noqa: PLC0415

        for pdf in batches:
            out = {
                "doc_id": [], "band_idx": [], "band_byte": [], "hash64": []
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                did = int(doc_id)
                if did % 2 == 1:
                    continue  # audio docs have no pixel array
                raw = bytes(payload)
                blob = enc(did, raw)
                n = len(raw)
                w, h = n % 64 + 1, n % 48 + 1
                stride = ((w * 3 + 3) // 4) * 4
                pix = _np.frombuffer(
                    blob[54 : 54 + stride * h], dtype=_np.uint8
                ).reshape(h, stride)
                vals = [
                    [int(pix[(r * h) // 8, ((c * w) // 8) * 3]) for c in range(8)]
                    for r in range(8)
                ]
                tot = sum(sum(row) for row in vals)
                bands = [
                    sum((1 << c) for c in range(8) if 64 * vals[r][c] > tot)
                    for r in range(8)
                ]
                full = 0
                for r, byte in enumerate(bands):
                    full |= byte << (8 * r)
                if full >= 1 << 63:  # wrap to signed int64 (band 7 bit 7)
                    full -= 1 << 64
                for r, byte in enumerate(bands):
                    out["doc_id"].append(did)
                    out["band_idx"].append(r)
                    out["band_byte"].append(byte)
                    out["hash64"].append(full)
            yield _pd.DataFrame(out)

    return run


def mm_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs via perceptual hashing: decode the
    REAL BMP blobs (vendored codec), aHash each image, and report
    pairs within Hamming distance ``_PH_HAM_T`` — the image analog
    of ``dedup_simhash_pairs``, with the decode leg exercised
    byte-for-byte (the oracle re-derives every hash bit from the
    tiling arithmetic alone, so a one-byte codec/stride/sampling bug
    breaks the hash match).

    Candidates come from the banded signature (8 bands of 8 bits):
    a pair within distance 7 MUST agree on ≥1 whole band
    (pigeonhole), so the equi-join on (band_idx, band_byte) has
    exact recall — never an all-pairs compare. Each band row carries
    the FULL 64-bit hash, so exact Hamming is one bit_count(xor)
    computed IN the candidate join's stage and filtered before
    anything shuffles — the only wide exchange downstream of the
    join is the pair-dedup over rows that already passed the
    distance test (true near-dups, a tiny set). The r8 shape
    re-joined the signature twice and deduped ALL candidates first;
    at a 10x fixture the 8-bit band buckets saturate (256 values),
    candidates grow ~n²/64, and those two wide shuffles dominated —
    measured 80s vs ~8s for this shape (SCALE.md round 9). Bucket
    saturation itself is intrinsic to a 64-bit hash at T=7; the
    100 TB path is a wider perceptual hash (e.g. 256-bit DCT pHash,
    32-bit bands), which this plan shape carries unchanged."""
    sig = _media_table(spark, sf_dir).mapInPandas(
        _phash_batches_fn(),
        schema="doc_id long, band_idx int, band_byte int, hash64 long",
    )
    # NOT persisted, deliberately (r8 A/B): sig is consumed twice
    # (self-join sides), but the decode+hash pipelines into each
    # consumer's map side and a persist here measured 2x SLOWER
    # (caching blocks the planner's broadcast of the small signature
    # relation and the cache build/scan costs more than a repeat
    # decode of OS-cached blobs). Contrast pipeline_media_curation,
    # where persisting the energy relation wins.
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        "band_idx",
        "band_byte",
        F.col("hash64").alias("ha"),
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        "band_idx",
        "band_byte",
        F.col("hash64").alias("hb"),
    )
    return (
        a.join(b, ["band_idx", "band_byte"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= _PH_HAM_T)
        .dropDuplicates(["doc_a", "doc_b"])
    )


MM_PHASH_PAIRS_ORACLE = f"""
WITH meta AS (
    SELECT doc_id, text,
           octet_length(encode(text)) AS L,
           octet_length(encode(text)) % 64 + 1 AS w,
           octet_length(encode(text)) % 48 + 1 AS h,
           ((octet_length(encode(text)) % 64 + 1) * 3 + 3) // 4 * 4 AS stride
    FROM documents WHERE doc_id % 2 = 0
),
g AS (
    SELECT doc_id, r, c,
           ord(text[((r * h) // 8 * stride + (c * w) // 8 * 3) % L + 1]) AS v
    FROM meta, range(8) t1(r), range(8) t2(c)
),
sig AS (
    SELECT doc_id, CAST(r AS INTEGER) AS band_idx,
           CAST(SUM(CASE WHEN 64 * v > tot THEN 1 << CAST(c AS INTEGER)
                         ELSE 0 END) AS INTEGER) AS band_byte
    FROM (SELECT doc_id, r, c, v, SUM(v) OVER (PARTITION BY doc_id) AS tot
          FROM g)
    GROUP BY doc_id, r
),
cand AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM sig x JOIN sig y
      ON x.band_idx = y.band_idx AND x.band_byte = y.band_byte
         AND x.doc_id < y.doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST(SUM(bit_count(xor(a.band_byte, b.band_byte))) AS INTEGER)
           AS hamming
FROM cand p
JOIN sig a ON a.doc_id = p.doc_a
JOIN sig b ON b.doc_id = p.doc_b AND b.band_idx = a.band_idx
GROUP BY p.doc_a, p.doc_b
HAVING SUM(bit_count(xor(a.band_byte, b.band_byte))) <= {_PH_HAM_T}
"""

SPECS.append(
    QuerySpec(
        "mm_phash_pairs",
        mm_phash_pairs,
        MM_PHASH_PAIRS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# mm_vad_segments — energy-threshold voice-activity segmentation
# ---------------------------------------------------------------------------


def mm_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VAD-style audio segmentation: decode the WAV blobs, reduce to
    per-window energies (the ``mm_audio_energy`` leg, byte-exact),
    mark a window VOICED when its energy exceeds the doc's mean
    (integer cross-multiplication ``energy·n_win > Σenergy`` — no
    division), and collapse contiguous voiced runs to segments via
    gaps-and-islands — the speech-pipeline primitive that turns raw
    audio into training utterances.

    Scale: the decode+energy pass is a narrow Arrow map; per-doc
    totals are one keyed aggregate joined back on doc_id (AQE picks
    the strategy — the energy relation is windows-per-doc sized);
    the islands window partitions by doc. Integers end to end."""
    energy = _media_table(spark, sf_dir).mapInPandas(
        _audio_energy_batches_fn(),
        schema="doc_id long, window_idx int, n_samples int, energy long",
    )
    tot = energy.groupBy("doc_id").agg(
        F.sum("energy").alias("tot"), F.count(F.lit(1)).alias("n_win")
    )
    voiced = energy.join(tot, "doc_id").filter(
        F.col("energy") * F.col("n_win") > F.col("tot")
    )
    from pyspark.sql import Window as W  # noqa: PLC0415

    grp = F.col("window_idx") - F.row_number().over(
        W.partitionBy("doc_id").orderBy("window_idx")
    )
    return (
        voiced.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("window_idx").alias("start_idx"),
            F.max("window_idx").alias("end_idx"),
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum("energy").alias("seg_energy"),
        )
        .select("doc_id", "start_idx", "end_idx", "n_windows", "seg_energy")
        .orderBy("doc_id", "start_idx")
    )


MM_VAD_SEGMENTS_ORACLE = f"""
WITH energy AS ({MM_AUDIO_ENERGY_ORACLE}),
tot AS (
    SELECT doc_id, SUM(energy) AS tot, COUNT(*) AS n_win
    FROM energy GROUP BY doc_id
),
voiced AS (
    SELECT e.doc_id, e.window_idx, e.energy,
           e.window_idx - row_number() OVER (
               PARTITION BY e.doc_id ORDER BY e.window_idx) AS grp
    FROM energy e JOIN tot t ON e.doc_id = t.doc_id
    WHERE e.energy * t.n_win > t.tot
)
SELECT doc_id,
       CAST(MIN(window_idx) AS INTEGER) AS start_idx,
       CAST(MAX(window_idx) AS INTEGER) AS end_idx,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(energy) AS BIGINT) AS seg_energy
FROM voiced
GROUP BY doc_id, grp
ORDER BY doc_id, start_idx
"""

SPECS.append(
    QuerySpec(
        "mm_vad_segments",
        mm_vad_segments,
        MM_VAD_SEGMENTS_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# mm_audio_fingerprint — landmark-pair audio matching over real WAVs
# ---------------------------------------------------------------------------

_FP_WIN = 32  # fine analysis grid (samples) for landmark detection
_FP_MAX_DELTA = 8  # landmark pairing horizon (windows)
_FP_MIN_SHARED = 2  # doc pairs sharing >= this many landmark hashes


def mm_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shazam-style landmark fingerprinting over the REAL PCM
    windows of the WAV data chunk (the ``mm_audio_energy`` kernel on
    a finer 32-sample grid): local energy PEAKS (window
    louder than both neighbors) become landmarks; consecutive peaks
    within 8 windows pair into a hash of (log-energy bucket a,
    bucket b, gap); documents sharing ≥2 landmark hashes are audio
    near-dup candidates — the audio leg of the dedup family
    (cf. ``mm_phash_pairs`` for images).

    Exactness: energies are exact integers (inherited), log-energy
    buckets come from integer bit-length (``length(bin(e))``), the
    landmark hash is the shared md5-prefix kernel over a canonical
    string, and candidate counts are exact. Shape: peak detection is
    a per-doc lag/lead window; the candidate join is an equi join ON
    THE HASH (bucket join, no doc×doc pair space); one aggregation
    per doc pair."""
    from ._helpers import h32  # noqa: PLC0415

    # landmark pairs computed in-task (see _audio_landmark_batches_fn):
    # the per-window relation never leaves the Python worker, so the
    # two former doc-partitioned lag/lead window exchanges are gone.
    paired = _media_table(spark, sf_dir).mapInPandas(
        _audio_landmark_batches_fn(win=_FP_WIN, max_delta=_FP_MAX_DELTA),
        schema="doc_id long, energy long, e2 long, gap int",
    )

    # Top-6-bit mantissa bucket: e div 2^(bitlen-6) — a coarse but
    # shift-invariant log-energy quantization, integer-exact in both
    # engines (pow(2, n) is double-exact for n < 53).
    def mant(c: str) -> F.Column:
        return F.expr(f"{c} div CAST(power(2, length(bin({c})) - 6) AS BIGINT)")

    fp = paired.select(
        "doc_id",
        h32(
            F.concat_ws(
                "|",
                mant("energy"),
                mant("e2"),
                F.col("gap"),
            )
        ).alias("fh"),
    ).distinct()
    a = fp.select(F.col("doc_id").alias("doc_a"), "fh")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fh")
    return (
        a.join(b, "fh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_landmarks"))
        .filter(F.col("shared_landmarks") >= _FP_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


MM_AUDIO_FINGERPRINT_ORACLE = f"""
WITH meta AS (
    SELECT doc_id, text,
           octet_length(encode(text)) AS L,
           (octet_length(encode(text)) % 1000 + 1)
             * (octet_length(encode(text)) % 2 + 1) AS n_samp
    FROM documents WHERE doc_id % 2 = 1
),
samp AS (
    SELECT doc_id, k,
           ord(text[(2 * k) % L + 1]) + 256 * ord(text[(2 * k + 1) % L + 1])
             AS s
    FROM (SELECT doc_id, text, L, unnest(range(n_samp)) AS k FROM meta)
),
energy AS (
    SELECT doc_id, CAST(k // {_FP_WIN} AS INTEGER) AS window_idx,
           CAST(SUM(s * s) AS BIGINT) AS energy
    FROM samp GROUP BY doc_id, k // {_FP_WIN}
),
ctx AS (
    SELECT doc_id, window_idx, energy,
           lag(energy) OVER (PARTITION BY doc_id ORDER BY window_idx) AS prev_e,
           lead(energy) OVER (PARTITION BY doc_id ORDER BY window_idx) AS next_e
    FROM energy
),
peaks AS (
    SELECT doc_id, window_idx, energy FROM ctx
    WHERE prev_e IS NOT NULL AND next_e IS NOT NULL
      AND energy > prev_e AND energy > next_e
),
paired AS (
    SELECT doc_id, window_idx, energy,
           lead(window_idx) OVER (PARTITION BY doc_id ORDER BY window_idx) AS w2,
           lead(energy) OVER (PARTITION BY doc_id ORDER BY window_idx) AS e2
    FROM peaks
),
fp AS (
    SELECT DISTINCT doc_id,
           ('0x' || substring(md5(
               (energy // CAST(power(2, length(bin(energy)) - 6) AS BIGINT))
               || '|' ||
               (e2 // CAST(power(2, length(bin(e2)) - 6) AS BIGINT))
               || '|' || (w2 - window_idx)), 1, 8))::BIGINT AS fh
    FROM paired
    WHERE w2 IS NOT NULL AND w2 - window_idx <= {_FP_MAX_DELTA}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS shared_landmarks
FROM fp a JOIN fp b ON a.fh = b.fh AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {_FP_MIN_SHARED}
ORDER BY doc_a, doc_b
"""

SPECS.append(
    QuerySpec(
        "mm_audio_fingerprint",
        mm_audio_fingerprint,
        MM_AUDIO_FINGERPRINT_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# mm_audio_snr — voiced-to-unvoiced energy ratio per clip
# ---------------------------------------------------------------------------


def mm_audio_snr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip SNR estimate over the real WAV energy windows:
    voiced windows (energy above the clip mean, the `mm_vad_segments`
    rule) are "signal", the rest "noise";
    ``snr_db = 10·log₁₀(mean voiced energy / mean unvoiced energy)``
    — the audio-quality gate a speech-data pipeline filters on
    (cf. the text side's `text_quality`). Only clips with BOTH
    classes score. Energy sums and counts are exact integers; the
    single log₁₀ per clip runs on an exact integer ratio and is
    rounded 6 dp (the last-ulp acceptance used by every log-based
    oracle here). Shape: the Arrow decode pass, one per-clip
    aggregate, a broadcast-eligible join back, one conditional
    aggregate."""
    energy = _media_table(spark, sf_dir).mapInPandas(
        _audio_energy_batches_fn(),
        schema="doc_id long, window_idx int, n_samples int, energy long",
    )
    tot = energy.groupBy("doc_id").agg(
        F.sum("energy").alias("tot"), F.count(F.lit(1)).alias("n_win")
    )
    tagged = energy.join(tot, "doc_id").select(
        "doc_id",
        "energy",
        (F.col("energy") * F.col("n_win") > F.col("tot")).alias("voiced"),
    )
    per_doc = tagged.groupBy("doc_id").agg(
        F.sum(F.when(F.col("voiced"), F.col("energy")).otherwise(0))
        .cast("bigint")
        .alias("sig_e"),
        F.sum(F.when(F.col("voiced"), 1).otherwise(0)).cast("bigint").alias("sig_n"),
        F.sum(F.when(~F.col("voiced"), F.col("energy")).otherwise(0))
        .cast("bigint")
        .alias("noi_e"),
        F.sum(F.when(~F.col("voiced"), 1).otherwise(0)).cast("bigint").alias("noi_n"),
    ).filter((F.col("sig_n") > 0) & (F.col("noi_n") > 0) & (F.col("noi_e") > 0))
    snr = 10 * F.log10(
        (F.col("sig_e").cast("double") / F.col("sig_n"))
        / (F.col("noi_e").cast("double") / F.col("noi_n"))
    )
    return per_doc.select(
        "doc_id",
        "sig_n",
        "noi_n",
        F.round(snr, 6).alias("snr_db"),
    ).orderBy("doc_id")


MM_AUDIO_SNR_ORACLE = f"""
WITH meta AS (
    SELECT doc_id, text,
           octet_length(encode(text)) AS L,
           (octet_length(encode(text)) % 1000 + 1)
             * (octet_length(encode(text)) % 2 + 1) AS n_samp
    FROM documents WHERE doc_id % 2 = 1
),
samp AS (
    SELECT doc_id, k,
           ord(text[(2 * k) % L + 1]) + 256 * ord(text[(2 * k + 1) % L + 1])
             AS s
    FROM (SELECT doc_id, text, L, unnest(range(n_samp)) AS k FROM meta)
),
energy AS (
    SELECT doc_id, CAST(k // {_AE_WIN} AS INTEGER) AS window_idx,
           CAST(SUM(s * s) AS BIGINT) AS energy
    FROM samp GROUP BY doc_id, k // {_AE_WIN}
),
tot AS (
    SELECT doc_id, SUM(energy) AS tot, COUNT(*) AS n_win
    FROM energy GROUP BY doc_id
),
tagged AS (
    SELECT e.doc_id, e.energy, e.energy * t.n_win > t.tot AS voiced
    FROM energy e JOIN tot t USING (doc_id)
),
per_doc AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN voiced THEN energy ELSE 0 END) AS BIGINT) AS sig_e,
           CAST(SUM(CASE WHEN voiced THEN 1 ELSE 0 END) AS BIGINT) AS sig_n,
           CAST(SUM(CASE WHEN NOT voiced THEN energy ELSE 0 END) AS BIGINT)
               AS noi_e,
           CAST(SUM(CASE WHEN NOT voiced THEN 1 ELSE 0 END) AS BIGINT) AS noi_n
    FROM tagged GROUP BY doc_id
)
SELECT doc_id, sig_n, noi_n,
       round(10 * log10((CAST(sig_e AS DOUBLE) / sig_n)
                        / (CAST(noi_e AS DOUBLE) / noi_n)), 6) AS snr_db
FROM per_doc
WHERE sig_n > 0 AND noi_n > 0 AND noi_e > 0
ORDER BY doc_id
"""

SPECS.append(
    QuerySpec(
        "mm_audio_snr",
        mm_audio_snr,
        MM_AUDIO_SNR_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# mm_png_roundtrip — REAL PNG encode→decode (stdlib zlib, CRC'd chunks)
# ---------------------------------------------------------------------------


def _png_roundtrip_batches_fn():
    """Arrow batch fn: synthesize a deterministic RGB image per even
    doc, encode it as a REAL PNG (zlib-deflated scanlines with
    per-row filters 0/1/2, CRC32-checked chunks), then DECODE it with
    an independent parser (signature, chunk walk, CRC verify,
    inflate, unfilter) and report channel sums computed from the
    DECODED bytes. The oracle recomputes the sums from the pixel
    formula in closed form — they only agree if deflate, the filter
    inverse, and the chunk framing are all byte-correct. Closure-
    wrapped for by-value pickling."""

    def encode_png(d: int, w: int, h: int) -> bytes:
        import struct as _struct  # noqa: PLC0415
        import zlib as _zlib  # noqa: PLC0415

        raw = bytearray()
        prev = bytearray(w * 3)
        for y in range(h):
            line = bytearray()
            for x in range(w):
                line += bytes(
                    (
                        (7 * d + 3 * x + 5 * y) % 256,
                        (11 * d + 2 * x + y) % 256,
                        (d + x + 4 * y) % 256,
                    )
                )
            ft = y % 3
            raw.append(ft)
            if ft == 0:  # None
                raw += line
            elif ft == 1:  # Sub
                for i, v in enumerate(line):
                    raw.append((v - (line[i - 3] if i >= 3 else 0)) % 256)
            else:  # Up
                for i, v in enumerate(line):
                    raw.append((v - prev[i]) % 256)
            prev = line

        def chunk(tag: bytes, body: bytes) -> bytes:
            return (
                _struct.pack(">I", len(body))
                + tag
                + body
                + _struct.pack(">I", _zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        ihdr = _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _zlib.compress(bytes(raw), 6))
            + chunk(b"IEND", b"")
        )

    def decode_png(blob: bytes) -> tuple:
        import struct as _struct  # noqa: PLC0415
        import zlib as _zlib  # noqa: PLC0415

        assert blob[:8] == b"\x89PNG\r\n\x1a\n", "bad signature"
        pos, w, h, idat = 8, None, None, b""
        while pos < len(blob):
            (ln,) = _struct.unpack(">I", blob[pos : pos + 4])
            tag = blob[pos + 4 : pos + 8]
            body = blob[pos + 8 : pos + 8 + ln]
            (crc,) = _struct.unpack(">I", blob[pos + 8 + ln : pos + 12 + ln])
            assert crc == _zlib.crc32(tag + body) & 0xFFFFFFFF, "bad CRC"
            if tag == b"IHDR":
                w, h, depth, ctype = _struct.unpack(">IIBB", body[:10])
                assert (depth, ctype) == (8, 2), "unsupported PNG"
            elif tag == b"IDAT":
                idat += body
            pos += 12 + ln
        raw = _zlib.decompress(idat)
        stride = w * 3
        prev = bytearray(stride)
        sums = [0, 0, 0]
        for y in range(h):
            ft = raw[y * (stride + 1)]
            flt = raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)]
            line = bytearray()
            for i, v in enumerate(flt):
                if ft == 0:
                    line.append(v)
                elif ft == 1:
                    line.append((v + (line[i - 3] if i >= 3 else 0)) % 256)
                elif ft == 2:
                    line.append((v + prev[i]) % 256)
                else:
                    raise AssertionError(f"unexpected filter {ft}")
            for i, v in enumerate(line):
                sums[i % 3] += v
            prev = line
        return w, h, sums[0], sums[1], sums[2]

    def run(batches):
        import pandas as _pd  # noqa: PLC0415 - worker-side import

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 24 + 8, d % 17 + 8
                dw, dh, rs, gs, bs = decode_png(encode_png(d, w, h))
                rows.append((d, dw, dh, rs, gs, bs, rs + gs + bs))
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "width", "height",
                    "r_sum", "g_sum", "b_sum", "pixel_sum",
                ],
            )

    return run


MM_PNG_SCHEMA = (
    "doc_id long, width int, height int, "
    "r_sum long, g_sum long, b_sum long, pixel_sum long"
)


def mm_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG roundtrip over the even-doc image population: the full
    container format — zlib DEFLATE, per-scanline filters (None/Sub/
    Up), CRC32-framed chunks — implemented stdlib-only, so the
    'codec libs absent' constraint no longer caps the multimodal
    story at BMP. Decoded-channel sums are the oracle contract; the
    SQL twin computes them from the pixel formula with
    generate_series, never seeing a PNG byte."""
    imgs = spread(load(spark, sf_dir, "documents")).filter(
        F.col("doc_id") % 2 == 0
    ).select("doc_id")
    return imgs.mapInPandas(_png_roundtrip_batches_fn(), schema=MM_PNG_SCHEMA)


MM_PNG_ROUNDTRIP_ORACLE = """
WITH d AS (
    SELECT doc_id, doc_id % 24 + 8 AS w, doc_id % 17 + 8 AS h
    FROM documents WHERE doc_id % 2 = 0
),
gx AS (SELECT unnest(range(32)) AS x),
gy AS (SELECT unnest(range(25)) AS y)
SELECT d.doc_id,
       CAST(d.w AS INTEGER) AS width,
       CAST(d.h AS INTEGER) AS height,
       CAST(SUM((7 * d.doc_id + 3 * gx.x + 5 * gy.y) % 256) AS BIGINT) AS r_sum,
       CAST(SUM((11 * d.doc_id + 2 * gx.x + gy.y) % 256) AS BIGINT) AS g_sum,
       CAST(SUM((d.doc_id + gx.x + 4 * gy.y) % 256) AS BIGINT) AS b_sum,
       CAST(SUM((7 * d.doc_id + 3 * gx.x + 5 * gy.y) % 256
              + (11 * d.doc_id + 2 * gx.x + gy.y) % 256
              + (d.doc_id + gx.x + 4 * gy.y) % 256) AS BIGINT) AS pixel_sum
FROM d JOIN gx ON gx.x < d.w JOIN gy ON gy.y < d.h
GROUP BY d.doc_id, d.w, d.h
"""
SPECS.append(
    QuerySpec(
        "mm_png_roundtrip",
        mm_png_roundtrip,
        MM_PNG_ROUNDTRIP_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# mm_thumbnail_real — REAL box-filter thumbnail over decoded BMP pixels
# ---------------------------------------------------------------------------

_THUMB_G = 4  # thumbnail grid: G×G cells of average luminance


def _thumbnail_batches_fn():
    """Arrow batch fn: decode each even doc's REAL BMP (vendored
    codec), drop the per-row 4-byte-alignment padding, and box-filter
    the pixel plane down to a G×G luminance thumbnail — the actual
    pixel-resample semantics behind `mm_resize`'s planning pass. Cell membership
    is the integer map gy=r·G div h, gx=x·G div w (every pixel in
    exactly one cell, cells contiguous), so the oracle can re-derive
    every cell from tiling math. Codec captured by value; numpy
    bincount does the accumulation worker-side."""
    enc, _ = _media_codec_fns()
    G = _THUMB_G

    def run(batches):
        import numpy as _np  # noqa: PLC0415 - worker-side imports
        import pandas as _pd  # noqa: PLC0415

        for pdf in batches:
            out = {"doc_id": [], "gy": [], "gx": [], "n_bytes": [],
                   "cell_sum": [], "avg_milli": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                did = int(doc_id)
                if did % 2 == 1:
                    continue  # audio docs have no pixel plane
                blob = enc(did, bytes(payload))
                n = len(bytes(payload))
                w, h = n % 64 + 1, n % 48 + 1
                stride = ((w * 3 + 3) // 4) * 4
                pix = (
                    _np.frombuffer(blob[54 : 54 + stride * h], dtype=_np.uint8)
                    .reshape(h, stride)[:, : w * 3]
                )
                r_idx = _np.repeat(_np.arange(h), w * 3)
                x_idx = _np.tile(_np.arange(w * 3) // 3, h)
                cell = (r_idx * G // h) * G + (x_idx * G // w)
                sums = _np.bincount(cell, weights=pix.ravel(), minlength=G * G)
                cnts = _np.bincount(cell, minlength=G * G)
                for c in range(G * G):
                    if cnts[c] == 0:
                        continue
                    s = int(sums[c])
                    out["doc_id"].append(did)
                    out["gy"].append(c // G)
                    out["gx"].append(c % G)
                    out["n_bytes"].append(int(cnts[c]))
                    out["cell_sum"].append(s)
                    out["avg_milli"].append(s * 1000 // int(cnts[c]))
            yield _pd.DataFrame(out)

    return run


def mm_thumbnail_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G×G box-filter thumbnail over REAL decoded BMP pixels — the
    image-resize primitive (downsample for vision-model preprocessing)
    done with true pixel semantics: alignment padding excluded,
    integer average luminance per cell. Arrow-batched mapInPandas over
    blobs (bounded memory per batch); the oracle re-derives every cell
    sum from the documents table alone, pinning header offset, stride,
    padding exclusion, and the cell-membership map."""
    return _media_table(spark, sf_dir).mapInPandas(
        _thumbnail_batches_fn(),
        schema="doc_id long, gy int, gx int, n_bytes int, cell_sum long, avg_milli long",
    )


MM_THUMBNAIL_REAL_ORACLE = f"""
WITH meta AS (
    SELECT doc_id, text,
           octet_length(encode(text)) AS L,
           octet_length(encode(text)) % 64 + 1 AS w,
           octet_length(encode(text)) % 48 + 1 AS h,
           ((octet_length(encode(text)) % 64 + 1) * 3 + 3) // 4 * 4 AS stride
    FROM documents WHERE doc_id % 2 = 0
),
px AS (
    SELECT doc_id, h, w,
           r, j,
           ord(text[(r * stride + j) % L + 1]) AS b
    FROM (
        SELECT doc_id, text, L, w, h, stride, j,
               unnest(range(h)) AS r
        FROM (SELECT doc_id, text, L, w, h, stride,
                     unnest(range(w * 3)) AS j
              FROM meta)
    )
)
SELECT doc_id,
       CAST(r * {_THUMB_G} // h AS INTEGER) AS gy,
       CAST((j // 3) * {_THUMB_G} // w AS INTEGER) AS gx,
       CAST(COUNT(*) AS INTEGER) AS n_bytes,
       CAST(SUM(b) AS BIGINT) AS cell_sum,
       CAST(SUM(b) * 1000 // COUNT(*) AS BIGINT) AS avg_milli
FROM px
GROUP BY doc_id, gy, gx
"""

SPECS.append(
    QuerySpec(
        "mm_thumbnail_real",
        mm_thumbnail_real,
        MM_THUMBNAIL_REAL_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# mm_image_edge_density — gradient-magnitude image-quality gate (real pixels)
# ---------------------------------------------------------------------------


def _edge_density_batches_fn():
    """Arrow batch fn: decode each even doc's REAL BMP, drop row
    padding, and sum absolute horizontal (same channel, adjacent
    pixel) and vertical (adjacent row) byte gradients — the
    blur/blank detector under image-quality gates (a near-constant
    image has near-zero gradient mass). Codec captured by value."""
    enc, _ = _media_codec_fns()

    def run(batches):
        import numpy as _np  # noqa: PLC0415 - worker-side imports
        import pandas as _pd  # noqa: PLC0415

        for pdf in batches:
            out = {"doc_id": [], "h_grad_sum": [], "v_grad_sum": [],
                   "n_h_pairs": [], "n_v_pairs": [], "edge_permille": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                did = int(doc_id)
                if did % 2 == 1:
                    continue
                blob = enc(did, bytes(payload))
                n = len(bytes(payload))
                w, h = n % 64 + 1, n % 48 + 1
                stride = ((w * 3 + 3) // 4) * 4
                pix = (
                    _np.frombuffer(blob[54 : 54 + stride * h], dtype=_np.uint8)
                    .reshape(h, stride)[:, : w * 3]
                    .astype(_np.int64)
                )
                hg = _np.abs(pix[:, 3:] - pix[:, :-3]).sum() if w > 1 else 0
                vg = _np.abs(pix[1:, :] - pix[:-1, :]).sum() if h > 1 else 0
                n_h = h * max(w * 3 - 3, 0)
                n_v = max(h - 1, 0) * w * 3
                tot = n_h + n_v
                out["doc_id"].append(did)
                out["h_grad_sum"].append(int(hg))
                out["v_grad_sum"].append(int(vg))
                out["n_h_pairs"].append(n_h)
                out["n_v_pairs"].append(n_v)
                out["edge_permille"].append(
                    (int(hg) + int(vg)) * 1000 // (tot * 255) if tot else 0
                )
            yield _pd.DataFrame(out)

    return run


def mm_image_edge_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image gradient-magnitude density over REAL decoded BMP
    pixels — the sharpness/blankness gate of an image-curation
    pipeline, computed with true pixel semantics (padding excluded,
    same-channel horizontal neighbors at offset 3). The oracle
    re-derives both gradient sums in closed form from the documents
    table (neighbor bytes are direct tiling expressions — no
    self-join), pinning stride, padding, and channel alignment."""
    return _media_table(spark, sf_dir).mapInPandas(
        _edge_density_batches_fn(),
        schema=(
            "doc_id long, h_grad_sum long, v_grad_sum long, "
            "n_h_pairs long, n_v_pairs long, edge_permille long"
        ),
    )


MM_IMAGE_EDGE_DENSITY_ORACLE = """
WITH meta AS (
    SELECT doc_id, text,
           octet_length(encode(text)) AS L,
           octet_length(encode(text)) % 64 + 1 AS w,
           octet_length(encode(text)) % 48 + 1 AS h,
           ((octet_length(encode(text)) % 64 + 1) * 3 + 3) // 4 * 4 AS stride
    FROM documents WHERE doc_id % 2 = 0
),
px AS MATERIALIZED (
    SELECT doc_id, w, h, r, j,
           ord(text[(r * stride + j) % L + 1]) AS b,
           CASE WHEN j >= 3
                THEN ord(text[(r * stride + j - 3) % L + 1]) END AS b_left,
           CASE WHEN r >= 1
                THEN ord(text[((r - 1) * stride + j) % L + 1]) END AS b_up
    FROM (
        SELECT doc_id, text, L, w, h, stride, j, unnest(range(h)) AS r
        FROM (SELECT doc_id, text, L, w, h, stride,
                     unnest(range(w * 3)) AS j
              FROM meta)
    )
),
sums AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN b_left IS NOT NULL THEN abs(b - b_left) ELSE 0 END)
                AS BIGINT) AS h_grad_sum,
           CAST(SUM(CASE WHEN b_up IS NOT NULL THEN abs(b - b_up) ELSE 0 END)
                AS BIGINT) AS v_grad_sum,
           CAST(MAX(h) * GREATEST(MAX(w) * 3 - 3, 0) AS BIGINT) AS n_h_pairs,
           CAST(GREATEST(MAX(h) - 1, 0) * MAX(w) * 3 AS BIGINT) AS n_v_pairs
    FROM px GROUP BY doc_id
)
SELECT doc_id, h_grad_sum, v_grad_sum, n_h_pairs, n_v_pairs,
       CASE WHEN n_h_pairs + n_v_pairs > 0
            THEN CAST((h_grad_sum + v_grad_sum) * 1000
                      // ((n_h_pairs + n_v_pairs) * 255) AS BIGINT)
            ELSE 0 END AS edge_permille
FROM sums
"""

SPECS.append(
    QuerySpec(
        "mm_image_edge_density",
        mm_image_edge_density,
        MM_IMAGE_EDGE_DENSITY_ORACLE,
    )
)


# ---------------------------------------------------------------------------
# mm_audio_clipping — signed PCM16 clipping-rate gate (real WAV)
# ---------------------------------------------------------------------------

_CLIP_ABS = 32000  # |sample| at or beyond this counts as clipped


def _clipping_batches_fn():
    enc, _ = _media_codec_fns()

    def run(batches):
        import numpy as _np  # noqa: PLC0415 - worker-side imports
        import pandas as _pd  # noqa: PLC0415

        for pdf in batches:
            out = {"doc_id": [], "n_samples": [], "n_clipped": [],
                   "peak_abs": [], "clip_permille": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                did = int(doc_id)
                if did % 2 == 0:
                    continue  # image docs have no PCM stream
                blob = enc(did, bytes(payload))
                samp = _np.frombuffer(blob[44:], dtype="<i2").astype(_np.int64)
                n_clip = int((_np.abs(samp) >= _CLIP_ABS).sum())
                out["doc_id"].append(did)
                out["n_samples"].append(len(samp))
                out["n_clipped"].append(n_clip)
                out["peak_abs"].append(int(_np.abs(samp).max()))
                out["clip_permille"].append(n_clip * 1000 // len(samp))
            yield _pd.DataFrame(out)

    return run


def mm_audio_clipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipping-rate gate over REAL WAV PCM16 samples with correct
    SIGNED semantics (`mm_audio_energy` works on the unsigned byte
    stream; clipping is about signed amplitude, so the two's-
    complement conversion is the point here): per clip, sample count,
    samples at |s| ≥ 32000, the signed peak, and the clip rate — the
    distortion gate of an audio-curation pipeline. The oracle
    re-derives every 16-bit sample from the byte tiling with an
    explicit two's-complement CASE."""
    return _media_table(spark, sf_dir).mapInPandas(
        _clipping_batches_fn(),
        schema=(
            "doc_id long, n_samples long, n_clipped long, "
            "peak_abs long, clip_permille long"
        ),
    )


MM_AUDIO_CLIPPING_ORACLE = f"""
WITH meta AS (
    SELECT doc_id, text,
           octet_length(encode(text)) AS L,
           (octet_length(encode(text)) % 1000 + 1)
             * (octet_length(encode(text)) % 2 + 1) AS n_samp
    FROM documents WHERE doc_id % 2 = 1
),
samp AS MATERIALIZED (
    SELECT doc_id,
           CASE WHEN ord(text[(2 * k) % L + 1])
                     + 256 * ord(text[(2 * k + 1) % L + 1]) >= 32768
                THEN ord(text[(2 * k) % L + 1])
                     + 256 * ord(text[(2 * k + 1) % L + 1]) - 65536
                ELSE ord(text[(2 * k) % L + 1])
                     + 256 * ord(text[(2 * k + 1) % L + 1]) END AS s
    FROM (SELECT doc_id, text, L, unnest(range(n_samp)) AS k FROM meta)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(CASE WHEN abs(s) >= {_CLIP_ABS} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clipped,
       CAST(MAX(abs(s)) AS BIGINT) AS peak_abs,
       CAST(SUM(CASE WHEN abs(s) >= {_CLIP_ABS} THEN 1 ELSE 0 END) * 1000
            // COUNT(*) AS BIGINT) AS clip_permille
FROM samp
GROUP BY doc_id
"""

SPECS.append(
    QuerySpec(
        "mm_audio_clipping",
        mm_audio_clipping,
        MM_AUDIO_CLIPPING_ORACLE,
    )
)
