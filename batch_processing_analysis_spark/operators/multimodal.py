"""Multimodal column plumbing (M10): opaque ``binary`` payloads with
typed metadata, processed by Arrow-batched ``mapInPandas``.

The design contract for image/audio/video at 100 TB:

- the payload is an opaque ``binary`` column next to a typed metadata
  struct (modality, n_bytes, source) — Spark never interprets it;
- decode / feature-extract / resize / frame-sample run as
  ``mapInPandas`` stages so bytes move driver-free through Arrow
  record batches, one Python worker per partition;
- partitioning is by payload size (``repartitionByRange`` on n_bytes
  upstream if skewed) so one 4 GB video cannot straggle a task that
  also holds ten thousand thumbnails.

No image codec runs here: byte-level stand-ins (``binary_features``,
``sample_frames``, ``resize_payload``) and codec-free payload SimHash
keep the plumbing oracle-checkable; ``REAL CODEC POINT`` comments mark
where a real decoder slots in. ``decode_audio`` decodes WAV payloads
with the stdlib (soundfile when importable).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_checksum", T.LongType()),
        T.StructField("feature_dim", T.IntegerType()),
    ]
)


def decode_audio(payload: bytes) -> "object":
    """Decode an audio payload to (samples float32, sample_rate).

    Codec ladder: soundfile when importable
    (every format), else stdlib ``wave`` for RIFF/WAVE PCM payloads
    (8/16/32-bit integer PCM → float32 in [-1, 1)) — so the decoded
    audio path also runs UNSKIPPED in a codec-less container. Non-WAV
    payloads without soundfile raise ``NotImplementedError`` with the
    install hint.

    Channel contract (ADVICE r7): BOTH rungs return the FIRST channel
    as a 1-D array — multichannel payloads decode to the same shape
    regardless of which codec is installed (soundfile's native 2-D
    (frames, channels) output is sliced to channel 0 to match the
    stdlib rung).
    """
    import io

    try:
        import soundfile
    except ImportError as e:
        if bytes(payload[:4]) != b"RIFF":
            raise NotImplementedError(
                "audio codec not available in this environment for "
                "non-WAV payloads (pip install soundfile to enable "
                "decode_audio for every format)"
            ) from e
        import wave

        import numpy as np

        try:
            with wave.open(io.BytesIO(bytes(payload))) as wf:
                rate = wf.getframerate()
                nch = wf.getnchannels()
                width = wf.getsampwidth()
                frames = wf.readframes(wf.getnframes())
        except (wave.Error, EOFError) as werr:
            # RIFF payloads stdlib wave can't parse (IEEE-float WAV,
            # compressed formats, truncation) are exactly what
            # soundfile WOULD decode — keep the ladder's contract: a
            # loud install hint, not an opaque wave.Error from inside
            # a mapInPandas task.
            raise NotImplementedError(
                f"stdlib wave cannot decode this RIFF payload ({werr}); "
                f"pip install soundfile to enable decode_audio for "
                f"non-PCM WAV formats"
            ) from werr
        if width == 2:
            arr = np.frombuffer(frames, dtype="<i2").astype("float32")
            arr /= 32768.0
        elif width == 4:
            arr = np.frombuffer(frames, dtype="<i4").astype("float32")
            arr /= 2147483648.0
        elif width == 1:  # WAV 8-bit is unsigned
            arr = np.frombuffer(frames, dtype="u1").astype("float32")
            arr = (arr - 128.0) / 128.0
        else:
            raise NotImplementedError(
                f"unsupported WAV sample width {width} (soundfile "
                f"handles it)")
        return arr[::nch], rate

    samples, rate = soundfile.read(io.BytesIO(payload), dtype="float32")
    if getattr(samples, "ndim", 1) == 2:  # (frames, channels) → ch 0
        samples = samples[:, 0]
    return samples, rate


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Per-Arrow-batch deterministic byte features (codec-free stand-in
    for decode + embed). Pure function of the payload bytes, so the
    DuckDB oracle can reproduce it exactly."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "modality": pdf["modality"],
                "n_bytes": payloads.map(len).astype("int64"),
                "byte_checksum": payloads.map(lambda b: sum(b) % 997).astype("int64"),
                "feature_dim": 64,
            }
        )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_index", T.LongType()),
        T.StructField("frame_bytes", T.LongType()),
        T.StructField("frame_checksum", T.LongType()),
    ]
)

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("resized_bytes", T.LongType()),
        T.StructField("resized_checksum", T.LongType()),
    ]
)


def sample_frames(media: DataFrame, frame_size: int = 32,
                  every_n: int = 2) -> DataFrame:
    """Frame sampling over binary payloads: split each payload into
    fixed-size frames and keep every ``every_n``-th — one output row per
    sampled frame (a 1→N Arrow-batched explode, the UDTF shape of video
    frame extraction).

    The frame *splitter* here is a byte-slicer standing in for the real
    container demuxer (``av``/ffmpeg frame iteration — swap inside
    ``_frames`` where noted); the Spark plumbing — binary column in,
    multiplied rows out through ``mapInPandas``, partition-parallel —
    is exactly what the real codec path runs. Deterministic, so the
    DuckDB oracle reproduces it from the same bytes.

    Scale: output fan-out is |payload|/frame_size per row; upstream
    ``repartitionByRange`` on payload size keeps one task from holding
    all the 4 GB videos while another holds thumbnails.
    """
    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, sizes, sums = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # REAL CODEC POINT: replace byte-slicing with demuxed
                # frame iteration; rest of the plumbing is unchanged.
                for k in range(0, -(-len(payload) // frame_size), every_n):
                    fr = payload[k * frame_size:(k + 1) * frame_size]
                    ids.append(doc_id)
                    idxs.append(k)
                    sizes.append(len(fr))
                    sums.append(sum(fr) % 997)
            yield pd.DataFrame(
                {"doc_id": pd.Series(ids, dtype="int64"),
                 "frame_index": pd.Series(idxs, dtype="int64"),
                 "frame_bytes": pd.Series(sizes, dtype="int64"),
                 "frame_checksum": pd.Series(sums, dtype="int64")}
            )

    return media.mapInPandas(_frames, FRAME_SCHEMA)


def resize_payload(media: DataFrame, factor: int = 4) -> DataFrame:
    """Payload resize: byte-stride downsample by ``factor`` — binary in,
    smaller binary out, summarized as (size, checksum). Stand-in for
    image resize (PIL ``thumbnail`` at the marked line); the payload
    transform pipeline — decode-ish, shrink, re-emit — runs for real
    through Arrow batches.
    """
    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # REAL CODEC POINT: decode payload, resize, re-encode.
            resized = [p[::factor] for p in pdf["payload"]]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"),
                 "n_bytes": pdf["payload"].map(len).astype("int64"),
                 "resized_bytes": pd.Series([len(r) for r in resized],
                                            dtype="int64"),
                 "resized_checksum": pd.Series([sum(r) % 997 for r in resized],
                                               dtype="int64")}
            )

    return media.mapInPandas(_resize, RESIZE_SCHEMA)


def as_binary_payloads(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(doc_id, modality, payload binary) adapter — UTF-8 bytes of
    ``text`` stand in for media blobs so the binary path runs for real
    (see :func:`binary_features`)."""
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.lit("text").alias("modality"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
    )


def binary_features(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Adapt the documents table into (id, modality, binary payload) and
    run the mapInPandas feature stage.

    In production the payload column comes off parquet/tar shards
    directly; here the UTF-8 bytes of ``text`` stand in so the whole
    path — binary column, metadata, Arrow exchange, batch-shaped UDF —
    executes for real.
    """
    payloads = as_binary_payloads(docs, id_col, text_col)
    return payloads.mapInPandas(_feature_batches, FEATURE_SCHEMA)


def payload_simhash(media: DataFrame, id_col: str = "doc_id",
                    payload_col: str = "payload",
                    bits: int = 32) -> DataFrame:
    """Codec-free SimHash over RAW binary payloads: byte-aligned 4-byte
    gram features (windows of the hex encoding at even offsets), then
    the shared vote/fold core (operators/dedup.py:simhash_from_hashes).

    This is the media-dedup primitive that needs NO decoder: re-encoded
    or resized variants won't collide (that needs perceptual hashing on
    decoded pixels), but exact and
    near-exact blobs — truncated downloads, metadata-stripped copies,
    watermark-appended variants — share most byte grams and land within
    small Hamming distance. All expression work is JVM-side; one
    explode, one groupBy on the id.
    """
    from .dedup import char_windows, hash60, simhash_from_hashes

    h = F.upper(F.hex(F.col(payload_col)))
    # Byte alignment = every 2nd hex offset; the strided build does
    # half the window work instead of building all and filtering.
    grams = char_windows(h, 8, step=2)
    rows = media.select(
        F.col(id_col), F.explode(grams).alias("_g")
    ).withColumn("h", hash60(F.col("_g")))
    return simhash_from_hashes(rows, id_col, bits)


def payload_neardup_pairs(media: DataFrame, id_col: str = "doc_id",
                          payload_col: str = "payload", bits: int = 32,
                          max_hamming: int = 2,
                          max_bucket: int = 1000) -> DataFrame:
    """Near-duplicate binary payload pairs: :func:`payload_simhash` →
    byte-banded candidate join with the standard bucket-population skew
    guard → Hamming verify (operators/dedup.py:simhash_pairs — the
    identical scale shape as text SimHash dedup)."""
    from .dedup import simhash_pairs

    sigs = payload_simhash(media, id_col, payload_col, bits)
    return simhash_pairs(sigs, id_col, bits, max_hamming=max_hamming,
                         max_bucket=max_bucket)
