"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `binary` columns with a
metadata struct; decode / feature-extraction runs as Arrow-batched
`mapInPandas` so payload bytes never round-trip through Python row by
row. The decode step itself is STUBBED (no image/audio libs in this
container, by design): `fake_decode_features` is a deterministic
stand-in with the real schema, partitioning, and batch shape; swap
`_featurize_batch` for a real decoder (PIL/librosa/ffmpeg) in
production.

Scale: mapInPandas streams Arrow batches; memory is bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch` × payload size. For
100 TB of media, repartition by a size-aware key first so batches are
even, and keep payloads out of shuffle keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id bigint, kind string, n_bytes bigint, mean_byte double, first_byte int"
)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Demo payload: utf-8 bytes of the text column + typed metadata."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit("text/fake").alias("kind"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("digest"),
        ),
    )


def _featurize_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    # Deterministic FAKE decoder: replace with a real one (PIL etc.).
    payloads = pdf["payload"]
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "kind": pdf["kind"],
            "n_bytes": payloads.map(len).astype("int64"),
            "mean_byte": payloads.map(
                lambda b: float(sum(b)) / len(b) if len(b) else 0.0
            ),
            "first_byte": payloads.map(lambda b: int(b[0]) if len(b) else -1).astype(
                "int32"
            ),
        }
    )


def fake_decode_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, kind, payload)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _featurize_batch(pdf)

    cols = df.select("doc_id", F.col("media_meta.kind").alias("kind"), "payload")
    return cols.mapInPandas(gen, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = "doc_id bigint, payload binary, n_bytes bigint"
FRAMES_SCHEMA = "doc_id bigint, frame_idx int, frame binary"


def fake_resize(df: DataFrame, target_bytes: int = 64) -> DataFrame:
    """'Resize' stub: deterministic byte truncation standing in for an
    image resize; real impl swaps the lambda for PIL.Image.resize. The
    Spark-side shape (Arrow batches in, binary column out) is real."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = pdf["payload"].map(lambda b: bytes(b[:target_bytes]))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": resized,
                    "n_bytes": resized.map(len).astype("int64"),
                }
            )

    return df.select("doc_id", "payload").mapInPandas(gen, schema=RESIZE_SCHEMA)


def fake_frame_sample(df: DataFrame, stride: int = 16, max_frames: int = 4) -> DataFrame:
    """'Frame sampling' stub: every `stride`-th byte window stands in
    for video frame extraction (one output row per frame — the real
    ffmpeg-based version has the same fan-out shape)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for i in range(min(max_frames, max(len(payload) // stride, 1))):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame"].append(bytes(payload[i * stride : (i + 1) * stride]))
            out = pd.DataFrame(rows)
            out["frame_idx"] = out["frame_idx"].astype("int32")
            yield out

    return df.select("doc_id", "payload").mapInPandas(gen, schema=FRAMES_SCHEMA)


def ingest_binary_files(
    spark,
    path: str,
    glob: str | None = None,
    kind: str = "application/octet-stream",
    with_digest: bool = False,
) -> DataFrame:
    """Media-lake ingest via Spark's binaryFile source: one row per
    file with (path, modificationTime, length, content), re-shaped to
    the engine's payload+metadata contract. The source prunes on
    pathGlobFilter and never reads `content` unless the plan needs it
    (column pruning applies to file bytes too), so catalog-only scans
    of a 100 TB media lake stay metadata-sized — which is exactly why
    the content digest is OPT-IN as a separate top-level column: were
    md5(content) baked into media_meta, any scan projecting the
    metadata struct would drag the full file bytes through the reader
    and the claim above would be false."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)
    cols = [
        F.col("path").alias("uri"),
        F.col("content").alias("payload"),
        F.struct(
            F.lit(kind).alias("kind"),
            F.col("length").cast("long").alias("n_bytes"),
        ).alias("media_meta"),
    ]
    if with_digest:
        cols.append(F.md5(F.col("content")).alias("digest"))
    return raw.select(*cols)


_MAGIC = [
    ("image/png", bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A])),
    ("image/jpeg", bytes([0xFF, 0xD8, 0xFF])),
    ("image/gif", b"GIF8"),
    ("audio/wav", b"RIFF"),
    ("video/mp4_ftyp", b"ftyp"),  # matched at offset 4, see below
    ("application/pdf", b"%PDF"),
]


def sniff_media_kind(col):
    """Magic-bytes MIME sniffing on a binary column — pure JVM-side
    expressions (substring on binary + equality against byte
    literals), no Python in the hot path. Unknown prefixes map to
    'application/octet-stream'. MP4 is special-cased: its 'ftyp'
    brand lives at byte offset 5 (after the box length)."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    expr = F.lit("application/octet-stream")
    # build the CASE chain in reverse so earlier entries win
    for kind, magic in reversed(_MAGIC):
        if kind == "video/mp4_ftyp":
            cond = F.substring(c, 5, 4) == F.lit(b"ftyp")
            kind = "video/mp4"
        else:
            cond = F.substring(c, 1, len(magic)) == F.lit(magic)
        expr = F.when(cond, F.lit(kind)).otherwise(expr)
    return expr
