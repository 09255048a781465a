"""Multimodal columns: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: store the raw bytes as a
``binary`` column (or a pointer + byte range) with typed metadata
alongside; run decode / feature-extraction as **Arrow-batched Python**
(``mapInPandas``) — the one place Python belongs in the pipeline, because
codecs aren't Catalyst expressions. Partitioning, schema, and batch shape
are the real scale concerns and are fully implemented here; the actual
codec calls are stubbed (image/audio libraries are not in this
container) behind ``NotImplementedError`` + a deterministic fake, as the
build contract specifies.

Scale notes:
- ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds decode batch
  memory (payloads are big; default 10k rows of images would OOM — set
  it down for real media).
- The featurizer is a narrow map — no shuffle; repartition upstream by
  size if payload skew is expected.
- Fan-out is sized by input bytes, not core count
  (``ensure_parallelism(..., python_workers=True)``): the input widens
  to ``min(defaultParallelism, ceil(bytes / openCostInBytes))``
  partitions, so a small input runs as ONE Python task with no
  exchange, and a large payload still spreads across the cores. Each
  Python task costs ~0.25 CPU s before the UDF sees a row, whatever
  its row count: PySpark's per-task ``worker_util.setup_spark_files``
  calls ``importlib.invalidate_caches()``, which makes each of the
  worker's zipimporters re-read the 1,328-entry ``pyspark.zip``
  directory (cProfile of a warm, reused worker; an identity
  ``mapInPandas`` over 500 rows pays it too).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbnb_cdc_spark.session import ensure_parallelism

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("content_hash", T.StringType(), True),
        T.StructField("fake_width", T.IntegerType(), True),
        T.StructField("fake_height", T.IntegerType(), True),
    ]
)


def decode_image(payload: bytes) -> object:
    """Real decode requires an image codec (PIL/opencv) — not available
    in this container. Plug one in here on a real cluster."""
    raise NotImplementedError("image codec not available in this environment")


def _fake_decode_dims(digest: str) -> tuple[int, int]:
    """Deterministic stand-in for decode: pretend dims derived from the
    content hash (keeps the pipeline testable end-to-end)."""
    return int(digest[:4], 16) % 1920 + 1, int(digest[4:8], 16) % 1080 + 1


def extract_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched feature extraction over a binary column."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            digests = [
                hashlib.md5(b).hexdigest() if b is not None else None
                for b in pdf[payload_col]
            ]
            dims = [_fake_decode_dims(d) if d else (None, None) for d in digests]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": [len(b) if b is not None else None for b in pdf[payload_col]],
                    "content_hash": digests,
                    "fake_width": [w for w, _ in dims],
                    "fake_height": [h for _, h in dims],
                }
            )

    return ensure_parallelism(
        df.select(id_col, payload_col), python_workers=True
    ).mapInPandas(featurize, FEATURE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("out_width", T.IntegerType(), True),
        T.StructField("out_height", T.IntegerType(), True),
        T.StructField("resized_hash", T.StringType(), True),
    ]
)


def resize_images(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    box: int = 128,
) -> DataFrame:
    """Aspect-preserving resize into a ``box``×``box`` bound — codec
    stubbed (see ``decode_image``): source dims come from the
    deterministic fake decode, output dims are exact IEEE math both
    engines reproduce, and the "resized payload" hash is
    md5(content_hash ':' w ':' h) standing in for re-encoded bytes.
    The Arrow batch shape, schema, and narrow-map plumbing are real."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import math

        for pdf in batches:
            out = {"doc_id": [], "out_width": [], "out_height": [], "resized_hash": []}
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                out["doc_id"].append(i)
                if b is None:
                    out["out_width"].append(None)
                    out["out_height"].append(None)
                    out["resized_hash"].append(None)
                    continue
                digest = hashlib.md5(b).hexdigest()
                w, h = _fake_decode_dims(digest)
                scale = min(box / w, box / h)
                ow = max(1, int(math.floor(w * scale)))
                oh = max(1, int(math.floor(h * scale)))
                out["out_width"].append(ow)
                out["out_height"].append(oh)
                out["resized_hash"].append(
                    hashlib.md5(f"{digest}:{ow}:{oh}".encode()).hexdigest()
                )
            yield pd.DataFrame(out)

    return ensure_parallelism(
        df.select(id_col, payload_col), python_workers=True
    ).mapInPandas(run, RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_hash", T.StringType(), True),
    ]
)


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_frames: int = 4,
) -> DataFrame:
    """Video frame sampling — codec stubbed: pretend the payload holds
    ``n_bytes // 100 + 1`` frames, sample ``max_frames`` evenly
    (stride = n_frames // max_frames, min 1), one output row per
    sampled frame with a deterministic per-frame hash. The fan-out
    (1 row → k rows) inside mapInPandas is the real pattern a video
    pipeline uses; at scale cap Arrow batch size since each input row
    multiplies."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_hash": []}
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                if b is None:
                    continue
                digest = hashlib.md5(b).hexdigest()
                n_frames = len(b) // 100 + 1
                stride = max(1, n_frames // max_frames)
                for k in range(min(max_frames, n_frames)):
                    idx = k * stride
                    out["doc_id"].append(i)
                    out["frame_idx"].append(idx)
                    out["frame_hash"].append(
                        hashlib.md5(f"{digest}:{idx}".encode()).hexdigest()
                    )
            yield pd.DataFrame(out)

    return ensure_parallelism(
        df.select(id_col, payload_col), python_workers=True
    ).mapInPandas(run, FRAME_SCHEMA)


def documents_as_binary(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adapter: treat document text bytes as an opaque payload so the
    multimodal plumbing is exercised against the driver tables."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))
