"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a metadata
struct; decode / feature-extract / resize / frame-sample run as
Arrow-batched ``mapInPandas`` stages.  The actual codec work is STUBBED
(no image/audio libraries in this container): ``decode_stub`` produces
a deterministic fake "decoded" tensor summary so the Spark-side
contract — schema, batch shape, partitioning, UDF signature — is real
and tested end-to-end.  Swapping in PIL/ffmpeg later only changes
``decode_stub``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = ("media_id long, kind string, payload binary, "
                "width int, height int, duration_ms int")

FEATURE_SCHEMA = ("media_id long, kind string, n_bytes int, "
                  "digest string, mean_byte double, feat array<float>")


def synth_rows(n: int = 64, seed: int = 42) -> list[tuple]:
    """Deterministic fake media rows (binary payloads)."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        payload = rng.integers(0, 256, size=int(rng.integers(64, 512)),
                               dtype=np.uint8).tobytes()
        rows.append((i, kind, bytearray(payload),
                     int(rng.integers(16, 256)), int(rng.integers(16, 256)),
                     int(rng.integers(100, 10_000))))
    return rows


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (binary payloads)."""
    return spark.createDataFrame(synth_rows(n, seed), schema=MEDIA_SCHEMA)


def ensure_media_parquet(path: str, n: int = 64, seed: int = 42) -> str:
    """Write the deterministic media table to parquet once (pyarrow,
    no Spark needed) so the DuckDB oracle and the Spark query read the
    SAME bytes — the media analog of the committed t2 corpus."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    if not os.path.exists(path):
        rows = synth_rows(n, seed)
        table = pa.table({
            "media_id": pa.array([r[0] for r in rows], pa.int64()),
            "kind": pa.array([r[1] for r in rows], pa.string()),
            "payload": pa.array([bytes(r[2]) for r in rows], pa.binary()),
            "width": pa.array([r[3] for r in rows], pa.int32()),
            "height": pa.array([r[4] for r in rows], pa.int32()),
            "duration_ms": pa.array([r[5] for r in rows], pa.int32()),
        })
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        pq.write_table(table, tmp)
        os.replace(tmp, path)
    return path


def decode_stub(payload: bytes) -> np.ndarray:
    """Deterministic fake decode: 8-dim feature from the payload bytes
    (stands in for an image tensor / audio frames)."""
    h = hashlib.sha256(payload).digest()
    arr = np.frombuffer(payload, dtype=np.uint8)
    return np.array([
        arr.mean(), arr.std(), arr.min(), arr.max(),
        float(h[0]), float(h[1]), float(len(arr) % 251), float(arr[0]),
    ], dtype=np.float32)


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction — Arrow batches in, one feature
    row per media item out.  Repartitioning is by media_id so a huge
    table spreads across executors regardless of source layout."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [bytes(p) for p in pdf["payload"].tolist()]
            feats = [decode_stub(p) for p in payloads]
            yield pd.DataFrame(dict(
                media_id=pdf["media_id"],
                kind=pdf["kind"],
                n_bytes=[len(p) for p in payloads],
                # digest over the canonical UPPERCASE-hex rendering, so
                # the twin is portable SQL: sha256(hex(payload)) in
                # both Spark (sha2(hex(col),256)) and DuckDB
                digest=[hashlib.sha256(p.hex().upper().encode())
                        .hexdigest()[:16] for p in payloads],
                # float64 mean of the raw bytes (sums of <=512 uint8
                # are exact in float64, so DuckDB's avg reproduces it
                # bit-for-bit)
                mean_byte=[float(np.frombuffer(p, dtype=np.uint8).mean())
                           for p in payloads],
                feat=[f.tolist() for f in feats],
            ))

    return (media.repartition("media_id")
            .mapInPandas(fn, schema=FEATURE_SCHEMA))


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling *plan*: explode sample timestamps JVM-side;
    the per-frame decode would run in a downstream mapInPandas."""
    ts = F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
    return (media.filter(F.col("kind") == "video")
            .select("media_id", F.explode(ts).alias("sample_ms")))
