"""Multimodal column operators: opaque binary payloads + typed metadata.

Image/audio/video travel as ``binary`` columns with (w, h, fmt, …) metadata —
the BASELINE input_hint shape.  Decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` — the Spark-side plumbing
(schema, batch shape, partitioning) is real and tested; only the codec layer
is a stub where the container lacks the library:

* ``png`` / ``jpeg`` decode — REAL (sources/images.py + the pure-numpy
  baseline JPEG codec in sources/jpeg.py)
* any other fmt — raises NotImplementedError, clearly marked, so a real
  deployment drops in libjpeg/ffmpeg bindings without touching plan shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from govuk_crawler_worker_spark.sources import images as img

FEATURE_SCHEMA = (
    "image_id string, w int, h int, fmt string, mean_r double, mean_g double, "
    "mean_b double, brightness double, phash long"
)


def image_features(payload: DataFrame) -> DataFrame:
    """Decode + per-image feature extraction (mean channel values,
    brightness, phash), batched per Arrow chunk."""

    def extract(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = img.decode_image(bytes(r.bytes), r.fmt).astype(np.float64)
                means = px.mean(axis=(0, 1))
                rows.append(
                    {
                        "image_id": r.image_id,
                        "w": int(r.w),
                        "h": int(r.h),
                        "fmt": r.fmt,
                        "mean_r": round(float(means[0]), 4),
                        "mean_g": round(float(means[1]), 4),
                        "mean_b": round(float(means[2]), 4),
                        "brightness": round(float(px.mean()), 4),
                        "phash": img.phash64(px.astype(np.uint8)),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "w", "h", "fmt", "mean_r", "mean_g", "mean_b",
                    "brightness", "phash",
                ],
            )

    return payload.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        extract, FEATURE_SCHEMA
    )


RESIZE_SCHEMA = "image_id string, w int, h int, fmt string, bytes binary"


def resize_images(payload: DataFrame, factor: int = 2) -> DataFrame:
    """Block-mean downsample by an integer factor; re-encodes with the same
    codec.  numpy only — demonstrates a mutate-binary-column pipeline."""

    def resize(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                px = img.decode_image(bytes(r.bytes), r.fmt)
                h, w, _ = px.shape
                nh, nw = max(h // factor, 1), max(w // factor, 1)
                px = px[: nh * factor, : nw * factor]
                small = (
                    px.reshape(nh, factor, nw, factor, 3).mean(axis=(1, 3)).astype(np.uint8)
                )
                data = img.encode_png(small) if r.fmt == "png" else img.encode_lossy(small)
                rows.append(
                    {"image_id": r.image_id, "w": nw, "h": nh, "fmt": r.fmt, "bytes": data}
                )
            yield pd.DataFrame(rows, columns=["image_id", "w", "h", "fmt", "bytes"])

    return payload.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        resize, RESIZE_SCHEMA
    )


FRAME_SCHEMA = "video_id string, frame_idx int, w int, h int, frame_bytes binary"


def frame_sample(video: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame sampling: binary container column in → exploded frame
    rows out (every ``every_n``-th frame, PNG-encoded), one ``mapInPandas``
    pass.  The plumbing — schema, Arrow batch shape, 1→many row fan-out,
    per-partition decode — is the production contract; the codecs are REAL
    Motion-JPEG AVI (r6: RIFF walk + the pure-numpy baseline JPEG decoder,
    sources/images.py + sources/jpeg.py) plus the legacy NVID1 raw
    container; other containers raise NotImplementedError until ffmpeg
    bindings are plugged in (the sandbox ships none).  Scale note:
    partition by video_id upstream so one task never holds more than a few
    containers in memory."""

    def sample(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                frames = img.decode_video(bytes(r.bytes))
                for i in range(0, len(frames), every_n):
                    f = frames[i]
                    rows.append(
                        {
                            "video_id": r.video_id,
                            "frame_idx": i,
                            "w": f.shape[1],
                            "h": f.shape[0],
                            "frame_bytes": img.encode_png(f),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["video_id", "frame_idx", "w", "h", "frame_bytes"]
            )

    return video.select("video_id", "bytes").mapInPandas(sample, FRAME_SCHEMA)
