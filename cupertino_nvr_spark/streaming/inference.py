"""Deterministic synthetic model-inference UDF (SURVEY §2.10 U1).

The reference's enrichment stage is a pluggable YOLO model invoked per
frame batch (``cupertino_nvr/processor/pipeline_manager.py:92-98``), with
the model id swappable at runtime (``command_handlers.py:234-249``). The
engine's extension point is an Arrow-batched pandas UDF over frame
metadata — the exact seam where ``predict_batch_udf`` plugs a real model
on a GPU cluster. Locally the "model" is a seeded hash so every
(source_id, frame_id, model_id) yields the same detections and tests can
assert goldens.

Batch shape: the UDF receives pandas Series of scalars per Arrow batch and
returns a Series of detection-struct lists — identical plumbing to a real
vectorized model call (preprocess batch -> forward pass -> postprocess).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from pyspark.sql import types as T

from cupertino_nvr_spark.schemas import DETECTION_SCHEMA

CLASSES = ["person", "car", "truck", "bicycle", "dog"]

# DataType object, not a DDL string: string return types are parsed at
# decoration (import) time and require an active SparkSession
_DETECTIONS_TYPE = T.ArrayType(DETECTION_SCHEMA)


def _mix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cheap deterministic 64-bit mix (splitmix-style) of two id vectors."""
    x = (a.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)) ^ (
        b.astype(np.uint64) * np.uint64(0xBF58476D1CE4E5B9)
    )
    x ^= x >> np.uint64(31)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(29)
    return x


@pandas_udf(_DETECTIONS_TYPE)
def synthetic_detect(source_id: pd.Series, frame_id: pd.Series) -> pd.Series:
    """0-3 deterministic detections per frame, DETECTION_SCHEMA-shaped."""
    sid = source_id.to_numpy(dtype=np.int64)
    fid = frame_id.to_numpy(dtype=np.int64)
    h = _mix(sid, fid)
    out = []
    for i in range(len(sid)):
        n = int(h[i] % np.uint64(4))
        dets = []
        for d in range(n):
            hd = int(_mix(np.array([int(h[i])]), np.array([d + 1]))[0])
            conf = (hd % 1000) / 999.0
            dets.append(
                {
                    "class_name": CLASSES[hd % len(CLASSES)],
                    "confidence": round(conf, 6),
                    "bbox": {
                        "x": float(hd % 640),
                        "y": float((hd >> 10) % 480),
                        "width": float(16 + hd % 128),
                        "height": float(16 + (hd >> 7) % 128),
                    },
                    "tracker_id": (hd % 1000) if hd % 3 else None,
                }
            )
        out.append(dets)
    return pd.Series(out)


# The model is deterministic per (source_id, frame_id), but a deterministic
# UDF may be inlined wherever its column is referenced: a filter on the
# decoded event (parse_event_wire's validity check) is pushed below the
# projection that calls it, and the plan then runs the model twice per
# frame. Marking it nondeterministic keeps it in one ArrowEvalPython node.
synthetic_detect = synthetic_detect.asNondeterministic()


def with_synthetic_detections(frames: DataFrame, model_id: str = "synthetic-detector-v1") -> DataFrame:
    """Attach the enrichment stage to a frame(-metadata) stream; works
    identically on batch and streaming DataFrames."""
    return frames.withColumn(
        "detections", synthetic_detect(F.col("source_id"), F.col("frame_id"))
    ).withColumn("model_id", F.lit(model_id))


__all__ = ["synthetic_detect", "with_synthetic_detections", "CLASSES"]
