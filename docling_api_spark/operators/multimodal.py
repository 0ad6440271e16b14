"""Multimodal column plumbing: an opaque binary video payload in, typed
per-frame metadata out.

Video rides through the engine as a ``binary`` column; frame sampling
runs batch-wise in ``mapInArrow`` — the worker receives and returns
``pyarrow.RecordBatch`` directly, passthrough columns are re-emitted
zero-copy, and the output list-of-structs column is built as an Arrow
array without a pandas round-trip (the pandas serializer measured ~35%
of extraction throughput; binary columns through pandas object arrays
is the same pattern).

The codec step is a **clearly-marked STUB** — video codec libraries are
not dependencies of this package — but the Spark-side contract (schema,
batching, UDF signature, partition behavior) is real and tested. The
deterministic fake container (``FVID`` magic + frame count + frame
length + fixed-size frames) stands in for e.g. an ffmpeg decode.
"""

from __future__ import annotations

import struct
from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T

FAKE_VIDEO_MAGIC = b"FVID"

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("mean_byte", T.DoubleType(), True),
    ]
)


def sample_video_frames(df: DataFrame, every: int = 2) -> DataFrame:
    """Frame-sampling plumbing: FVID container -> array of per-frame
    metadata structs for every ``every``-th frame, replacing ``video``
    (a real pipeline would emit decoded frame tensors here). Every other
    column is kept zero-copy; header parsing of variable-length binaries
    is per payload, numpy does the per-byte work (one reshape per
    payload), and the ``frames`` column is built as an Arrow array
    directly — no pandas anywhere. Bad payloads -> NULL, never task
    failures."""
    import numpy as np

    if "video" not in df.columns:
        # fail loudly: pyarrow's get_field_index returns -1 for a missing
        # column, and column(-1) silently reads the LAST column instead
        raise ValueError(f"binary column 'video' not in {df.columns}")
    keep = [c for c in df.columns if c != "video"]
    out_schema = T.StructType(
        [df.schema[c] for c in keep]
        + [T.StructField("frames", T.ArrayType(FRAME_SCHEMA), True)]
    )

    def frames(raw):
        if raw is None or len(raw) < 12 or bytes(raw[:4]) != FAKE_VIDEO_MAGIC:
            return None
        n, flen = struct.unpack("<II", bytes(raw[4:12]))
        body = np.frombuffer(bytes(raw[12:12 + n * flen]), dtype=np.uint8)
        if len(body) < n * flen or flen == 0:
            return None
        mat = body.reshape(n, flen)
        means = mat.mean(axis=1)
        return [
            {"frame_idx": int(i), "n_bytes": int(flen),
             "mean_byte": round(float(means[i]), 4)}
            for i in range(0, n, every)
        ]

    def run(batches: Iterator) -> Iterator:
        import pyarrow as pa

        out_type = pa.list_(pa.struct([
            pa.field("frame_idx", pa.int32(), nullable=False),
            pa.field("n_bytes", pa.int32(), nullable=False),
            pa.field("mean_byte", pa.float64()),
        ]))
        out_arrow = None
        for b in batches:
            payloads = b.column(b.schema.get_field_index("video"))
            values = [frames(raw) for raw in payloads.to_pylist()]
            keep_arrays = [b.column(b.schema.get_field_index(c)) for c in keep]
            if out_arrow is None:
                out_arrow = pa.schema(
                    [b.schema.field(b.schema.get_field_index(c)) for c in keep]
                    + [pa.field("frames", out_type)]
                )
            yield pa.RecordBatch.from_arrays(
                keep_arrays + [pa.array(values, type=out_type)],
                schema=out_arrow,
            )

    return df.mapInArrow(run, schema=out_schema)
