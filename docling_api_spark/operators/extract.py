"""The extraction operator: ``mapInArrow`` over Arrow record batches.

This is the Spark incarnation of the reference's conversion core
(reference deployments/modal/modal_docling.py:185-264, 'process one
document, capsule errors'), vectorized batch-wise per the north rule:
one Python call per Arrow batch (≈4096 rows), zero per-row Python in
the data plane.

``mapInArrow`` (not ``mapInPandas``): the worker receives and returns
``pyarrow.RecordBatch`` directly. Passthrough columns are forwarded
**zero-copy** (the input Arrow buffers are re-emitted untouched), and
the nested ``spans`` column is assembled from the kernel's flat
parallel arrays via ``StructArray.from_arrays`` + ``ListArray.
from_arrays`` — the Arrow memory layout itself, no per-element Python
objects. Measured on this box the pandas serializer path costs ~35% of
end-to-end throughput; this path runs within ~7% of a no-output kernel
ceiling.

The operator is schema-generic: it appends the EXTRACT_RESULT_FIELDS to
whatever passthrough columns the caller keeps. Extraction is per-row
independent (no batch-boundary or partition-boundary dependence), which
is what makes the whole pipeline embarrassingly parallel and the
batch-invariance test (tests/test_spark_extract.py) meaningful.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from docling_api_spark.extraction.kernel import DEFAULT_OPTIONS
from docling_api_spark.schema import EXTRACT_RESULT_FIELDS


def extract_text_column(df: DataFrame, text_col: str = "text",
                        keep_cols: list[str] | None = None,
                        options=None) -> DataFrame:
    """Append extraction result columns, dropping the raw payload.

    ``keep_cols`` defaults to every column except ``text_col`` — the raw
    payload is dropped after extraction (at 100 TB you do not carry the
    input bytes through the shuffleless write, you re-read them from the
    source snapshot on resume).

    ``options`` is an ``ExtractOptions`` (default: reference defaults —
    output_format='markdown', tables on). It is captured in the UDF
    closure as a per-job constant (SURVEY §1.1: 'broadcast literals
    passed to the UDF constructor', never per-row).
    """
    keep = keep_cols if keep_cols is not None else [
        c for c in df.columns if c != text_col
    ]
    result = T.StructType(EXTRACT_RESULT_FIELDS)
    out_schema = T.StructType([df.schema[c] for c in keep] + result.fields)
    opts = options or DEFAULT_OPTIONS
    # the Arrow form of EXTRACT_RESULT_FIELDS; the nested spans column's
    # struct fields name the kernel's flat span_<field> arrays
    result_fields = list(to_arrow_schema(result))
    spans_type = next(f.type for f in result_fields if f.name == "spans")
    span_fields = list(spans_type.value_type)

    def run(batches: Iterator) -> Iterator:
        # import inside the task: the kernel module (with its precompiled
        # regex automata) loads once per worker and is reused across
        # batches (worker reuse is on by default).
        import pyarrow as pa

        from docling_api_spark.extraction.kernel import extract_flat

        out_arrow = None  # built from the first batch (keeps input arrow
        # types, e.g. timestamp unit/tz, exactly as Spark sent them)

        for b in batches:
            cols = extract_flat(b.column(text_col).to_pylist(), opts)
            structs = pa.StructArray.from_arrays(
                [pa.array(cols[f"span_{f.name}"], f.type) for f in span_fields],
                fields=span_fields,
            )
            cols["spans"] = pa.ListArray.from_arrays(
                pa.array(cols["span_offsets"], pa.int32()), structs,
                type=spans_type,
            )
            arrays = [b.column(c) for c in keep] + [
                cols["spans"] if f.name == "spans"
                else pa.array(cols[f.name], f.type)
                for f in result_fields
            ]
            if out_arrow is None:
                out_arrow = pa.schema(
                    [b.schema.field(c) for c in keep] + result_fields
                )
            yield pa.RecordBatch.from_arrays(arrays, schema=out_arrow)

    return df.mapInArrow(run, schema=out_schema)
