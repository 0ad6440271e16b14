from docling_api_spark.extraction.kernel import (  # noqa: F401
    extract_one,
    sniff_kind,
)
