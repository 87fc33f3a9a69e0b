"""P13 — JSON payload extraction.

The reference decodes stream payloads with ``eval(json.loads(value))``
three separate times per batch (``spark_streaming_kafka.py:18-20``) —
one collect per field, plus an arbitrary-code-execution hole. Rebuild:
one ``from_json`` with an explicit schema, evaluated JVM-side in a
single pass; works identically on batch columns and Kafka stream values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def parse_json(df: DataFrame, col: str, schema: StructType, out: str = "j") -> DataFrame:
    """Parse a JSON string column into a struct column ``out``; keep the
    original columns. Malformed rows yield null structs (PERMISSIVE) —
    never exceptions, never eval."""
    return df.withColumn(out, F.from_json(F.col(col).cast("string"), schema))


def extract_json_fields(
    df: DataFrame, col: str, schema: StructType, keep: list[str] | None = None
) -> DataFrame:
    """Flatten JSON string column into top-level columns (one pass)."""
    parsed = parse_json(df, col, schema)
    keep_cols = keep if keep is not None else [c for c in df.columns if c != col]
    return parsed.select(*keep_cols, "j.*")
