"""CTB ingestion pipeline: file → (valid DataFrame, quarantine DataFrame).

The Spark-first re-expression of the reference's transform/load core
``process_ctb_and_insert_to_bigquery`` (main.py:267-511):

  raw TSV → header normalize+alias (main.py:347-351)
          → fail-fast schema validation (main.py:353-364)
          → malformed-row split (main.py:372-377, via CSV PERMISSIVE
            corrupt-record)
          → trim / ''→NULL / INTEGER / DATE coercion with row-level
            rejection + reasons (main.py:379-414) → typed valid rows
            and a quarantine side-channel

File-level failures (empty file, unknown column) return an
``IngestResult`` with ``file_error`` set and empty DataFrames — the
caller decides lifecycle disposition (→ Failed/), mirroring
main.py:289-295 and main.py:353-364.

Scale notes: the header is metadata — only its 1-line read happens on
the driver; all row data flows through executors. The CSV scan is
splittable; a 1 TB TSV becomes ~8000 tasks, each applying the same
vectorized coercion projection.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from etl_data_ingestion_spark.schema import (
    BQ_SCHEMA_TYPES,
    canonical_name,
    ctb_struct_type,
    quarantine_struct_type,
)
from etl_data_ingestion_spark.ingest.coerce import split_valid_quarantine

CORRUPT_COL = "_corrupt_record"


@dataclass
class IngestResult:
    valid: DataFrame
    quarantine: DataFrame
    file_error: str | None = None

    @property
    def ok(self) -> bool:
        return self.file_error is None


def _empty_result(spark: SparkSession, error: str) -> IngestResult:
    return IngestResult(
        valid=spark.createDataFrame([], ctb_struct_type()),
        quarantine=spark.createDataFrame([], quarantine_struct_type()),
        file_error=error,
    )


def read_raw_header(spark: SparkSession, path: str) -> list[str]:
    """Raw header tokens of a delimited file (driver-side, 1-line read)."""
    first = spark.read.text(path).limit(1).collect()
    if not first:
        return []
    return first[0][0].split("\t")


def ingest_ctb_file(
    spark: SparkSession, path: str, sep: str = "\t"
) -> IngestResult:
    """Ingest one landed delimited file with full reference semantics."""
    header = read_raw_header(spark, path)
    if not header or header == [""]:
        return _empty_result(
            spark, f"CTB file '{path}' is empty or has no data rows."
        )

    canonical = [canonical_name(h) for h in header]
    unknown = [c for c in canonical if c not in BQ_SCHEMA_TYPES]
    if unknown:
        return _empty_result(
            spark,
            f"Headers in '{path}' do not match expected schema after "
            f"cleaning. Unknown columns: {unknown}. "
            f"File headers (cleaned): {canonical}",
        )

    # CSV column pruning skips unreferenced tokens, which silently
    # disables token-count (malformed-row) detection for pruned plans —
    # the reference checks EVERY row's count (main.py:372). Runtime conf,
    # so it also holds on a driver-provided session.
    spark.conf.set("spark.sql.csv.parser.columnPruning.enabled", "false")

    read_schema = StructType(
        [StructField(c, StringType(), nullable=True) for c in canonical]
        + [StructField(CORRUPT_COL, StringType(), nullable=True)]
    )
    raw = spark.read.csv(
        path,
        sep=sep,
        header=True,
        schema=read_schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=CORRUPT_COL,
        encoding="UTF-8",
        quote="",  # the reference splits on tabs only — no quoting (main.py:370)
    )
    # Header-only file: no data rows at all → file-level failure
    # (reference main.py:289-295, len(lines) < 2).
    if raw.isEmpty():
        return _empty_result(
            spark, f"CTB file '{path}' is empty or has no data rows."
        )

    # Present columns in schema order; absent columns stay NULL-typed.
    types = {c: BQ_SCHEMA_TYPES[c] for c in canonical}
    valid, quarantine = split_valid_quarantine(
        raw,
        types=types,
        corrupt_col=CORRUPT_COL,
        source_file_col=F.input_file_name(),
    )
    return IngestResult(valid=valid, quarantine=quarantine)

