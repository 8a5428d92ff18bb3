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
``IngestResult`` with ``file_error`` set and no DataFrames — the
caller decides lifecycle disposition (→ Failed/), mirroring
main.py:289-295 and main.py:353-364.

Scale notes: the header is metadata. The driver reads it through the
Hadoop FileSystem API, as the landing zone moves files, and stops at
the first data line, so a file that fails on its header costs no
Spark job. All row data flows through executors. The CSV scan is
splittable; a 1 TB TSV becomes ~8000 tasks, each applying the same
vectorized coercion projection. An ``Observation`` on that scan
counts the rows parsed, so a caller learns how many rows a sink
rejected from the write that reads them.

At email size a file's wait is fixed cost, not data: the plan build
and a share of one Spark job (``runner.process_files`` lands a set of
files in one warehouse append). The coercion projections are SQL text
(``coerce.py``), so building a clean 21-column file's plans takes
about 150 py4j commands, not the ~3000 that ``Column`` expressions
cost.

Both frames carry every ``BQ_SCHEMA_TYPES`` column in schema order,
whatever the file's header order; a column the file lacks is a typed
NULL. So every file's frames have one shape: the warehouse directory's
part files share one schema, and a set of files unions by position.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from etl_data_ingestion_spark.schema import BQ_SCHEMA_TYPES, canonical_name
from etl_data_ingestion_spark.ingest.coerce import sql_ident, split_valid_quarantine

CORRUPT_COL = "_corrupt_record"
# The CSV reader drops a line whose Scala ``trim`` is empty, and that
# trim strips every char <= U+0020 (tabs, VT and FF included, NBSP not).
_NOT_BLANK = re.compile("[^\\x00-\\x20]")


@dataclass
class IngestResult:
    # both frames are None when the file failed (``file_error`` set)
    valid: DataFrame | None = None
    quarantine: DataFrame | None = None
    file_error: str | None = None
    # rows the CSV scan parsed (metric ``rows``), set once the first
    # action over ``valid`` or ``quarantine`` has run
    parsed: Observation | None = None

    @property
    def ok(self) -> bool:
        return self.file_error is None


def read_raw_header(spark: SparkSession, path: str) -> tuple[list[str], bool]:
    """(raw header tokens, has a data row) of a tab-separated file, read
    on the driver without a Spark job.

    The file is opened through the Hadoop FileSystem API and decoded by
    the codec its suffix names (``.gz`` …), then split by Hadoop's
    ``LineReader``, the line splitter behind Spark's text source
    (``\\n``, ``\\r\\n`` and ``\\r`` all end a line). The header is the
    raw first line, blank or not. A data row is any later line that is
    not blank by the CSV reader's rule; the read stops at the first."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    stream = hpath.getFileSystem(conf).open(hpath)
    try:
        codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(
            conf
        ).getCodec(hpath)
        if codec is not None:
            stream = codec.createInputStream(stream)
        reader = jvm.org.apache.hadoop.util.LineReader(stream, conf)
        line = jvm.org.apache.hadoop.io.Text()
        if reader.readLine(line) == 0:
            return [], False
        header = line.toString().split("\t")
        while reader.readLine(line) > 0:
            if _NOT_BLANK.search(line.toString()):
                return header, True
        return header, False
    finally:
        stream.close()


def ingest_ctb_file(spark: SparkSession, path: str) -> IngestResult:
    """Ingest one landed tab-separated file with full reference
    semantics (the reference splits on tabs only, main.py:370)."""
    header, has_data = read_raw_header(spark, path)
    empty = f"CTB file '{path}' is empty or has no data rows."
    if not header or header == [""]:
        return IngestResult(file_error=empty)

    canonical = [canonical_name(h) for h in header]
    unknown = [c for c in canonical if c not in BQ_SCHEMA_TYPES]
    if unknown:
        return IngestResult(
            file_error=f"Headers in '{path}' do not match expected schema "
            f"after cleaning. Unknown columns: {unknown}. "
            f"File headers (cleaned): {canonical}",
        )
    # Header-only file: no data rows at all → file-level failure
    # (reference main.py:289-295, len(lines) < 2).
    if not has_data:
        return IngestResult(file_error=empty)

    read_schema = StructType(
        [StructField(c, StringType(), nullable=True) for c in canonical]
        + [StructField(CORRUPT_COL, StringType(), nullable=True)]
    )
    # Column pruning skips unreferenced tokens, which silently disables
    # token-count (malformed-row) detection for pruned plans — the
    # reference checks EVERY row's count (main.py:372). A read option,
    # so the session's own setting is left alone.
    parsed = Observation(f"parsed:{path}")
    raw = spark.read.option("columnPruning", "false").csv(
        path,
        sep="\t",
        header=True,
        schema=read_schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord=CORRUPT_COL,
        encoding="UTF-8",
        quote="",  # the reference splits on tabs only — no quoting (main.py:370)
    ).observe(parsed, F.count(F.lit(1)).alias("rows"))

    # A column the file lacks reads as NULL, which coerces to a typed
    # NULL; the projections then list every column in schema order.
    absent = [c for c in BQ_SCHEMA_TYPES if c not in canonical]
    if absent:
        raw = raw.selectExpr(
            "*", *[f"CAST(NULL AS STRING) AS {sql_ident(c)}" for c in absent]
        )
    valid, quarantine = split_valid_quarantine(
        raw,
        corrupt_col=CORRUPT_COL,
        source_file_col=F.input_file_name(),
    )
    return IngestResult(valid=valid, quarantine=quarantine, parsed=parsed)

