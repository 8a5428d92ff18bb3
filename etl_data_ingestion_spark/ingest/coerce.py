"""Type coercion with per-row validity and error reasons.

Re-expresses the reference's row loop (main.py:369-414) as pure,
fully-vectorized DataFrame expressions — no Python runs per row, so
the same code that passes the golden tests on 10 rows holds on 100 TB:

- trim every field (main.py:382)
- '' → NULL for every type (main.py:387-388)
- INTEGER: strip thousands-separator commas then parse; a non-integer
  value records a reason and rejects the ROW (main.py:389-399, 413)
- DATE: strict %Y-%m-%d; failure records a reason and rejects the ROW
  (main.py:400-410, 413)
- STRING: trimmed passthrough (main.py:411-412)
- a row with ANY failed coercion goes to quarantine with its reasons;
  coerced-to-NULL *empty* fields do not reject (main.py:387-388)

The expressions are SQL text, built by plain string formatting, and
each projection is one ``selectExpr``: one JVM call parses a whole
projection, where building it from ``Column`` objects costs a py4j
round trip per function and operand (thousands per file). Only this
module's constants and schema column names go into the text, every
identifier backtick-quoted and every literal escaped; a file's unknown
column fails the file before coercion runs, and no value read from a
file ever enters the text. The literals parse the same on every engine
session because ``session.py`` pins ``escapedStringLiterals=false``.

Deviation from the reference (deliberate, documented): error reasons
carry the source file and raw row instead of a 1-based line number —
a distributed text scan has no global line order, and file+content is
the scale-safe identity. Python's int() also accepts underscores
('1_2') and strptime accepts 2-digit years; we require ^[+-]?digits$
and 4-digit years — strictly tighter, and covered by tests.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from etl_data_ingestion_spark.schema import BQ_SCHEMA_TYPES

INT_PATTERN = r"^[+-]?[0-9]+$"
# Lenient zero-padding like strptime's %Y-%m-%d (accepts 2025-7-5),
# strict otherwise (CORRECTED time-parser policy → real calendar check).
DATE_FORMAT = "yyyy-M-d"

_INT_ERROR = (
    "Value error for column '%s': could not convert '%s' to INTEGER. "
    "Setting to None."
)
_DATE_ERROR = (
    "Value error for column '%s': could not convert '%s' to DATE "
    "(expected %%Y-%%m-%%d). Setting to None."
)
_MALFORMED_ERROR = "Malformed row: column count mismatch. Row content: '%s'"


def sql_ident(name: str) -> str:
    """A backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(value: str) -> str:
    """A SQL string literal (``escapedStringLiterals=false`` rules)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def coercion_exprs(
    types: dict[str, str] | None = None,
) -> tuple[dict[str, str], dict[str, str], list[str]]:
    """Build (casted-value, row-validity, error-reason) SQL expressions.

    Returns ``(values, valid_flags, error_exprs)`` keyed/ordered by
    column. Generated from the schema map so adding a column is a
    one-line schema change, mirroring how the reference drives its loop
    from bq_schema_types (main.py:381-385).
    """
    types = types or BQ_SCHEMA_TYPES
    values: dict[str, str] = {}
    valid: dict[str, str] = {}
    errors: list[str] = []

    for name, typ in types.items():
        # trimmed value with ''→NULL applied — the universal prelude
        base = f"nullif(trim({sql_ident(name)}), '')"
        if typ == "INTEGER":
            cleaned = f"regexp_replace({base}, ',', '')"
            ok = f"({base} IS NULL OR {cleaned} RLIKE {sql_str(INT_PATTERN)})"
            values[name] = f"CASE WHEN {ok} THEN CAST({cleaned} AS BIGINT) END"
            valid[name] = ok
            errors.append(
                f"CASE WHEN NOT {ok} THEN format_string("
                f"{sql_str(_INT_ERROR)}, {sql_str(name)}, {base}) END"
            )
        elif typ == "DATE":
            casted = f"to_date({base}, {sql_str(DATE_FORMAT)})"
            ok = f"({base} IS NULL OR {casted} IS NOT NULL)"
            values[name] = casted
            valid[name] = ok
            errors.append(
                f"CASE WHEN NOT {ok} THEN format_string("
                f"{sql_str(_DATE_ERROR)}, {sql_str(name)}, {base}) END"
            )
        else:  # STRING
            values[name] = base
    return values, valid, errors


def split_valid_quarantine(
    df: DataFrame,
    types: dict[str, str] | None = None,
    corrupt_col: str | None = None,
    source_file_col: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """All-string DataFrame → (typed valid rows, quarantine rows).

    ``corrupt_col`` names the CSV corrupt-record column (malformed
    token counts, reference main.py:372-377); those rows quarantine
    with a column-count reason. One projection computes both outputs —
    Spark evaluates the shared scan once per sink.
    """
    types = types or BQ_SCHEMA_TYPES
    values, valid, error_exprs = coercion_exprs(types)

    corrupt = sql_ident(corrupt_col) if corrupt_col else "CAST(NULL AS STRING)"
    malformed = f"({corrupt} IS NOT NULL)"
    errors = [
        *error_exprs,
        f"CASE WHEN {malformed} THEN format_string("
        f"{sql_str(_MALFORMED_ERROR)}, {corrupt}) END",
    ]
    row_ok = " AND ".join([f"NOT {malformed}", *valid.values()])

    annotated = df.selectExpr(
        "*",
        f"array_compact(array({', '.join(errors)})) AS `_errors`",
        f"{row_ok} AS `_row_ok`",
    )
    valid_df = annotated.filter("`_row_ok`").selectExpr(
        *[f"{values[name]} AS {sql_ident(name)}" for name in types]
    )
    src = source_file_col if source_file_col is not None else F.lit(None).cast("string")
    quarantine_df = (
        annotated.filter("NOT `_row_ok`")
        .selectExpr(
            *[f"trim({sql_ident(name)}) AS {sql_ident(name)}" for name in types],
            f"{corrupt} AS `_raw`",
            "`_errors`",
        )
        .withColumn("_source_file", src)
    )
    return valid_df, quarantine_df
