"""Typed runtime configuration — the reference's `.env` surface
(SURVEY.md §2.6; reference .env:1-26, loaded at main.py:21-41),
re-expressed as a frozen dataclass with environment overrides.

Mapping from the reference's keys, all four read by
``ingest/sinks.py::make_warehouse_sink``:

| reference (.env)             | here             | note |
|------------------------------|------------------|------|
| BQ dataset/table (.env:20-21)| warehouse_path   | parquet warehouse sink target (L4) |
| BIGQUERY_BATCH_SIZE (.env:25)| batch_size       | output-file row bound, not a loop (L4) |
| (BigQuery target)            | warehouse_format | 'parquet' or 'bigquery' |
| BQ dataset/table (.env:20-21)| bigquery_table   | the BigQuery sink's table |

The reference's other keys have no reader here. The Gmail query,
landing path and notification recipients are arguments of the
sources, runners and notifiers that use them; the HTTP timeout and
the credentials/OAuth paths (.env:2-8, .env:24) are connector-level
concerns with no dataflow analogue (SURVEY §2.1 S1).

Environment overrides use the ``SPARKETL_`` prefix so a
deployment configures the engine the same way the reference was
configured — from the environment — but typed and validated at
construction instead of stringly at use sites.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


# Scratch root of this checkout (gitignored): the default warehouse,
# registry scratch tables and the bucketed fact copies.
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def _env(name: str, default: str) -> str:
    return os.environ.get(f"SPARKETL_{name}", default)


@dataclass(frozen=True)
class EngineConfig:
    warehouse_path: str = field(
        default_factory=lambda: _env("WAREHOUSE_PATH", os.path.join(SCRATCH, "warehouse"))
    )
    batch_size: int = field(
        default_factory=lambda: int(_env("BATCH_SIZE", "500"))
    )
    # warehouse routing (reference writes straight to BigQuery,
    # main.py:448-468): 'parquet' = local warehouse stand-in;
    # 'bigquery' = format("bigquery") IF the connector jar is present
    # (guarded fallback in ingest/sinks.py::make_warehouse_sink)
    warehouse_format: str = field(
        default_factory=lambda: _env("WAREHOUSE_FORMAT", "parquet")
    )
    bigquery_table: str = field(
        default_factory=lambda: _env("BIGQUERY_TABLE", "")
    )

    def __post_init__(self) -> None:
        if self.batch_size <= 0:
            raise ValueError(f"batch_size must be positive, got {self.batch_size}")
        if self.warehouse_format not in ("parquet", "bigquery"):
            raise ValueError(
                f"warehouse_format must be 'parquet' or 'bigquery', "
                f"got {self.warehouse_format!r}"
            )
        if self.warehouse_format == "bigquery" and not self.bigquery_table:
            raise ValueError(
                "warehouse_format='bigquery' requires bigquery_table"
            )
