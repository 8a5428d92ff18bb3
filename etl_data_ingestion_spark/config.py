"""Typed runtime configuration — the reference's `.env` surface
(SURVEY.md §2.6; reference .env:1-26, loaded at main.py:21-41),
re-expressed as a frozen dataclass with environment overrides.

Mapping from the reference's keys:

| reference (.env)            | here                    | note |
|-----------------------------|-------------------------|------|
| GMAIL_QUERY (.env:14)       | source_query            | pushed-down source filter (S2) |
| GCS landing path (.env:17)  | landing_root            | Unprocessed/Processed/Failed root (L1/L2) |
| BQ dataset/table (.env:20-21)| warehouse_path         | warehouse sink target (L4) |
| BIGQUERY_BATCH_SIZE (.env:25)| batch_size             | output-file row bound, not a loop (L4) |
| HTTP_REQUEST_TIMEOUT (.env:24)| request_timeout_s     | connector-level timeout |
| recipients (.env:11)        | notify_recipients       | O1-O4 notification targets |

Credentials/OAuth paths (.env:2-8) are connector-level concerns with
no dataflow analogue here (SURVEY §2.1 S1) and are deliberately
omitted. Environment overrides use the ``SPARKETL_`` prefix so a
deployment configures the engine the same way the reference was
configured — from the environment — but typed and validated at
construction instead of stringly at use sites.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


# Scratch root of this checkout (gitignored): the default landing zone
# and sinks, registry scratch tables and the bucketed fact copies.
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def _env(name: str, default: str) -> str:
    return os.environ.get(f"SPARKETL_{name}", default)


@dataclass(frozen=True)
class EngineConfig:
    source_query: str = field(
        default_factory=lambda: _env("SOURCE_QUERY", "filename:CTB")
    )
    landing_root: str = field(
        default_factory=lambda: _env("LANDING_ROOT", os.path.join(SCRATCH, "landing"))
    )
    warehouse_path: str = field(
        default_factory=lambda: _env("WAREHOUSE_PATH", os.path.join(SCRATCH, "warehouse"))
    )
    quarantine_path: str = field(
        default_factory=lambda: _env(
            "QUARANTINE_PATH", os.path.join(SCRATCH, "quarantine")
        )
    )
    batch_size: int = field(
        default_factory=lambda: int(_env("BATCH_SIZE", "500"))
    )
    request_timeout_s: int = field(
        default_factory=lambda: int(_env("REQUEST_TIMEOUT_S", "900"))
    )
    notify_recipients: tuple[str, ...] = field(
        default_factory=lambda: tuple(
            r for r in _env("NOTIFY_RECIPIENTS", "").split(",") if r
        )
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
        if self.request_timeout_s <= 0:
            raise ValueError(
                f"request_timeout_s must be positive, got {self.request_timeout_s}"
            )
        if self.warehouse_format not in ("parquet", "bigquery"):
            raise ValueError(
                f"warehouse_format must be 'parquet' or 'bigquery', "
                f"got {self.warehouse_format!r}"
            )
        if self.warehouse_format == "bigquery" and not self.bigquery_table:
            raise ValueError(
                "warehouse_format='bigquery' requires bigquery_table"
            )
