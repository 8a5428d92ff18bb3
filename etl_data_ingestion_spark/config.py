"""Runtime configuration: the checkout's scratch root.

The reference's `.env` surface (SURVEY.md §2.6; reference .env:1-26,
loaded at main.py:21-41) has no config object here. Each key is an
argument of the component that uses it: the warehouse path and the
row bound per output file (BIGQUERY_BATCH_SIZE, .env:25) are
``ParquetWarehouseSink(path, batch_size)``, the BigQuery table is
``BigQueryWarehouseSink(table)``, and the Gmail query, landing path and
notification recipients belong to the sources, runners and notifiers.
The HTTP timeout and the credentials/OAuth paths (.env:2-8, .env:24)
are connector-level concerns with no dataflow analogue (SURVEY §2.1
S1).
"""

from __future__ import annotations

import os

# Scratch root of this checkout (gitignored): the default warehouse,
# registry scratch tables and the bucketed fact copies.
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
