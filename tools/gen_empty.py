"""Zero-row fixture generator for the empty-input parity check.

Some bugs fire only on an empty relation: the threshold-curve
aggregates once returned NULL where the oracle emits 0 because the
scored pair relation was empty. That class — F.sum/F.avg over zero rows,
head-of-empty, seq(1, size-1) on nothing, division by a zero count —
only fires when a whole intermediate relation is empty, which no
driver fixture exercises. This writes a fixture dir where EVERY base
table is 0 rows with the exact parquet schema of the shipped
sf0.001 fixtures, so every registered query and oracle runs on it
unchanged: tests/test_parity.py checks each one there (its fixture in
tests/conftest.py runs this script when the dir is missing), and
tools/check_parity.py takes it as a fixture.

Usage: python tools/gen_empty.py [OUT_DIR]   (default .scaledata/sf_empty)
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_data_ingestion_spark.catalog import TABLES, table_path  # noqa: E402

SRC = "/root/testdata/sf0.001"


def main() -> None:
    out_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(REPO, ".scaledata/sf_empty")
    )
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        src = table_path(SRC, t)
        schema = pq.read_schema(src)
        dst = table_path(out_dir, t)
        pq.write_table(schema.empty_table(), dst)
        print(f"{t}: 0 rows, {len(schema)} cols -> {dst}")


if __name__ == "__main__":
    main()
