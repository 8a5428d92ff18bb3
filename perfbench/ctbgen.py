"""Seeded CTB landing-file generator with a ground-truth manifest.

Writes tab-separated CTB files shaped like the reference's email
attachments: a BOM on the first header, CRLF line ends, the raw alias
headers in mixed case and shuffled column order, and planted defects.
The manifest gives, per file, the outcome the reference's rules
predict (header normalization and alias map, fail-fast unknown
columns, the token-count check, empty -> NULL, INTEGER with comma
stripping, strict %Y-%m-%d DATE, partial success -> Processed).
The expected counts are decided here, when each row is planted; the
package's coercion code is never called to derive them.

Usage: python3 perfbench/ctbgen.py OUT_DIR SEED N_FILES ROWS_PER_FILE
The same arguments give byte-identical files and manifest.
"""

from __future__ import annotations

import json
import os
import random
import sys
from dataclasses import asdict, dataclass

# Canonical column -> (raw header as mailed, logical type). The raw
# names are the reference's alias keys (main.py:299-321); the types
# its bq_schema_types (main.py:323-345).
COLUMNS: list[tuple[str, str, str]] = [
    ("ORG_CODE", "ORG CODE", "STRING"),
    ("MASTER_CUST_NAME", "MASTER CUST NAME", "STRING"),
    ("CUSTOMER_NUMBER", "CUSTOMER NUMBER", "STRING"),
    ("ITEM_NUMBER", "ITEM NUMBER", "STRING"),
    ("CUST_PART_NUM", "CUST PART NUM", "STRING"),
    ("ITEM_DESCRIPTION", "ITEM DESCRIPTION", "STRING"),
    ("DEMAND_DUE_DATE", "DEMAND DUE DATE", "DATE"),
    ("DEMAND_QTY", "DEMAND QTY", "INTEGER"),
    ("ONTIME_QTY", "Avail OnTime", "INTEGER"),
    ("AVAILABLE_DATE", "Avail Date", "DATE"),
    ("SUPPLY_SOURCE", "SplitAvail Supply Source", "STRING"),
    ("SUPPLY_AVAILABLE_DATE", "SplitAvailDate", "DATE"),
    ("SUPPLY_AVA_QTY", "SplitAvail Qty", "INTEGER"),
    ("DAYS_LATE", "Days Late", "INTEGER"),
    ("UNIQ_SHORT_QTY", "Unique Short Qty Count", "INTEGER"),
    ("GATING_PART", "GATING Part", "STRING"),
    ("MAKE_BUY", "GATING M/B", "STRING"),
    ("LEAD_TIME", "GATING LT", "INTEGER"),
    ("GATING_CUST_PART", "GATING CUST PART", "STRING"),
    ("CUST_PART_DESCRIPTION", "CUST PART DESCRIPTION", "STRING"),
    ("SNAPSHOT_DATE", "SNAPSHOT_DATE", "DATE"),
]
INT_COLS = [i for i, c in enumerate(COLUMNS) if c[2] == "INTEGER"]
DATE_COLS = [i for i, c in enumerate(COLUMNS) if c[2] == "DATE"]

# Planted row-defect rates.
P_TOKENS = 0.01
P_BAD_INT = 0.03
P_BAD_DATE = 0.01
P_EMPTY_FIELD = 0.02

BAD_INTS = ["12x", "1.5", "N/A", "--3", "1 000"]
BAD_DATES = ["07/15/2025", "2025-02-30", "2025/07/15", "July 4"]
WORDS = ["ACME", "GLOBEX", "INITECH", "UMBRELLA", "HOOLI", "STARK",
         "WIDGET", "GEAR", "BOLT", "PANEL", "CABLE", "RELAY", "VALVE"]


@dataclass
class FileTruth:
    name: str
    state: str  # processed | failed
    valid_rows: int
    quarantined_rows: int
    notification: str  # success | error
    data_rows: int
    nbytes: int
    stream_visible: bool  # a 0-byte file yields no line to a text stream


def _header_variant(rng: random.Random, raw: str) -> str:
    """A header spelling the reference's normalization maps back to
    ``raw``: case changes and padding spaces (main.py:349)."""
    pick = rng.random()
    if pick < 0.3:
        raw = raw.lower()
    elif pick < 0.5:
        raw = raw.upper()
    if rng.random() < 0.2:
        raw = " " + raw + " "
    return raw


def _string(rng: random.Random) -> str:
    return f"{rng.choice(WORDS)}-{rng.randrange(100000)}"


def _date(rng: random.Random) -> str:
    y, m, d = rng.randrange(2023, 2027), rng.randrange(1, 13), rng.randrange(1, 29)
    # strptime's %m/%d accept unpadded values (main.py:402)
    return f"{y}-{m}-{d}" if rng.random() < 0.1 else f"{y:04d}-{m:02d}-{d:02d}"


def _int(rng: random.Random) -> str:
    v = rng.randrange(-50, 250000)
    if v >= 1000 and rng.random() < 0.2:
        return f"{v:,}"  # thousands commas are stripped (main.py:391)
    return str(v)


def _row(rng: random.Random, defects: bool) -> tuple[list[str], bool]:
    """One data row in canonical column order and whether the
    reference would accept it (it rejects a row on any bad INTEGER or
    DATE value, main.py:389-414)."""
    vals = []
    for _, _, typ in COLUMNS:
        if rng.random() < P_EMPTY_FIELD:
            vals.append(rng.choice(["", "  "]))  # '' -> NULL, row stays valid
        elif typ == "INTEGER":
            vals.append(_int(rng))
        elif typ == "DATE":
            vals.append(_date(rng))
        else:
            vals.append(_string(rng))
    ok = True
    if not defects:
        return vals, ok
    if rng.random() < P_BAD_INT:
        vals[rng.choice(INT_COLS)] = rng.choice(BAD_INTS)
        ok = False
    if rng.random() < P_BAD_DATE:
        vals[rng.choice(DATE_COLS)] = rng.choice(BAD_DATES)
        ok = False
    return vals, ok


def _ctb_bytes(rng: random.Random, n_rows: int, defects: bool) -> tuple[bytes, int, int]:
    """A well-headed CTB file; returns (bytes, valid rows, quarantined)."""
    order = list(range(len(COLUMNS)))
    rng.shuffle(order)
    header = [_header_variant(rng, COLUMNS[i][1]) for i in order]
    lines = ["﻿" + "\t".join(header)]
    valid = quarantined = 0
    for _ in range(n_rows):
        vals, ok = _row(rng, defects)
        tokens = [vals[i] for i in order]
        if defects and rng.random() < P_TOKENS:
            # column-count mismatch quarantines the row (main.py:372-377)
            if rng.random() < 0.5:
                tokens.pop(rng.randrange(len(tokens)))
            else:
                tokens.insert(rng.randrange(len(tokens)), _string(rng))
            ok = False
        lines.append("\t".join(tokens))
        if ok:
            valid += 1
        else:
            quarantined += 1
    return ("\r\n".join(lines) + "\r\n").encode("utf-8"), valid, quarantined


def _truth(name: str, data: bytes, rows: int, valid: int, quarantined: int,
           file_error: bool) -> FileTruth:
    if file_error or valid == 0:
        # file-level failure or no valid rows -> Failed + error mail
        # (main.py:289-295, 353-364, 496-511)
        state, note = "failed", "error"
    else:
        # partial success still Processed; a clean file gets the
        # success mail, a partial one the error report (main.py:470-495)
        state, note = "processed", ("success" if quarantined == 0 else "error")
    return FileTruth(name, state, valid, quarantined, note, rows, len(data),
                     len(data) > 0)


def generate(out_dir: str, seed: int, n_files: int, rows_per_file: int,
             planted_failures: bool = True, prefix: str = "CTB") -> list[FileTruth]:
    """Write the landing set into ``out_dir`` and return its truth.

    With ``planted_failures`` the last four files are, in this order,
    one free of row defects and three file-level failures: a 0-byte
    file, a header-only file and one whose header carries an unknown
    column. The positions are fixed so that every seed gives the
    runners the same sequence of file kinds; the seed changes the
    contents."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    kinds = ["ok"] * n_files
    if planted_failures:
        if n_files < 4:
            raise ValueError("planted failures need at least 4 files")
        kinds[-4:] = ["clean", "empty", "header_only", "unknown"]
    truths = []
    for i, kind in enumerate(kinds):
        name = f"{prefix}_{seed}_{i:03d}.tsv"
        rows = rows_per_file
        data, valid, quarantined = _ctb_bytes(rng, rows, kind != "clean")
        if kind == "empty":
            data, rows, valid, quarantined = b"", 0, 0, 0
        elif kind == "header_only":
            data = data.split(b"\r\n", 1)[0] + b"\r\n"
            rows, valid, quarantined = 0, 0, 0
        elif kind == "unknown":
            head, rest = data.split(b"\r\n", 1)
            data = head + b"\tFOO BAR\r\n" + rest
            rows, valid, quarantined = rows, 0, 0
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        truths.append(_truth(name, data, rows, valid, quarantined,
                             kind in ("empty", "header_only", "unknown")))
    return truths


def write_manifest(path: str, truths: list[FileTruth]) -> None:
    with open(path, "w") as f:
        json.dump([asdict(t) for t in truths], f, indent=1, sort_keys=True)


if __name__ == "__main__":
    out, seed, n, rows = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
    truths = generate(out, seed, n, rows)
    write_manifest(os.path.join(out, "manifest.json"), truths)
    print(f"{len(truths)} files -> {out}")
