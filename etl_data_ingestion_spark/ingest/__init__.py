from .pipeline import IngestResult, ingest_ctb_file  # noqa: F401
from .coerce import split_valid_quarantine  # noqa: F401
