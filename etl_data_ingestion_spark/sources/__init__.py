from .mailbox import (  # noqa: F401
    SCHEMA,
    extract_ctb_attachments,
    first_ctb_attachment,
    iter_parts,
)
