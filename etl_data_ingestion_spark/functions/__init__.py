from .vectors import cosine_similarity, dot, l2_norm  # noqa: F401
from .text import (  # noqa: F401
    tokens,
    token_count,
    word_ngrams_from,
    char_shingles_from,
    rolling_fingerprint,
)
