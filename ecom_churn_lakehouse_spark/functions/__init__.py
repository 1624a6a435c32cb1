from .text import (
    doc_fingerprint_cols,
    lang_guess_col,
    quality_cols,
    token_count_col,
)
from .vectors import EMBED_DIM, cosine, dot, norm, sq_dist, to_double_array, width_guard

__all__ = [
    "token_count_col",
    "quality_cols",
    "lang_guess_col",
    "doc_fingerprint_cols",
    "EMBED_DIM",
    "cosine",
    "dot",
    "norm",
    "sq_dist",
    "to_double_array",
    "width_guard",
]
