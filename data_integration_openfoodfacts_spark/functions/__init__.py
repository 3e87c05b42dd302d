from .text_normalize import ascii_fold
from .vectors import cosine_similarity_expr, dot_product_expr, l2_norm_expr

__all__ = [
    "ascii_fold",
    "cosine_similarity_expr",
    "dot_product_expr",
    "l2_norm_expr",
]
