from .cleaning import (
    INVALID_TOKENS,
    clean_text_chain,
    extract_category_head,
    impute_with_default,
    valid_expr,
)
from .dedup import dedup_keep_latest
from .dq import assert_unique
from .keys import add_surrogate_key

__all__ = [
    "INVALID_TOKENS",
    "valid_expr",
    "impute_with_default",
    "clean_text_chain",
    "extract_category_head",
    "dedup_keep_latest",
    "add_surrogate_key",
    "assert_unique",
]
