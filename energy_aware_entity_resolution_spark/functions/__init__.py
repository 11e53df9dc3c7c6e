from energy_aware_entity_resolution_spark.functions.cleaning import (
    clean_text_col,
    py_clean_text,
    py_tokenize,
    signature_col,
    tokens_col,
)
from energy_aware_entity_resolution_spark.functions.keys import (
    bitmask_col,
    sig_hash_col,
    sorted_neighborhood_key_col,
)

__all__ = [
    "clean_text_col",
    "py_clean_text",
    "py_tokenize",
    "signature_col",
    "tokens_col",
    "bitmask_col",
    "sig_hash_col",
    "sorted_neighborhood_key_col",
]
