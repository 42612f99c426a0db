from .api import (
    approx_distinct,
    token_profile,
    approx_quantiles,
    hash_keys32,
    hash_keys64,
    hash_keys_pandas,
    token_frequencies,
)

__all__ = [
    "approx_distinct",
    "token_profile",
    "approx_quantiles",
    "hash_keys32",
    "hash_keys64",
    "hash_keys_pandas",
    "token_frequencies",
]
