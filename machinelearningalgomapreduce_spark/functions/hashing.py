"""Deterministic, cross-engine hashing primitives for dedup/fingerprinting.

Everything is built on md5 over strings because md5 produces the identical
lowercase-hex result in Spark and DuckDB — which makes MinHash signatures,
LSH band keys, and SimHash bits SQL-expressible and therefore oracle-checkable
(SURVEY.md §2D). Engine-native hash() functions differ across engines and are
NOT used in checked paths.

Scale: md5-per-shingle is pure codegen'd JVM work, linear in corpus size,
no shuffle. The LSH band join (in operators/dedup.py) is the only shuffle,
and it shuffles band keys, not documents.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 16 MinHash permutations → 4 bands × 4 rows: s-curve threshold ≈ 0.7 Jaccard.
N_MINHASH = 16
LSH_BANDS = 4
BAND_ROWS = N_MINHASH // LSH_BANDS
SIMHASH_BITS = 32


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles as strings: positions 1..n-k+1 of the token array."""
    toks = tokens(text)
    n = F.size(toks)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )


def minhash_sig(shingle_arr: Column, seed: int) -> Column:
    """One MinHash value: lexicographic min of md5('<seed>:'||shingle).

    Hex-string min is a valid min-hash (md5 is a uniform permutation of the
    shingle space; lexicographic order on fixed-width hex = numeric order).
    """
    return F.array_min(
        F.transform(shingle_arr, lambda s: F.md5(F.concat(F.lit(f"{seed}:"), s)))
    )


def band_key(sig_cols: list[Column]) -> Column:
    """LSH band bucket key: md5 of the concatenated band signatures."""
    return F.md5(F.concat_ws("|", *sig_cols))
