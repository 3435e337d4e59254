"""dablooms_spark — a from-scratch, PySpark-native distributed sketch /
approximate-aggregation engine with the capabilities of bitly/dablooms
(scaling counting Bloom filters), plus companion mergeable sketches
(HLL, count-min, t-digest, KLL) and web-corpus processing operators
(dedup, similarity search, text analysis).

Design: DataFrame-first, Catalyst-optimized plans; all Python-side math
runs as vectorized numpy kernels over Arrow batches (mapInArrow /
applyInPandas / pandas_udf) — never per-row Python.

Reference semantics: public bitly/dablooms v0.9.1 (see SURVEY.md).
"""

from dablooms_spark._zipguard import install_in_worker as _install_in_worker

__version__ = "0.1.0"

_install_in_worker()


def dablooms_version() -> str:
    """Reference parity: dablooms_version() (src/dablooms.c:≈22)."""
    return __version__
