"""ecmm428_pycart_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of ARundle01/ecmm428-pycart.

The reference (/root/reference) is a pandas/geopandas cartogram library
(pycart/cartogram.py, pycart/border_util.py, main.py). This package
re-expresses its capabilities Spark-first:

- ``geometry``   — pure-numpy planar geometry over WKB BinaryType columns
                   (no shapely in this environment; kernels are exact for
                   the polygon math the reference uses).
- ``sources``    — GeoJSON / CSV / WKT readers (reference main.py:15-137).
- ``operators``  — relational + spatial operators (SURVEY.md §2.2).
- ``plans``      — the Cartogram macro-operators: non_contiguous, dorling
                   (reference pycart/cartogram.py:172-414).
- ``datapipe``   — beyond-reference large-scale pipeline ops: dedup,
                   similarity search, text analysis, multimodal plumbing.
- ``streaming``  — Structured Streaming variants of the event pipeline.
"""

import importlib

__all__ = ["get_spark", "Cartogram", "get_borders"]
__version__ = "0.1.0"

# The exports are resolved on first access (PEP 562), so importing the
# package does not import pyspark: the worker daemon
# (``python -m ecmm428_pycart_spark.pyworker``) runs this file before it
# has chosen where pyspark is imported from.
_EXPORTS = {
    "get_spark": "ecmm428_pycart_spark.session",
    "Cartogram": "ecmm428_pycart_spark.plans.cartogram",
    "get_borders": "ecmm428_pycart_spark.operators.borders",
}


def __getattr__(name):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(_EXPORTS[name]), name)
    globals()[name] = value
    return value
