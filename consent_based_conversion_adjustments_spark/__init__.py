"""PySpark-native analytics engine with the capabilities of
google/consent-based-conversion-adjustments ("CoCoA").

Not a port: the reference is an Apache Beam + pandas/scikit-learn batch
pipeline (see /root/reference, SURVEY.md). This package re-expresses every
dataflow operator as idiomatic Spark DataFrame/Catalyst constructs and adds
the general relational / dedup / similarity-search / text-analysis surface a
large-scale training-data pipeline needs.

Layout
------
- ``config``      — engine configuration mirroring pipeline.py:44-140's surface
- ``session``     — SparkSession builder tuned for local[32] and cluster use
- ``sources``     — scans and sinks (S1-S5 in SURVEY.md §2.1), compaction
- ``functions``   — distance / rounding scalar-expression builders
- ``operators``   — preprocess, similarity join, adjust, summary, dedup,
                    similarity search, text analysis, multimodal, skew
- ``plans``       — relational query layer over the TPC-H-ish fixtures
- ``streaming``   — event-time windowing (batch + Structured Streaming)
- ``pipeline``    — the per-date driver loop (O1-O3)
"""

from .config import AdjustmentConfig
from .pipeline import (
    AdjustmentResult,
    prepare_pipeline_input,
    run_adjustment,
    run_dates,
)
from .session import get_spark

__version__ = "0.1.0"

__all__ = [
    "AdjustmentConfig",
    "AdjustmentResult",
    "get_spark",
    "prepare_pipeline_input",
    "run_adjustment",
    "run_dates",
]
