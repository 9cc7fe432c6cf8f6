"""textcleaning_spark — a PySpark-native web-text quality-filter engine.

A from-scratch rebuild of the capabilities of the reference
SilverQ/TextCleaning pipeline (language routing, tokenize/POS/lemma/stem,
TF/DF/IDF corpus statistics, keep/drop word+document decisions,
co-occurrence SNA edge/node tables) re-expressed as idiomatic Spark:
declarative DataFrame plans that Catalyst/AQE optimize, Arrow-vectorized
pandas UDFs only where built-ins genuinely can't express the semantics,
and explicit partitioning/skew handling for 100 TB-scale inputs.

Package layout:
    session     SparkSession factory with scale-tuned defaults
    config      pipeline configuration (rule thresholds, stop lists)
    functions/  scalar/array kernels: tokens, tagging, langid, scrub, hashing
    operators/  relational operators: corpus stats, co-occurrence, dedup
    sources/    readers/writers + the synthetic `pages` generator
    plans/      end-to-end pipelines (quality filter, audit/resume)
    streaming/  Structured Streaming variants of the batch stages
    pyworker    per-task Python-worker start-up cost (installed on import)

Every Python stage unpickles a reference into this package, so a
worker imports it during its first task and later tasks skip the
re-read of unchanged zip archives (see :mod:`textcleaning_spark.pyworker`).
"""

from textcleaning_spark import pyworker as _pyworker

__version__ = "0.1.0"

_pyworker.install()
