"""dp_data_quality_spark — a from-scratch, PySpark-native quality-filter
engine with the validation contract of DISHDevEx/dp-data-quality.

The reference composes per-column driver-side loops
over PySpark; this engine re-expresses the same contract — 17 validation
rules, a row-granular quality report, PII detection — as a single wide
vectorized ``select`` over a DataFrame, plus a langid + perplexity +
heuristic + scrub quality-filter pipeline for multi-turn transcript
tables at cluster scale.

Public modules
--------------
- ``pipeline``           — end-to-end quality filter: score, filter, scrub,
  ``(keep, bucket)`` sink with per-bucket lineage + resume
- ``plans.report``       — the reference's row-granular quality report
- ``streaming.stream_filter`` — the filter as a micro-batch stream stage
- ``rules.contract``     — the 17-rule validation contract as Column factories
- ``functions.scrub``    — PII / toxicity scrubbing (JVM regexp_replace chain)
- ``functions.langid``   — broadcast char-n-gram language ID (Arrow pandas UDF)
- ``functions.perplexity`` — broadcast byte-n-gram LM perplexity (Arrow pandas UDF)
- ``functions.heuristics`` — vectorized quality heuristics (SQL expressions)
- ``sources``            — format-sniffed readers + recursive JSON flatten
- ``synth``              — deterministic distributed transcript synthesis

- ``worker_daemon``      — the Python daemon of a local ``get_spark``
  session: Spark's, on a worker path without redundant archives

``ops`` holds the earlier operator library (dedup, duplicate-graph
resolution, incremental dedup, hashing, text statistics, conversation
checks, sequence packing, profiling, sampling, as-of join); none of the
paths above imports it.  This module imports nothing, so ``python -m
dp_data_quality_spark.worker_daemon`` loads no pyspark module before
the daemon has filtered the path.
"""

__version__ = "0.1.0"
