"""deduce_spark — a PySpark-native knowledge-graph construction engine.

Re-expresses the computational semantics of the rule-based de-identification
reference (vmenger/deduce v3.0.6) as a Spark-first pipeline over
Common-Crawl-style web pages.  It runs from this repository alone: the
pipeline config is ``kernel/base_config.json`` and the lookup structures
are the pinned pickle under ``data/cache``.

- ``deduce_spark.kernel``: a pure-Python, dependency-light kernel holding the
  exact per-document semantics (tokenizer, lookup structures, annotators,
  interval ops, redactor).  It is both the correctness oracle and the code
  executed inside Arrow-vectorized pandas UDFs on executors.
- ``deduce_spark.spark``: DataFrame/pandas-UDF stages, KG materialization
  (mentions/nodes/edges), dedup + similarity + text-analysis operators, and
  lineage/resume plumbing.
"""

__version__ = "0.1.0"
