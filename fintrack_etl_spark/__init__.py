"""fintrack_etl_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the ``sergio-raulino/fintrack-etl``
reference (a personal-finance lakehouse ETL), extended with
large-scale training-data-pipeline operators (dedup, similarity
search, text analysis).

Design stance (SURVEY.md §7):

* every operator is a composable ``DataFrame -> DataFrame`` function;
* all row-wise logic is native Column expressions (JVM codegen) —
  Pandas UDFs only where built-ins genuinely can't express the
  semantics;
* driver-side ``collect()`` only at the bounded sites README's
  "Driver collects carry metadata, not fact rows" lists, plus the
  per-round convergence checks of the iterative operators
  (``operators/graph.py``, ``operators/suffix.py``);
* every SQL-expressible operator ships with a DuckDB oracle twin in
  ``__spark_entry__.py``.

Imports nothing: ``python -m fintrack_etl_spark.worker_daemon`` runs
this file in every Python worker before it prunes the path, and nothing
may import pyspark before that.
"""

__version__ = "0.1.0"
