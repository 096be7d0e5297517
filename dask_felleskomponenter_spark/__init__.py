"""dask_felleskomponenter_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first rebuild of the capability surface of
``kartverket/dask-felleskomponenter`` (reference read-only at
``/root/reference/``), extended with the LLM-data-pipeline operator pack
(dedup, similarity search, text analysis, multimodal columns) required for
100 TB-scale training-data processing.

Design stance (SURVEY.md §7):
- DataFrame/SQL only; Catalyst does all optimization. No RDDs.
- Built-in ``pyspark.sql.functions`` in every hot path; Pandas UDFs only
  where built-ins cannot express the semantics (multimodal decode).
- Explicit broadcast of dimension tables, AQE on, partition-count tuned to
  the cluster; no ``collect()`` in library code paths.
"""

from dask_felleskomponenter_spark.session import get_spark

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]
