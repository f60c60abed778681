"""demv_spark — a PySpark-native fairness analytics engine.

Re-expresses the full capability surface of the reference DEMV library
(giordanoDaloisio/demv: group-balancing resampler, fairness-metric
evaluator, feature ETL, CV evaluation harness) as declarative Spark
DataFrame plans, plus the large-scale training-data-pipeline operators
(dedup, similarity search, text analysis) required at 100 TB scale.

Design stance (SURVEY.md §7):
- DataFrame-first: every operator is a lazy plan built from
  ``pyspark.sql.functions``; Catalyst plans the physical execution.
- Zero row-at-a-time Python UDFs in hot paths; Pandas UDFs only where
  semantics genuinely require them (SMOTE interpolation, embedding ops).
- Every deterministic operator pairs with an ANSI-SQL rendering for the
  DuckDB oracle (see ``__spark_entry__.py``).
"""

from demv_spark.session import get_spark
from demv_spark.operators.balancer import DEMV

__version__ = "0.1.0"

__all__ = ["get_spark", "DEMV", "__version__"]
