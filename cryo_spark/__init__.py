"""cryo_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of paradigmxyz/cryo.

The reference (read-only at /root/reference) is a Rust blockchain-ETL
engine: dataset extraction -> flat columnar tables -> sorted parquet.
This package re-expresses that surface Spark-first:

- dataset extractors are DataFrame transforms over landed "raw" tables
  (or a mapInPandas RPC fetch stage when online),
- schema selection / u256 expansion / hex encoding are column
  expression generators,
- partitioning/chunking is planner arithmetic: one work-list partition
  per chunk, chunk ids placed by ``repartitionById`` when a write
  must shuffle,
- sinks are ``df.write`` with cryo-compatible file naming.

Beyond reference parity it adds large-scale training-data pipeline
operators (dedup, similarity search, text analysis, multimodal
plumbing) under :mod:`cryo_spark.operators`.
"""

from cryo_spark.session import get_spark

# Driver-side py4j reflection memo (see py4jopt docstring): as of r18
# installed from get_spark() rather than as an import side effect
# (ADVICE r17: merely importing the package must not mutate py4j for
# the whole process). External harnesses that own their SparkSession
# and want the memo can call ``cryo_spark.install_py4j_memo()``
# explicitly. Transport-only — no plan or result change.
from cryo_spark.py4jopt import install as install_py4j_memo

__version__ = "0.1.0"

__all__ = ["get_spark", "install_py4j_memo", "__version__"]
