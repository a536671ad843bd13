"""k_means_hadoop_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of rohitseb/K-Means-Hadoop.

The reference (``/root/reference/KMeans.java``) is a single-file Hadoop
MapReduce k-means engine.  This package re-expresses every operator it
implements (SURVEY.md §2) as idiomatic PySpark DataFrame/SQL plans —
declarative, Catalyst-optimized, whole-stage-codegen'd — plus the
beyond-reference surface a large-scale training-data pipeline needs
(dedup, similarity search, text analysis, multimodal plumbing,
Structured Streaming).

Design stance (SURVEY.md §7):
- DataFrame-first; no RDDs; no row-at-a-time Python UDFs in the parity
  surface (every parity operator is a pure Catalyst expression and is
  therefore DuckDB-oracle-checkable).
- The only state that ever crosses the executor→driver boundary is the
  k×d centroid table (the reference instead collects the whole dataset
  driver-side at KMeans.java:215,542-578 — we do not reproduce that).
- Broadcast the small side, cache the loop-invariant side, let AQE
  handle skew, keep scans pruned and filters pushed.
"""

import sys

from pyspark import cloudpickle

from k_means_hadoop_spark.session import get_spark
from k_means_hadoop_spark.operators.kmeans import KMeansResult, lloyd_kmeans

# Worker code (mapInPandas kernels, UDTF and Data Source classes, state
# functions) is cloudpickled BY REFERENCE by default, which needs this
# package on every worker's sys.path.  Registering the package ships
# every submodule's functions and classes by value instead, so the
# engine runs wherever the driver is launched from.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = ["get_spark", "lloyd_kmeans", "KMeansResult"]

__version__ = "0.1.0"
