"""nbdatatools_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of nosqlbench/nbdatatools.

This is NOT a port of the reference (a Java vector-test-data toolkit); it is a
Spark-first re-expression of its semantics:

- vector facet tables ``(ordinal BIGINT, vector ARRAY<FLOAT>)``
- distance kernels as native Catalyst expressions (no Python in the hot path)
- exact + approximate KNN joins, recall verification
- a predicate system (PNode JSON -> SQL render codec, evaluated by Spark)
- dataset manifests (dataset.yaml profiles/windows) as view factories
- xvec (fvec/ivec/bvec/dvec/svec/mvec) ingest/egress via Arrow
- large-scale training-data extensions: dedup (exact/MinHash-LSH/SimHash),
  similarity search, text analysis, multimodal plumbing, streaming windows.

Reference semantics citations use ``file:line`` paths under /root/reference/.
"""

__version__ = "0.1.0"

from nbdatatools_spark.session import get_spark  # noqa: F401
