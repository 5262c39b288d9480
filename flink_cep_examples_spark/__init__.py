"""PySpark-native CEP + analytics engine.

A brand-new engine with the query capabilities of the reference
``kosmag/flink-cep-examples`` (Flink CEP / MATCH_RECOGNIZE /
KeyedProcessFunction over a billing event stream), re-expressed
Spark-first:

- one CEP core, three front-ends (Pattern DSL, MATCH_RECOGNIZE subset,
  low-level keyed process), mirroring the reference's architecture where
  the DSL and SQL paths converge on one operator
  (reference: FlinkSqlMatchRecognizeExample.scala:50-68 vs
  FlinkCEPExample.scala:58-74).
- batch execution prefers a *pure DataFrame* compiled plan (window
  functions, whole-stage codegen, no Python in the hot path) whenever the
  pattern class allows; the general path is a vectorized-precompute +
  ``applyInPandas`` NFA; streaming uses ``applyInPandasWithState``.
- north-star extensions: dedup (exact / MinHash-LSH / SimHash / n-gram
  Jaccard), similarity search over embeddings, text analysis, multimodal
  column plumbing — all designed scale-out-first.
"""

__version__ = "0.1.0"

# Every Python worker imports this package when it unpickles an engine
# UDF, which is where the per-task zip re-read has to be cut.
from . import zipimport_guard as _zipimport_guard  # noqa: E402

_zipimport_guard.install()
