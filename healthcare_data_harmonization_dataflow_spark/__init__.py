"""PySpark-native streaming harmonization engine.

A from-scratch re-expression of the capabilities of
GoogleCloudPlatform/healthcare-data-harmonization-dataflow (Apache Beam /
Cloud Dataflow, Java) as an idiomatic PySpark Structured Streaming engine:

* per-record mapping-config transform (Whistle-subset compiler ->
  Catalyst VARIANT expressions, pandas/Arrow UDF fallback)
* three-stage dead-letter error handling (read / mapping / write)
* session-window conversation assembly with stateful turn reordering
* stream-stream tool-call attachment join
* idempotent exactly-once sinks with per-partition lineage
* per-stage metrics (counters + latency distributions)

plus the large-scale training-data operators (dedup, similarity search,
text analysis, multimodal plumbing) a 100 TB transcript pipeline needs.

Nothing here is a port: the reference's DoFn graph is re-thought as
declarative DataFrame plans that Catalyst/Tungsten optimize (predicate
pushdown, whole-stage codegen, AQE), with Python only at the edges.
"""

from ._zipimport_guard import install as _install_zipimport_guard

__version__ = "0.1.0"

# Python workers re-read every zip on sys.path before each task unless the
# zip directory cache is stat-guarded (see _zipimport_guard); importing the
# package is the one hook every engine UDF passes through in a worker.
_install_zipimport_guard()
