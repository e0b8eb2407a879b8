"""geobuf_cpp_spark — a PySpark-native spatial analytics engine.

Capabilities modeled on district10/geobuf-cpp (Geobuf codec, GeoJSON data
model) re-expressed Spark-first, plus the spatial-join / tiling / kNN query
surface and web-scale training-data operators (dedup, similarity search,
text analysis) the engine serves at cluster scale.
"""

import sys

__version__ = "0.1.0"

# Inside a PySpark worker (its task setup has imported SparkFiles and set
# the flag), stop the per-task re-read of unchanged py-file zips; the
# codec and the CLI never import pyspark for this.
_files = sys.modules.get("pyspark.core.files")
if _files is not None and _files.SparkFiles._is_running_on_worker:
    from geobuf_cpp_spark import _zipstamp

    _zipstamp.install()
del _files
