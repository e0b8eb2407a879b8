"""spark-submit driver: the north-star deployment shape, for real.

Run the pipeline the way a multi-executor cluster would receive it —
the engine arrives ONLY via ``--py-files`` (this file is copied to a
scratch dir; no repo checkout on sys.path):

    cd /root/repo && python - <<'PY'
    from geobuf_cpp_spark.session import build_pkg_zip
    print(build_pkg_zip("/tmp/engine.zip"))
    PY
    cp scripts/submit_job.py /tmp/ && cd /tmp && \
    /opt/spark/bin/spark-submit --master 'local[8]' \
        --conf spark.sql.codegen.cache.maxEntries=4096 \
        --py-files /tmp/engine.zip /tmp/submit_job.py 20000

The session exists before this script runs, so static settings such as
the codegen class cache size (``session.CODEGEN_CACHE_ENTRIES``, see
SCALING.md) come from ``--conf``.

Prints one JSON line with pages/sec and the PIP match count; exit 0
means the submit path (zip import on driver AND executors, pandas UDFs
resolving from the shipped archive) works end to end.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> int:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 20000

    # Under spark-submit the session already exists and --py-files has
    # placed the zip on the driver's sys.path; import AFTER getOrCreate.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("geobuf-submit-drive")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from geobuf_cpp_spark.session import ship_package
    from geobuf_cpp_spark.operators.pip_join import pip_join
    from geobuf_cpp_spark.sources.pages import (
        generate_admin_polygons,
        pages_dataframe,
    )
    from geobuf_cpp_spark.functions.udfs import extract_encode_features

    # a real spark-submit already shipped the zip; local[k] workers still
    # need addPyFile, and the call is idempotent either way
    ship_package(spark)
    pages = pages_dataframe(spark, n_pages, partitions=16)
    feats = extract_encode_features(pages)
    admin = generate_admin_polygons()
    t0 = time.time()
    n = pip_join(
        feats.select("url", "feature_idx", "lon", "lat", "geobuf"),
        admin, res=8,
    ).count()
    dt = time.time() - t0
    print(json.dumps({
        "submit_drive": True, "pages": n_pages,
        "pip_matches": n, "sec": round(dt, 3),
        "pages_per_sec": round(n_pages / dt, 1),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
