"""Geobuf FILE sink: one .pbf FeatureCollection per spatial prefix.

The inverse of ``readers.read_geobuf_dir`` — gives downstream consumers of
the reference CLI's file format (one geobuf document per file,
pybind11_geobuf __main__.py json2geobuf) a distributed writer:

1. features hash-shuffle on their coarse cell prefix (spatially-near rows
   co-locate, same layout contract as ``plans.partitioning
   .materialize_geobuf``);
2. each (prefix) group encodes ONE FeatureCollection — shared keys table,
   shared precision header, exactly like the reference's
   writeFeatureCollection (geobuf.cpp:374-384) — and writes
   ``<out_dir>/cell_<prefix>.pbf``;
3. the returned DataFrame is the write manifest (path, prefix,
   n_features, n_bytes) — collect it for lineage, join it for audits.

Executors write to ``out_dir`` directly, so the directory must be on a
filesystem every executor mounts (local[*] here; NFS/object-store FUSE on
a cluster — for pure object stores, swap the ``open`` for the store's
client; the plan shape is unchanged).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codec import geobuf as gb
from ..functions.cells import sql_cell, sql_cell_parent
from ..functions.udfs import _row_features

MANIFEST_SCHEMA = "path string, cell_prefix long, n_features long, n_bytes long"


def write_geobuf_files(features_df, out_dir: str, res: int,
                       max_precision: int) -> DataFrame:
    """features(lon, lat, geom, properties, ...) -> .pbf files + manifest."""
    os.makedirs(out_dir, exist_ok=True)

    with_prefix = features_df.withColumn(
        "cell_prefix",
        F.expr(sql_cell_parent(sql_cell("lat", "lon", res), res, 3)),
    )

    def write_group(pdf: pd.DataFrame) -> pd.DataFrame:
        prefix = int(pdf["cell_prefix"].iloc[0])
        feats = list(_row_features(pdf))
        blob = gb.Encoder(max_precision=max_precision).encode(
            {"type": "FeatureCollection", "features": feats}
        )
        path = os.path.join(out_dir, f"cell_{prefix}.pbf")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)  # readers never observe a torn file
        return pd.DataFrame(
            {
                "path": [path],
                "cell_prefix": [prefix],
                "n_features": [len(feats)],
                "n_bytes": [len(blob)],
            }
        )

    from ..plans.partitioning import spread_groups

    return (
        spread_groups(
            with_prefix.select("cell_prefix", "geom", "properties"),
            "cell_prefix",
        )
        .groupBy("cell_prefix")
        .applyInPandas(write_group, MANIFEST_SCHEMA)
    )
