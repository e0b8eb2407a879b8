"""Frozen gate lists of the two gate workloads and the output check.

Both lists keep the stable order of ``__spark_entry__.queries()``. They were
sized on a 4-core, 15 GiB host (Spark 4.1.2, local[4]) from one first-call
pass over all 183 gates per scale factor:

``gates_sf0.01`` (construction and scheduling floor): host_pagerank,
network_hops and user_kcore, which fire 13 to 25 Spark jobs while their
DataFrame is built; segment_components and knn_rings, which fire 6 to 16;
and ten light gates across the events, documents, TPC-H, tiling, geometry
and Geobuf families. With more light gates than others, the median gate
call sits among the light ones: it reads the per-gate construction and
scheduling floor, while the total also carries the heavy gates.

``gates_sf0.1`` (data-bound JVM work): the ROADMAP performance targets
(the geodetic trio range_join_geo, knn_geo and nearest_admin_geo, the
segment_components / dedup_clusters connected-components loop and the ANN
family pq_ann_topk, ivf_pruned and ivfpq_topk), the five pip_* gates, and
the data-bound gates prefix_jaccard, self_crossings, colocation and
geobuf_roundtrip / geobuf_roundtrip_3d, whose execute time grows several
fold from sf0.01 to sf0.1. One first-call pass over these 18 gates takes
about 70 s on the sizing host (construction 31 s, of which 17 s are the
two connected-components gates); checking range_join_geo's 1.75M rows adds
about 10 s.

The ``gates_sf0.01`` list is 15 of the 183 gates because every run starts
a fresh session, repeats the list in rounds and checks the outputs, and
the suite of runs must fit the benchmark's time budget on a contended
host. dedup_clusters, minhash_neardup and mad_outliers were measured for
it and dropped: as the first gate of their families in a session they
took 6.8 s, 3.0 s and 2.1 s. knn_geo and pip_large were dropped later:
at sf0.01 their time is execution, not construction (about 1.2 s and
0.9 s of a warm call), and both stay in ``gates_sf0.1``.

Left out of both: zonemap_query, geobuf_files, snapshot_reads,
snapshot_evolve and incremental_neardup, which write to a fixed absolute
path outside the checkout.

The tables under ``data/`` are byte-identical copies of the read-only
testdata tables these gates read; ``expected/`` holds the DuckDB results of
``oracle_sql()`` over them, written by ``freeze_oracle.py``.
"""

from __future__ import annotations

import os
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(BENCH_DIR), "scripts"))

from check_correctness import value_hash  # noqa: E402  (the correctness gate's hash)

GATES = {
    "gates_sf0.01": [
        "host_pagerank", "od_matrix", "network_hops", "user_kcore",
        "cell_dwell", "segment_components", "token_rarity", "event_pivot",
        "customers_no_orders", "top_docs_per_lang", "quadkey_assign",
        "simplify", "knn_rings", "geobuf_roundtrip", "stream_dedup",
    ],
    "gates_sf0.1": [
        "nearest_admin_geo", "prefix_jaccard", "self_crossings", "colocation",
        "pq_ann_topk", "ivf_pruned", "ivfpq_topk", "segment_components",
        "range_join_geo", "pip_concave", "knn_geo", "dedup_clusters",
        "pip_boxes_join", "pip_large", "pip_holes", "pip_boxes_agg",
        "geobuf_roundtrip", "geobuf_roundtrip_3d",
    ],
}

SF = {"gates_sf0.01": "sf0.01", "gates_sf0.1": "sf0.1"}


def data_dir(sf: str) -> str:
    return os.path.join(BENCH_DIR, "data", sf)


def expected_path(sf: str) -> str:
    return os.path.join(BENCH_DIR, "expected", f"{sf}.json")


def fingerprint(pdf) -> dict:
    """Row count, column names and order-insensitive value hash."""
    return {"rows": len(pdf), "columns": sorted(pdf.columns), "hash": value_hash(pdf)}
